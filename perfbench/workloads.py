"""The benchmark's workloads. Each is a closed loop with one client: a
round runs the workload's operations one after another, each timed from
DataFrame build to a fully evaluated result on the driver, then checked
against the generator's reference outside the timed region.

An operation that raises or returns a wrong value is a failed operation.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench import check, gen
from perfbench.trace import Tracer, job_counters, plan_seconds


@dataclass
class OpResult:
    name: str
    seconds: float
    problems: "list[str]"
    layer: dict = field(default_factory=dict)


class Runner:
    """Runs one operation: ``build`` returns a DataFrame, ``finish``
    evaluates it on the driver, ``verify`` checks the evaluated result
    after the timer stops. With tracing on, the build, Catalyst planning
    and execution each get a span, and the status-store counters of the
    operation's jobs are attached to the operation's span."""

    def __init__(self, spark, tracer: Tracer, tag: str):
        self.spark = spark
        self.tracer = tracer
        self.tag = tag      # makes this runner's job groups unique
        self.n = 0

    def run(self, name: str, build, finish, verify) -> OpResult:
        T = self.tracer
        self.n += 1
        group = f"{self.tag}-op{self.n}-{name}"
        self.spark.sparkContext.setJobGroup(group, name)
        layer: dict = {}
        t0 = time.perf_counter()
        try:
            with T.span(f"op.{name}", new_op=True) as op_span:
                with T.span("build") as b:
                    out = build()
                if T.enabled:
                    with T.span("catalyst.plan"):
                        layer["plan_s"] = plan_seconds(out)
                with T.span("engine.collect") as e:
                    result = finish(out)
            seconds = time.perf_counter() - t0
        except Exception as exc:  # the engine's failure is the op's outcome
            first = (str(exc).strip().splitlines() or [""])[0]
            return OpResult(name, time.perf_counter() - t0,
                            [f"{name} raised {type(exc).__name__}: "
                             f"{first[:200]}"])
        if T.enabled:
            layer.update(build_s=b.dur, exec_s=e.dur,
                         **job_counters(self.spark, group))
            if hasattr(result, "num_rows"):
                layer["rows_out"] = result.num_rows
            op_span.counters = dict(layer)
        return OpResult(name, seconds, verify(result), layer)


def _reader(root: str, **kw):
    from fstd2pandas_spark import StandardFileReader

    return StandardFileReader(root, **kw).to_spark()


def _span_reader(T: Tracer, root: str, **kw):
    with T.span("sources.StandardFileReader"):
        return _reader(root, **kw)


def _expect_all(arch: gen.Archive, tol_scale: float = 1.0
                ) -> "dict[tuple, check.Expect]":
    return {r.key: check.Expect(r.truth.astype("float64"), r.tol * tol_scale)
            for r in arch.records}


def _arrow(df):
    return df.toArrow()


def _noop_scan(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _codec_rates(arch: gen.Archive, sample: int = 8) -> dict:
    """Driver-side codec throughput on up to ``sample`` compressed
    records: MB of float32 field per second, encode and decode."""
    from fstd2pandas_spark.sources import turbo_codec

    recs = [r for r in arch.records if r.tol > 0][:sample]
    if not recs:
        return {}
    mb = sum(r.truth.nbytes for r in recs) / 1e6
    t0 = time.perf_counter()
    words = [turbo_codec.compress_payload(
        r.truth, r.meta["ni"], r.meta["nj"], 1, 134, gen.COMPRESSED_NBITS)
        for r in recs]
    t1 = time.perf_counter()
    for r, w in zip(recs, words):
        turbo_codec.decompress_payload(w, r.meta["ni"], r.meta["nj"], 1,
                                       134, gen.COMPRESSED_NBITS)
    t2 = time.perf_counter()
    return {"codec.encode_mb_per_s": mb / (t1 - t0),
            "codec.decode_mb_per_s": mb / (t2 - t1)}


class Workload:
    name = ""
    #: operation names whose per-operation layer numbers are reported
    layered_ops: "tuple[str, ...]" = ()

    def __init__(self, spark, base: str, seed: int):
        self.spark = spark
        self.base = base
        self.seed = seed

    def input_dir(self, i: int) -> str:
        return os.path.join(self.base, f"inputs{i}")

    def prepare(self, i: int) -> None:
        """Generate the inputs into ``input_dir(i)`` (set-up)."""
        raise NotImplementedError

    def round(self, r: int, run: Runner) -> "list[OpResult]":
        raise NotImplementedError

    def layer_probe(self, T: Tracer) -> dict:
        """Per-layer numbers measured outside the rounds (trace runs)."""
        return {}

    def layer_metrics(self, traced: "list[list[OpResult]]") -> dict:
        """Per-layer numbers from the traced rounds: medians of each
        layered operation's fields, and of the status-store totals per
        round."""
        out = {}
        for op in self.layered_ops:
            for k in OP_FIELDS:
                out[f"{op}.{k}"] = median([o.layer.get(k) for o in
                                           _ops(traced, op)])
        for k in ENGINE_FIELDS:
            out[f"engine.{k}"] = median([sum(o.layer.get(k, 0) for o in rnd)
                                         for rnd in traced])
        return out


#: per-operation fields a traced round records
OP_FIELDS = ("build_s", "plan_s", "exec_s", "shuffle_mb", "spill_mb",
             "rows_out")
#: status-store counters summed per round
ENGINE_FIELDS = ("jobs", "tasks", "executor_run_s", "gc_s", "shuffle_mb",
                 "spill_mb")


def median(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(np.median(xs)) if xs else 0.0


def _ops(traced: "list[list[OpResult]]", name: "str | None" = None):
    return [o for rnd in traced for o in rnd if name in (None, o.name)]


def tail(values: "list[float]") -> "tuple[float, float]":
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum (100) when there are ten or fewer."""
    v = sorted(values)
    n = len(v)
    if n <= 10:
        return v[-1], 100.0
    return v[n - 11], 100.0 * (n - 10) / n


class FstArchive(Workload):
    """The FST sources both ways, each half on its own inputs. A model
    archive read, computed on and written back: ``fststat``,
    ``unit_convert`` and a ``StandardFileWriter`` dump to XDF read back
    (payload scan, per-record kernels, the writer). Then a seeded query
    mix over a catalog of many tiny records (directory reads, pushdown,
    decode expressions and driver planning)."""
    name = "fst_archive"
    layered_ops = ("stats", "units")
    SIZE = dict(grids=4, ni=12, nj=12, nlev=12)
    CATALOG_SIZE = dict(files=4, per_file=1000)

    def prepare(self, i: int) -> None:
        root = os.path.join(self.input_dir(i), "archive")
        self.arch = gen.fst_archive(root, self.seed, **self.SIZE)
        # a dump re-encodes decoded 134/16 values: one more quantization
        self.back = _expect_all(self.arch, tol_scale=2.0)
        self.payload_mb = sum(r.truth.size * 4
                              for r in self.arch.records) / 1e6
        # celsius variables gain 273.15; typvar stays as read (the
        # unit_converted flag is a column, NOTES.md ledger entry 7)
        kelvin = {}
        for key, exp in _expect_all(self.arch).items():
            if key[0] in ("TT", "ES"):
                exp = check.Expect(
                    exp.values + 273.15,
                    exp.tol + 2.0 ** -22 * float(np.abs(exp.values).max()
                                                 + 273.15))
            kelvin[key] = exp
        self.kelvin = kelvin

        root = os.path.join(self.input_dir(i), "catalog")
        self.cat = gen.catalog_archive(root, self.seed, **self.CATALOG_SIZE)
        m = self.cat.records
        self.cols = {k: np.array([r.meta[k] for r in m])
                     for k in ("nomvar", "etiket", "ip2", "ip3")}
        self.cols["level"] = np.array([r.level for r in m])
        self.by_id = {r.meta["ip3"]: r for r in m}
        self.n_records = len(m)

    def round(self, r: int, run: Runner) -> "list[OpResult]":
        return self._compute(run) + self._queries(run)

    def _compute(self, run: Runner) -> "list[OpResult]":
        from fstd2pandas_spark.operators.stats import fststat
        from fstd2pandas_spark.operators.units import unit_convert

        T, root = run.tracer, self.arch.root

        def stats():
            df = _span_reader(T, root)
            with T.span("operators.stats.fststat"):
                return fststat(df)

        def units():
            df = _span_reader(T, root)
            with T.span("operators.units.unit_convert"):
                return unit_convert(df, "kelvin")

        out_dir = os.path.join(self.base, "dump")
        state: dict = {}

        def dump():
            from fstd2pandas_spark import StandardFileWriter

            df = _span_reader(T, root)
            with T.span("sources.writer.StandardFileWriter") as s:
                StandardFileWriter(out_dir, df, mode="dump", overwrite=True,
                                   container="xdf").to_fst()
            state["write_s"] = s.dur if s is not None else 0.0
            return _span_reader(T, out_dir)

        ops = [
            run.run("stats", stats, _arrow,
                    lambda tab: check.check_stats(tab, self.arch.records)),
            run.run("units", units, _arrow,
                    lambda tab: check.check_records(tab, self.kelvin,
                                                    "units")),
            run.run("dump", dump, _arrow,
                    lambda tab: check.check_records(tab, self.back, "dump")),
        ]
        if T.enabled and not ops[-1].problems:
            files = [os.path.join(out_dir, f) for f in os.listdir(out_dir)
                     if not f.startswith((".", "_"))]
            nbytes = sum(os.path.getsize(p) for p in files)
            ops[-1].layer.update({
                "writer.s": state["write_s"],
                "writer.mb_per_s": self.payload_mb / state["write_s"],
                "writer.bytes_per_payload_byte":
                    nbytes / (self.payload_mb * 1e6),
                "writer.files": len(files)})
        return ops

    def _ids(self, mask) -> "set[int]":
        return set(self.cols["ip3"][mask].tolist())

    def queries(self) -> list:
        """The query mix, the same every round: (name, reader kwargs,
        expected ids, terminal) with parameters drawn from the seed."""
        rng = np.random.default_rng([self.seed, 1])
        c = self.cols
        v, w = rng.choice(gen.CATALOG_VARS, 2, replace=False)
        run = str(rng.choice(gen.CATALOG_RUNS))
        h = int(rng.integers(1, 13))
        p = float(rng.choice([850.0, 500.0, 250.0]))
        prefix = run[:2]
        nom, et, hour = c["nomvar"] == v, c["etiket"], c["ip2"] == h
        return [
            ("pushdown", dict(query=f"etiket LIKE '{prefix}%' and nomvar IN "
                                    f"('{v}', '{w}') and ip2 == {h}",
                              with_data=False),
             self._ids(np.char.startswith(et.astype(str), prefix)
                       & np.isin(c["nomvar"], [v, w]) & hour), "ids"),
            ("level", dict(query=f"level >= {p} and nomvar == '{v}'",
                           decode_metadata=True, with_data=False),
             self._ids((c["level"] >= p) & nom), "ids"),
            ("voir", dict(query=f"nomvar == '{v}' and ip2 == {h}",
                          with_data=False),
             self._ids(nom & hour), "voir"),
            ("pandas", dict(query=f"nomvar == '{v}' and ip2 == {h} and "
                                  f"etiket == '{run}'"),
             self._ids(nom & hour & (et == run)), "pandas"),
        ]

    def _queries(self, run: Runner) -> "list[OpResult]":
        """The catalog queries; each operation is named ``query.<name>``."""
        from fstd2pandas_spark.operators.stats import voir

        T, root = run.tracer, self.cat.root
        res = []
        for name, kw, want, kind in self.queries():
            name = f"query.{name}"

            def build(kw=kw, kind=kind):
                df = _span_reader(T, root, **kw)
                if kind == "voir":
                    with T.span("operators.stats.voir"):
                        return voir(df)
                if kind == "ids":
                    return df.select("ip3")
                return df

            if kind == "pandas":
                def finish(df):
                    return df.toPandas()

                def verify(pdf, want=want, name=name):
                    probs = check.check_ids(pdf["ip3"].tolist(), want, name)
                    for ip3, d in zip(pdf["ip3"], pdf["d"]):
                        ref = self.by_id.get(ip3)
                        if ref is not None and not np.array_equal(
                                np.asarray(d, dtype="float32"), ref.truth):
                            probs.append(f"{name}: values of {ip3} differ")
                            break
                    return probs
            else:
                finish = _arrow

                def verify(tab, want=want, name=name, kind=kind):
                    probs = check.check_ids(tab.column("ip3").to_pylist(),
                                            want, name)
                    if kind == "voir":
                        probs += check.check_order(
                            tab.column("level").to_pylist(),
                            tab.column("nomvar").to_pylist(), name)
                    return probs
            op = run.run(name, build, finish, verify)
            op.layer["returned"] = len(want)
            res.append(op)
        return res

    def layer_metrics(self, traced) -> dict:
        out = super().layer_metrics(traced)
        dumps = _ops(traced, "dump")
        for k in ("writer.s", "writer.mb_per_s",
                  "writer.bytes_per_payload_byte", "writer.files"):
            out[k] = median([o.layer.get(k) for o in dumps])
        queries = [o for o in _ops(traced) if o.name.startswith("query.")]
        lat = [o.seconds for o in queries]
        out["query.p50_s"] = median(lat)
        out["query.tail_s"], out["query.tail_pct"] = tail(lat)
        out["sources.examined_per_returned"] = median(
            [self.n_records / max(o.layer["returned"], 1) for o in queries])
        out["sources.tasks"] = median([o.layer.get("tasks") for o in queries])
        return out

    def layer_probe(self, T: Tracer) -> dict:
        from fstd2pandas_spark.functions.meta import with_decoded_columns

        out = _codec_rates(self.arch)
        with T.span("sources.scan") as s:
            _noop_scan(_reader(self.arch.root))
        out["sources.scan_s"] = s.dur
        out["sources.scan_mb_per_s"] = self.arch.nbytes / 1e6 / s.dur

        root = self.cat.root
        with T.span("sources.directory") as s:
            n = _reader(root, with_data=False).count()
        if n != self.n_records:
            raise RuntimeError(f"directory scan counted {n} records, "
                               f"expected {self.n_records}")
        out["sources.dir_s"] = s.dur
        with T.span("sources.directory_plain") as plain:
            _noop_scan(_reader(root, with_data=False))
        with T.span("functions.meta.with_decoded_columns") as dec:
            _noop_scan(with_decoded_columns(_reader(root, with_data=False)))
        out["meta.decode_s"] = max(dec.dur - plain.dur, 0.0)
        return out


class TextDedup(Workload):
    """``operators.llm`` dedup and the iterative component loop over a
    corpus of planted near-duplicate chains; no FST source."""
    name = "text_dedup"
    SIZE = dict(docs=4_000, families=300, chain=8, copies=200)
    #: least share of planted chain links the pipeline must join: a link
    #: is two docs one word apart in 60 (3-shingle Jaccard >= 0.9), and
    #: 4 bands of 3 minhashes miss such a pair with probability
    #: (1 - 0.9**3)**4 < 0.6%
    MIN_RECALL = 0.98

    def prepare(self, i: int) -> None:
        corpus = gen.text_corpus(self.seed, **self.SIZE)
        path = os.path.join(self.input_dir(i), "corpus")
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(path, exist_ok=True)
        pq.write_table(pa.table({"doc_id": corpus.ids,
                                 "text": corpus.texts}),
                       os.path.join(path, "part-0.parquet"))
        self.path = path
        self.corpus = corpus
        fam = np.full(len(corpus.ids), -1, dtype="int64")
        fam[corpus.ids] = corpus.family
        self.family_of = fam       # doc id -> family (-1: unique)
        first = {}
        for doc_id, text in sorted(zip(corpus.ids.tolist(), corpus.texts)):
            first.setdefault(text, doc_id)
        self.kept = set(first.values())   # exact_dedup survivors
        # filled in by the checks of the last lsh / components results
        self.pair_stats: dict = {}
        self.recall = 0.0
        self.components = 0

    def _docs(self):
        return self.spark.read.parquet(self.path)

    def round(self, r: int, run: Runner) -> "list[OpResult]":
        from fstd2pandas_spark.operators.llm.cluster import canonical_docs
        from fstd2pandas_spark.operators.llm.dedup import (
            exact_dedup, lsh_candidate_pairs)

        T = run.tracer
        state: dict = {}

        def stored(key: str, *cols: str):
            """Evaluate the operation's result once, keep it in Spark's
            cache for the next operation, and collect ``cols`` of it."""
            def finish(df):
                state[key] = df.persist()
                return state[key].select(*cols).toArrow()
            return finish

        def exact():
            with T.span("operators.llm.dedup.exact_dedup"):
                ex = exact_dedup(self._docs())
            return self._docs().join(ex.select("doc_id"), "doc_id",
                                     "leftsemi")

        def lsh():
            with T.span("operators.llm.dedup.lsh_candidate_pairs"):
                return lsh_candidate_pairs(state["keep"])

        def components():
            with T.span("operators.llm.cluster.canonical_docs"):
                out = canonical_docs(state["pairs"], state["keep"])
            return out.select("doc_id", "canonical_id")

        ops = []
        try:
            for name, build, finish, verify in (
                    ("exact", exact, stored("keep", "doc_id"),
                     self._verify_exact),
                    ("lsh", lsh, stored("pairs", "doc_a", "doc_b"),
                     self._verify_pairs),
                    ("components", components, _arrow, self._verify_canon)):
                ops.append(run.run(name, build, finish, verify))
                if ops[-1].problems:
                    break
        finally:
            for df in state.values():
                df.unpersist()
        return ops

    def layer_metrics(self, traced) -> dict:
        out = super().layer_metrics(traced)
        comp = _ops(traced, "components")
        out.update(self.pair_stats)
        out.update({
            "dedup.exact_s": median([o.seconds for o in _ops(traced, "exact")]),
            "dedup.lsh_s": median([o.seconds for o in _ops(traced, "lsh")]),
            "dedup.recall": self.recall,
            "cluster.s": median([o.seconds for o in comp]),
            "cluster.jobs": median([o.layer.get("jobs") for o in comp]),
            "cluster.components": self.components})
        return out

    def _verify_exact(self, tab) -> "list[str]":
        return check.check_ids(tab.column("doc_id").to_pylist(), self.kept,
                               "exact_dedup")

    def _verify_pairs(self, tab) -> "list[str]":
        a = tab.column("doc_a").to_numpy()
        b = tab.column("doc_b").to_numpy()
        fa, fb = self.family_of[a], self.family_of[b]
        true = (fa == fb) & (fa >= 0)
        self.pair_stats = {"dedup.candidate_pairs": len(a),
                           "dedup.true_pair_ratio":
                               float(true.mean()) if len(a) else 0.0}
        if not (a < b).all():
            return ["lsh: a pair has doc_a >= doc_b"]
        return []

    def _verify_canon(self, tab) -> "list[str]":
        doc = tab.column("doc_id").to_numpy()
        canon = tab.column("canonical_id").to_numpy()
        probs = check.check_ids(doc.tolist(), self.kept, "canonical_docs")
        if probs:
            return probs
        canon_of = dict(zip(doc.tolist(), canon.tolist()))
        fd, fc = self.family_of[doc], self.family_of[canon]
        merged = canon != doc
        if (merged & ((fd != fc) | (fd < 0))).any():
            probs.append("canonical_docs: docs of different families merged")
        if (canon > doc).any() or any(canon_of.get(c, c) != c
                                      for c in canon.tolist()):
            probs.append("canonical_docs: canonical id is not its "
                         "component's least id")
        links = [(x, y) for x, y in self.corpus.links
                 if x in canon_of and y in canon_of]
        joined = sum(canon_of[x] == canon_of[y] for x, y in links)
        recall = joined / len(links) if links else 1.0
        self.recall = recall
        self.components = len(set(canon.tolist()))
        if recall < self.MIN_RECALL:
            probs.append(f"canonical_docs: joined {recall:.3f} of planted "
                         f"links, expected >= {self.MIN_RECALL}")
        return probs


class KnownDefects(Workload):
    """The archive jobs known to fail (NOTES.md ledger):
    ``apply_mask``, ``QuickPressure``, write-mode rewrite
    (``metadata_cleanup`` + sort) and ``select_with_meta``, each over a
    fresh default load. Not one of the benchmark's timed workloads,
    which run only operations that succeed; run it by name to count
    these as failed operations."""
    name = "known_defects"
    layered_ops = ("mask", "pressure", "metadata", "select")
    SIZE = dict(grids=4, ni=64, nj=64, nlev=20)
    PX_KEY = ("nomvar", "ig1", "ip1", "ip2")

    def prepare(self, i: int) -> None:
        root = os.path.join(self.input_dir(i), "archive")
        self.arch = gen.fst_archive(root, self.seed, **self.SIZE)
        recs = self.arch.records
        masks = {(r.meta["ig1"], r.meta["ip1"], r.meta["ip2"]): r.truth
                 for r in recs if r.meta["typvar"] == "@@"}
        masked = {}
        for r in recs:
            if r.meta["typvar"] == "@@":
                continue
            v = r.truth.astype("float64")
            if r.meta["typvar"] == "P@":
                m = masks[(r.meta["ig1"], r.meta["ip1"], r.meta["ip2"])]
                v = np.where(m != 0, v, np.nan)
            masked[r.key] = check.Expect(v, r.tol)
        self.masked = masked
        self.back = _expect_all(self.arch, tol_scale=2.0)
        meta_nomvars = (">>", "^^", "!!", "P0")
        self.selected = {r.key: check.Expect(r.truth.astype("float64"), r.tol)
                         for r in recs if r.meta["nomvar"] in
                         meta_nomvars + ("TT",)}
        self.pressure = self._pressure_ref(recs, meta_nomvars)

    def _pressure_ref(self, recs, meta_nomvars) -> dict:
        """PX per (grid, forecast hour, level) from the 5005 formula
        ``exp(A + B ln(P0*100/pref))/100`` with the same hour's P0, plus
        the meta records. Tolerance: float32 rounding of A, B, P0 and
        the result, well inside 1e-5 relative."""
        out = {}
        p0 = {(r.meta["ig1"], r.meta["ip2"]): r.truth.astype("float64")
              for r in recs if r.meta["nomvar"] == "P0"}
        tables = {r.meta["ip1"]: r.truth.astype("float64").reshape(-1, 3)
                  for r in recs if r.meta["nomvar"] == "!!"}
        for r in recs:
            m = r.meta
            key = tuple(m[c] for c in self.PX_KEY)
            if m["nomvar"] in meta_nomvars:
                out[key] = check.Expect(r.truth.astype("float64"), r.tol)
            elif m["nomvar"] == "TT":
                cols = tables[m["ig1"]]
                j = int(np.argmin(np.abs(cols[:, 0] - m["ip1"])))
                a, b, pref = cols[j, 1], cols[j, 2], cols[1, 1]
                pres = np.exp(a + b * np.log(p0[(m["ig1"], m["ip2"])]
                                             * 100.0 / pref)) / 100.0
                out[("PX", m["ig1"], m["ip1"], m["ip2"])] = check.Expect(
                    pres, 1e-5 * float(pres.max()))
        return out

    def round(self, r: int, run: Runner) -> "list[OpResult]":
        from fstd2pandas_spark import QuickPressure, StandardFileWriter
        from fstd2pandas_spark.operators.mask import apply_mask
        from fstd2pandas_spark.operators.select import select_with_meta

        T, root = run.tracer, self.arch.root
        out = os.path.join(self.base, "rewrite")

        def mask():
            df = _span_reader(T, root)
            with T.span("operators.mask.apply_mask"):
                return apply_mask(df)

        def pressure():
            df = _span_reader(T, root)
            with T.span("operators.pressure.QuickPressure"):
                return QuickPressure(df).compute()

        def rewrite():
            df = _span_reader(T, root)
            with T.span("sources.writer.StandardFileWriter"):
                StandardFileWriter(out, df, mode="write", overwrite=True,
                                   container="xdf").to_fst()
            return _span_reader(T, out)

        def select():
            df = _span_reader(T, root)
            with T.span("operators.select.select_with_meta"):
                return select_with_meta(df, ["TT"])

        return [
            run.run("mask", mask, _arrow, lambda t: check.check_records(
                t, self.masked, "apply_mask")),
            run.run("pressure", pressure, _arrow, lambda t: check.check_records(
                t, self.pressure, "QuickPressure", self.PX_KEY)),
            run.run("metadata", rewrite, _arrow, lambda t: check.check_records(
                t, self.back, "write-mode rewrite")),
            run.run("select", select, _arrow, lambda t: check.check_records(
                t, self.selected, "select_with_meta")),
        ]


WORKLOADS = {w.name: w for w in (FstArchive, TextDedup, KnownDefects)}
