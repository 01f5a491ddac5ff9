"""Spark Python DataSource V2 for the .fstrec record container
(SURVEY §2.1 S1-S10; reference StandardFileReader/StandardFileWriter).

Usage::

    spark.dataSource.register(FstRecDataSource)
    df = spark.read.format("fstrec").load("/path/to/dir_or_glob")
    df.write.format("fstrec").mode("overwrite").save("/out/dir")

Scale behavior:
- ``partitions()`` plans one Spark task per file (the reference reads
  files sequentially, std_reader.py:84-90 — here N files scan in
  parallel natively), and files larger than
  ``option("split_target_bytes")`` (default 128 MiB; 0 disables) are
  planned as multiple tasks over contiguous directory-index ranges, so
  read parallelism is never capped by the file count — a single
  multi-GB container fans out instead of pinning one core;
- **filter pushdown** (``pushFilters``): equality / null-safe equality /
  range / In / IsNull / IsNotNull / NOT / startswith / endswith /
  contains predicates on metadata columns are evaluated against the
  header directory BEFORE any payload bytes are read — the engine-side
  version of the reference's query-before-data-load (O1,
  std_io.py:44-49). ``etiket LIKE 'R1%'``-class queries (the idiomatic
  run-prefix selection) skip non-matching records' payloads entirely;
- **lazy field data**: with ``option("with_data", "false")`` the reader
  never touches payload extents (column-pruning fast path, O2). Spark's
  Python DataSource API has no projection pushdown hook yet, so the
  option is the explicit contract.
- reads yield Arrow RecordBatches (zero-copy into Spark).

Known upstream issue (pyspark 4.1.2, reproduced with a 20-line toy
Python DataSource — tests/test_sources.py::
test_upstream_pushdown_shares_plan_across_derived_queries): with
Python-reader filter pushdown enabled, EXECUTING a fully-pushed
filtered query derived from a loaded DataFrame and then RE-EXECUTING
the parent DataFrame returns the child's filtered rows — the planned
scan is shared across queries over one load, last planning wins.
Filtered queries themselves are always correct; fresh loads are always
correct. Safe patterns: re-load per logical query (this package's api
facade and every __spark_entry__ gate do), or pass
``option("pushdown", "false")`` on a load that must be shared across
several actions (filters then run engine-side; results identical, the
header-skip fast path is lost). The strict-xfail sentinel test flips
the day a Spark upgrade fixes this, so the warning can be retired.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    EqualNullSafe,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    Not,
    StringContains,
    StringEndsWith,
    StringStartsWith,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

SCHEMA_DDL = (
    "nomvar string, typvar string, etiket string, ni int, nj int, nk int, "
    "dateo bigint, ip1 int, ip2 int, ip3 int, deet int, npas int, "
    "datyp int, nbits int, grtyp string, ig1 int, ig2 int, ig3 int, "
    "ig4 int, datev bigint, grid string, d array<float>, "
    "path string, key bigint"
)


@dataclass
class _FilePartition(InputPartition):
    path: str
    #: intra-file split (round 17): one task per FILE caps read
    #: parallelism at the file count — a single multi-GB container
    #: would occupy one core while the rest of the cluster idles. A
    #: file larger than split_target_bytes is planned as n_splits
    #: contiguous DIRECTORY-INDEX ranges; each task re-reads the (KB-
    #: sized) directory and slices its range. Ranges are contiguous in
    #: the directory, and the writer lays payload extents in directory
    #: order (W3/S6), so each task still reads one sequential byte
    #: span.
    split: int = 0
    n_splits: int = 1


def _list_container_files(path: str) -> "list[str]":
    """Expand path/dir/glob to record containers of either layout:
    .fstrec (the portable container) or real FST/XDF files (sniffed by
    the 'STDR' signature, S8)."""
    from fstd2pandas_spark.sources.fstrec_format import list_fstrec_files
    from fstd2pandas_spark.sources.xdf_format import list_xdf_files

    seen: dict[str, None] = {}
    for p in list_fstrec_files(path) + list_xdf_files(path):
        seen.setdefault(p, None)
    return sorted(seen)


def _container_columns(path: str):
    """Per-file format dispatch for the COLUMNAR scan path (round 18;
    per-record RecordHeader boxing + getattr extraction measured
    ~9 us/record on a metadata-only scan — PLANS.md) ->
    (read_columns, payload_at, verify_cols). ``verify_cols`` (XDF
    only, else None) is the batched record-local primary-key
    verification, run ONCE per chunk; fstrec needs no batch step —
    its directory CRC32 already covers every header byte."""
    from fstd2pandas_spark.sources import fstrec_format, xdf_format

    if xdf_format.maybe_xdf(path):
        def _payload(f, cols, i):
            return xdf_format.read_xdf_payload_at(
                f, int(cols["offset"][i]), int(cols["ni"][i]),
                int(cols["nj"][i]), int(cols["nk"][i]),
                int(cols["datyp"][i]), int(cols["nbits"][i]),
                int(cols["n_floats"][i]), cols["nomvar"][i])
        return (xdf_format.read_xdf_directory_columns, _payload,
                xdf_format.verify_record_keys_cols, "both")

    def _payload(f, cols, i):
        return fstrec_format.read_payload_at(
            f, int(cols["offset"][i]), int(cols["n_floats"][i]),
            cols["nomvar"][i])
    return (fstrec_format.read_directory_columns, _payload, None,
            "right")


#: axis/descriptor records whose grid id is f"{ip1}{ip2}" (the
#: reference's grid-association idiom)
_META_NOMVARS = ("^>", ">>", "^^", "!!", "!!SF")
#: ascii whitespace str.rstrip() strips — the boxed path's decode()
#: semantics, reproduced for the Arrow fast path
_RSTRIP_CHARS = " \t\r\n\x0b\x0c\x1c\x1d\x1e\x1f\x85"


def _strings_to_arrow(arr, trim: str):
    """numpy string column -> Arrow string array at C speed. Both
    container formats hand over RAW space-padded bytes (S dtype); the
    trim mode carries each format's semantics — fstrec right-strips
    (str.rstrip of the boxed decode), XDF strips BOTH sides (librmn
    6-bit fields). Arrow trim measured ~25x cheaper than np.char."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if arr.dtype.kind == "S":
        s = pa.array(np.ascontiguousarray(arr)).cast(pa.string())
        if trim == "both":
            return pc.ascii_trim(s, characters=_RSTRIP_CHARS)
        return pc.ascii_rtrim(s, characters=_RSTRIP_CHARS)
    return pa.array(arr)


def _grid_arrow(cols, trim: str):
    """Vectorized grid id column: f"{ip1}{ip2}" for axis/descriptor
    records, "None" for HY, else f"{ig1}{ig2}" — int->string casts and
    joins in Arrow. Membership tests run on the raw padded bytes
    (value padded to field width), which equals the stripped-string
    test unless a both-sides-stripping (XDF) column carries LEADING
    whitespace — a cheap first-byte sweep detects that and falls back
    to exact decoded comparison."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    nv = cols["nomvar"]
    if nv.dtype.kind == "S":
        w = nv.dtype.itemsize
        decoded = None
        if trim == "both" and len(nv):
            firsts = np.frombuffer(
                np.ascontiguousarray(nv), dtype="uint8").reshape(-1, w)[:, 0]
            if (firsts == 0x20).any():
                decoded = np.char.strip(nv.astype("U"))
        if decoded is not None:
            meta = np.isin(decoded, np.array(_META_NOMVARS))
            hy = decoded == "HY"
        else:
            metas = np.array([s.encode().ljust(w, b" ")
                              for s in _META_NOMVARS], dtype=nv.dtype)
            meta = np.isin(np.ascontiguousarray(nv), metas)
            hy = nv == b"HY".ljust(w, b" ")
    else:
        meta = np.isin(nv, np.array(_META_NOMVARS))
        hy = nv == "HY"

    def _join(a, b):
        return pc.binary_join_element_wise(
            pc.cast(pa.array(a), pa.string()),
            pc.cast(pa.array(b), pa.string()), "")

    return pc.if_else(
        pa.array(meta), _join(cols["ip1"], cols["ip2"]),
        pc.if_else(pa.array(hy), pa.scalar("None"),
                   _join(cols["ig1"], cols["ig2"])))


def _filter_mask(flt: Filter, cols, grid_pa, path: str, n: int,
                 dec_cache: dict, trim: str):
    """One pushed filter -> boolean numpy mask (the vectorized twin of
    the old per-record ``_matches``). String columns stored as padded
    bytes compare against the value PADDED TO FIELD WIDTH with spaces
    (identical ordering to stripped-string comparison for values
    without trailing whitespace — space sorts below every printable);
    values that do not round-trip through padding (trailing
    whitespace) fall back to a decoded-column comparison with exact
    Python semantics."""
    import numpy as np

    if isinstance(flt, Not):
        # header columns are never NULL, so boolean complement IS the
        # SQL NOT of the child predicate here
        return ~_filter_mask(flt.child, cols, grid_pa, path, n,
                             dec_cache, trim)
    col = flt.attribute[0]
    if isinstance(flt, IsNotNull):
        return np.ones(n, dtype=bool)   # header columns are never null
    if isinstance(flt, IsNull):
        return np.zeros(n, dtype=bool)
    if isinstance(flt, EqualNullSafe):
        flt = EqualTo(flt.attribute, flt.value)   # no NULLs: same test
    if col == "path":
        v = flt.value
        ok = (path == v if isinstance(flt, EqualTo)
              else path in flt.value if isinstance(flt, In)
              else path.startswith(v) if isinstance(flt, StringStartsWith)
              else path.endswith(v) if isinstance(flt, StringEndsWith)
              else v in path if isinstance(flt, StringContains)
              else path > v if isinstance(flt, GreaterThan)
              else path >= v if isinstance(flt, GreaterThanOrEqual)
              else path < v if isinstance(flt, LessThan)
              else path <= v)
        return np.full(n, bool(ok))
    if col == "grid":
        import pyarrow as pa
        import pyarrow.compute as pc
        if isinstance(flt, EqualTo):
            m = pc.equal(grid_pa, str(flt.value))
        elif isinstance(flt, In):
            m = pc.is_in(grid_pa,
                         value_set=pa.array([str(v) for v in flt.value]))
        elif isinstance(flt, StringStartsWith):
            m = pc.starts_with(grid_pa, pattern=str(flt.value))
        elif isinstance(flt, StringEndsWith):
            m = pc.ends_with(grid_pa, pattern=str(flt.value))
        elif isinstance(flt, StringContains):
            m = pc.match_substring(grid_pa, pattern=str(flt.value))
        elif isinstance(flt, GreaterThan):
            m = pc.greater(grid_pa, str(flt.value))
        elif isinstance(flt, GreaterThanOrEqual):
            m = pc.greater_equal(grid_pa, str(flt.value))
        elif isinstance(flt, LessThan):
            m = pc.less(grid_pa, str(flt.value))
        else:
            m = pc.less_equal(grid_pa, str(flt.value))
        return m.to_numpy(zero_copy_only=False)

    arr = cols[col]
    if arr.dtype.kind == "S":
        width = arr.dtype.itemsize

        def enc(v):
            s = str(v)
            canon = s.strip() if trim == "both" else s.rstrip()
            if s != canon:
                return None          # not representable padded
            b = s.encode("ascii", "replace")
            return b.ljust(width, b" ") if len(b) <= width else b

        def dec():
            if col not in dec_cache:
                strip = np.char.strip if trim == "both" else np.char.rstrip
                dec_cache[col] = strip(arr.astype("U"))
            return dec_cache[col]

        def clean_col():
            # the padded-bytes compare equals the stripped compare
            # unless a both-sides-stripping (XDF) column carries
            # LEADING whitespace; one cached first-byte sweep decides
            if trim != "both":
                return True
            key = ("__noleading__", col)
            if key not in dec_cache:
                firsts = (np.frombuffer(np.ascontiguousarray(arr),
                                        dtype="uint8")
                          .reshape(-1, width)[:, 0]) if n else \
                    np.zeros(0, dtype="uint8")
                dec_cache[key] = not bool((firsts == 0x20).any())
            return dec_cache[key]

        if isinstance(flt, In):
            pbs = [enc(v) for v in flt.value]
            if any(p is None for p in pbs) or not clean_col():
                target, vals = dec(), [str(v) for v in flt.value]
            else:
                target, vals = arr, pbs
            m = np.zeros(n, dtype=bool)
            for v in vals:
                m |= target == v
            return m
        if isinstance(flt, StringStartsWith):
            v = str(flt.value)
            # prefix test on the STRIPPED value == raw-bytes prefix
            # compare, unless the value itself ends in whitespace
            # (those chars could be padding) or the column carries
            # leading whitespace under both-sides stripping
            if v == v.rstrip() and clean_col():
                vb = v.encode("ascii", "replace")
                if len(vb) > width:
                    return np.zeros(n, dtype=bool)
                mat = (np.frombuffer(np.ascontiguousarray(arr),
                                     dtype="uint8").reshape(-1, width)
                       if n else np.zeros((0, width), dtype="uint8"))
                return (mat[:, :len(vb)]
                        == np.frombuffer(vb, dtype="uint8")).all(axis=1)
            return np.char.startswith(dec(), v)
        if isinstance(flt, StringEndsWith):
            return np.char.endswith(dec(), str(flt.value))
        if isinstance(flt, StringContains):
            return np.char.find(dec(), str(flt.value)) >= 0
        pb = enc(flt.value)
        target, v = ((arr, pb) if pb is not None and clean_col()
                     else (dec(), str(flt.value)))
        if isinstance(flt, EqualTo):
            return target == v
        if isinstance(flt, GreaterThan):
            return target > v
        if isinstance(flt, GreaterThanOrEqual):
            return target >= v
        if isinstance(flt, LessThan):
            return target < v
        return target <= v

    # int columns (incl. the virtual 1-based 'key') and xdf unicode
    if isinstance(flt, EqualTo):
        return arr == flt.value
    if isinstance(flt, In):
        m = np.zeros(n, dtype=bool)
        for v in flt.value:
            m |= arr == v
        return m
    if isinstance(flt, GreaterThan):
        return arr > flt.value
    if isinstance(flt, GreaterThanOrEqual):
        return arr >= flt.value
    if isinstance(flt, LessThan):
        return arr < flt.value
    return arr <= flt.value


class _FstRecReaderBase(DataSourceReader):
    """Scan implementation WITHOUT ``pushFilters`` — Spark refuses to
    initialize any Python reader that overrides ``pushFilters`` when
    ``spark.sql.python.filterPushdown.enabled`` is false, so this base is
    the fallback registered under that conf (filters then run engine-side;
    results identical, header-skip fast path lost)."""

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("fstrec: path required")
        self.with_data = str(options.get("with_data", "true")).lower() != "false"
        self.batch_rows = int(options.get("batch_rows", "2048"))
        #: files above this size are split into multiple tasks
        #: (contiguous directory-index ranges); 0 disables splitting.
        #: Default 128 MiB — measured on a 1 GiB container at local[32]
        #: (round 18, PLANS.md): 155 MiB/s unsplit -> 840 MiB/s at
        #: 128 MiB -> 1.1 GiB/s at 64 MiB (local page-cache plateau);
        #: 128 MiB matches spark.sql.files.maxPartitionBytes' cluster
        #: sweet spot and halves the 100-TB task count vs 64 MiB.
        self.split_target = int(
            options.get("split_target_bytes", str(128 * 1024 * 1024)))
        self.filters: list[Filter] = []

    def partitions(self):
        import os as _os

        files = _list_container_files(self.path)
        if not files:
            raise FileNotFoundError(f"fstrec: no files at {self.path}")
        parts = []
        for p in files:
            n_splits = 1
            if self.split_target > 0:
                try:
                    size = _os.path.getsize(p)
                except OSError:
                    size = 0
                n_splits = max(1, -(-size // self.split_target))
            parts.extend(_FilePartition(p, s, n_splits)
                         for s in range(n_splits))
        return parts

    def read(self, partition: _FilePartition):
        import numpy as np
        import pyarrow as pa

        path = partition.path
        read_columns, payload_at, verify_cols, trim = \
            _container_columns(path)
        cols = read_columns(path)
        total = len(cols["nomvar"])
        lo, hi = 0, total
        if partition.n_splits > 1:
            # this task's contiguous directory-index range; global
            # 1-based keys are preserved via the arange offset
            lo = (total * partition.split) // partition.n_splits
            hi = (total * (partition.split + 1)) // partition.n_splits
        view = {k: v[lo:hi] for k, v in cols.items()}
        view["key"] = np.arange(lo + 1, hi + 1, dtype="int64")
        n = hi - lo
        if not n:
            return
        grid_pa = _grid_arrow(view, trim)
        if self.filters:
            mask = np.ones(n, dtype=bool)
            dec_cache: dict = {}
            for flt in self.filters:
                mask &= _filter_mask(flt, view, grid_pa, path, n,
                                     dec_cache, trim)
            if not mask.all():
                idx = np.nonzero(mask)[0]
                view = {k: v[idx] for k, v in view.items()}
                grid_pa = grid_pa.take(pa.array(idx, pa.int64()))
                n = len(idx)
        if not n:
            return

        int32_cols = ("ni", "nj", "nk", "ip1", "ip2", "ip3", "deet",
                      "npas", "datyp", "nbits", "ig1", "ig2", "ig3", "ig4")
        int64_cols = ("dateo", "datev")
        str_cols = ("nomvar", "typvar", "etiket", "grtyp")
        # whole-selection Arrow conversion once (zero-copy for the
        # int columns already at width; C-speed casts otherwise);
        # per-chunk emission below slices these
        np_i32 = {c: np.ascontiguousarray(view[c], dtype="<i4")
                  for c in int32_cols}
        np_i64 = {c: np.ascontiguousarray(view[c], dtype="<i8")
                  for c in int64_cols}
        pa_str = {c: _strings_to_arrow(view[c], trim)
                  for c in str_cols}

        # chunk by ROWS and by ELEMENT COUNT: Arrow list offsets are
        # int32, so one batch must stay far below 2^31 total floats
        # (2048 rows of ~1M-point operational grids would overflow the
        # offsets and wrap negative). The cap is ALSO the fat-record
        # batch size, and small batches pipeline through the
        # Python-worker Arrow IPC bridge far better than big ones —
        # measured end-to-end on a 1 GiB container, single task
        # (round 18, PLANS.md): 256 MiB batches 155 MiB/s, 16 MiB
        # 235, 4 MiB 314 MiB/s (the JVM consumes batch k while Python
        # assembles k+1). 1M floats = 4 MiB values buffer; typical
        # small-record scans stay batch_rows-bound and are unaffected.
        max_elems = 1024 * 1024
        sizes = view["n_floats"].tolist()
        bounds = [0]
        cur_rows = cur_elems = 0
        for i, sz in enumerate(sizes):
            if cur_rows and (cur_rows >= self.batch_rows
                             or cur_elems + sz > max_elems):
                bounds.append(i)
                cur_rows = cur_elems = 0
            cur_rows += 1
            cur_elems += sz
        bounds.append(n)

        names = ("nomvar", "typvar", "etiket", "ni", "nj", "nk",
                 "dateo", "ip1", "ip2", "ip3", "deet", "npas",
                 "datyp", "nbits", "grtyp", "ig1", "ig2", "ig3",
                 "ig4", "datev", "grid", "d", "path", "key")
        f = open(path, "rb") if self.with_data else None
        try:
            for a, b in zip(bounds[:-1], bounds[1:]):
                m = b - a
                arrays: dict[str, pa.Array] = {}
                for c in str_cols:
                    arrays[c] = pa_str[c].slice(a, m)
                for c in int32_cols:
                    arrays[c] = pa.array(np_i32[c][a:b])
                for c in int64_cols:
                    arrays[c] = pa.array(np_i64[c][a:b])
                arrays["grid"] = grid_pa.slice(a, m)
                arrays["path"] = pa.array([path] * m, pa.string())
                arrays["key"] = pa.array(view["key"][a:b])
                if f is not None:
                    if verify_cols is not None:
                        # one vectorized key-block verification per
                        # chunk; the payload reads below then skip the
                        # per-record verify (same contract, batched)
                        verify_cols(f, view, np.arange(a, b))
                    # zero-copy list column: one concatenated float32
                    # values buffer + int32 offsets (no per-element
                    # Python boxing in the scan hot path)
                    payloads = [
                        np.asarray(payload_at(f, view, i),
                                   dtype=np.float32)
                        for i in range(a, b)
                    ]
                    offsets = np.zeros(m + 1, dtype=np.int32)
                    np.cumsum([p.size for p in payloads], out=offsets[1:])
                    values = (np.concatenate(payloads) if payloads
                              else np.empty(0, dtype=np.float32))
                    arrays["d"] = pa.ListArray.from_arrays(
                        pa.array(offsets, pa.int32()),
                        pa.array(values, pa.float32()))
                else:
                    arrays["d"] = pa.nulls(m, pa.list_(pa.float32()))
                yield pa.RecordBatch.from_arrays(
                    [arrays[c] for c in names], names=list(names))
        finally:
            if f is not None:
                f.close()


class FstRecReader(_FstRecReaderBase):
    """Default reader: header-directory filter pushdown (F1)."""

    #: columns the header directory can actually evaluate — filters on
    #: anything else (notably the payload column 'd') MUST be yielded
    #: back, or Spark drops them assuming the source applied them
    PUSHABLE = frozenset([
        "nomvar", "typvar", "etiket", "ni", "nj", "nk", "dateo", "ip1",
        "ip2", "ip3", "deet", "npas", "datyp", "nbits", "grtyp", "ig1",
        "ig2", "ig3", "ig4", "datev", "grid", "path", "key",
    ])
    #: the string-typed subset: String* filters are only meaningful
    #: (and only generated by Spark) for these
    STR_PUSHABLE = frozenset(
        ["nomvar", "typvar", "etiket", "grtyp", "grid", "path"])

    def _supported(self, f: Filter) -> bool:
        if isinstance(f, Not):
            # header columns are never NULL, so ~mask IS SQL NOT here
            # (no third truth value to lose)
            return self._supported(f.child)
        if not (len(f.attribute) == 1 and f.attribute[0] in self.PUSHABLE):
            return False
        if isinstance(f, (StringStartsWith, StringEndsWith,
                          StringContains)):
            return f.attribute[0] in self.STR_PUSHABLE
        return isinstance(
            f, (EqualTo, EqualNullSafe, In, GreaterThan,
                GreaterThanOrEqual, LessThan, LessThanOrEqual,
                IsNotNull, IsNull))

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Accept every supported metadata filter; Spark re-applies the
        rest (we keep unsupported ones by yielding them back)."""
        for f in filters:
            if self._supported(f):
                self.filters.append(f)
            else:
                yield f


def _stat_ns(path: str) -> int:
    """mtime_ns of one file (separable for tests/alternate stores)."""
    import os as _os

    return _os.stat(path).st_mtime_ns


class FstRecStreamReader(DataSourceStreamReader):
    """Streaming scan: each micro-batch reads the .fstrec files that
    appeared since the last committed offset — forecast-cycle drops
    become a Structured Streaming source (SURVEY §2.10 extension).

    Offsets are a BOUNDED (mtime_ns, path) high-water cursor plus a
    late-file grace set (round 18; pre-r18 offsets carried the full
    accumulated file list — O(all-files-ever) driver work and
    checkpoint JSON on every trigger of a long-running stream). A file
    is consumed per an offset iff its (mtime_ns, path) is at or below
    the high-water mark AND (it is older than the grace window, or
    listed in the offset's grace set). The grace set holds only files
    whose mtime falls inside ``late_file_grace_s`` (default 300 s) of
    the high-water mtime, so the serialized offset is O(files landing
    within one grace window) — independent of total ingested count —
    while a file PUBLISHED after a newer one (the two-phase writer's
    os.replace keeps the temp file's older mtime) is still picked up
    exactly once. Documented boundary (same as Spark's own file source
    with maxFileAge): a file landing with an mtime older than
    high-water − grace is treated as already seen; raise
    ``late_file_grace_s`` for drop zones fed by slow copies that
    preserve mtimes. ``latestOffset`` is a pure function of the
    directory listing, so a restarted query needs no in-process state;
    files must stay in place until their batch commits (they are
    re-listed on replay — the pre-r18 contract too, which embedded
    paths, not bytes)."""

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("fstrec: path required")
        self.with_data = str(options.get("with_data", "true")).lower() != "false"
        self.batch_rows = int(options.get("batch_rows", "2048"))
        # same tuning contract as the batch reader (0 disables splits)
        self.split_target = int(
            options.get("split_target_bytes", str(128 * 1024 * 1024)))
        self.grace_ns = int(
            float(options.get("late_file_grace_s", "300")) * 1_000_000_000)
        #: monotonic floor within this run: a transient empty/short
        #: listing (FS hiccup) must not regress the high-water mark
        self._last_offset: "dict | None" = None
        #: published container files are immutable (the writer's
        #: two-phase commit never rewrites a name), so mtimes are
        #: cached per run — a trigger costs O(listdir + NEW files)
        #: stat calls, not O(all files ever); deleted files simply
        #: drop out of the listing, and a fresh instance (restart)
        #: re-stats once
        self._mtime_cache: "dict[str, int]" = {}

    def _current_files(self) -> list[str]:
        try:
            return _list_container_files(self.path)
        except FileNotFoundError:
            return []

    def _listing(self) -> "list[tuple[int, str]]":
        out = []
        cache = self._mtime_cache
        for p in self._current_files():
            m = cache.get(p)
            if m is None:
                try:
                    m = _stat_ns(p)
                except OSError:
                    continue   # raced a concurrent delete
                cache[p] = m
            out.append((m, p))
        return out

    @staticmethod
    def _consumed(off: dict, mtime_ns: int, path: str) -> bool:
        """Is (mtime_ns, path) covered by ``off``? Offsets are
        self-describing: the grace bound used is the one stamped INTO
        the offset, so changing the option between runs cannot shift
        the meaning of an already-committed checkpoint."""
        if "files" in off:           # legacy pre-r18 full-list offset
            return path in off["files"]
        hw = (off.get("hw_m", -1), off.get("hw_n", ""))
        if (mtime_ns, path) > hw:
            return False
        if mtime_ns < hw[0] - off.get("g", 0):
            return True
        return path in off.get("grace", ())

    def initialOffset(self) -> dict:
        return {"hw_m": -1, "hw_n": "", "g": self.grace_ns, "grace": []}

    def latestOffset(self) -> dict:
        listing = self._listing()
        if not listing:
            return self._last_offset or self.initialOffset()
        hw_m, hw_n = max(listing)
        prev = self._last_offset
        if prev and "files" not in prev and \
                (hw_m, hw_n) < (prev.get("hw_m", -1), prev.get("hw_n", "")):
            return prev              # listing shrank below the floor
        off = {
            "hw_m": hw_m, "hw_n": hw_n, "g": self.grace_ns,
            "grace": sorted(p for m, p in listing
                            if m >= hw_m - self.grace_ns),
        }
        self._last_offset = off
        return off

    def partitions(self, start: dict, end: dict):
        import os as _os

        new = sorted(
            p for m, p in self._listing()
            if self._consumed(end, m, p) and not self._consumed(start, m, p)
        )
        # same intra-file split as the batch reader: a huge
        # forecast-cycle drop must not pin one core for the whole
        # micro-batch (split_target_bytes option honored, 0 disables)
        parts = []
        for p in new:
            n_splits = 1
            if self.split_target > 0:
                try:
                    size = _os.path.getsize(p)
                except OSError:
                    size = 0
                n_splits = max(1, -(-size // self.split_target))
            parts.extend(_FilePartition(p, s, n_splits)
                         for s in range(n_splits))
        return parts

    def read(self, partition: _FilePartition):
        reader = FstRecReader({
            "path": partition.path,
            "with_data": "true" if self.with_data else "false",
            "batch_rows": str(self.batch_rows),
        })
        yield from reader.read(partition)

    def commit(self, end: dict) -> None:
        return None


@dataclass
class _WriteResult(WriterCommitMessage):
    path: str       # final committed name in the output dir
    tmp_path: str   # where the task actually wrote (under _tmp/)
    n: int


class FstRecWriter(DataSourceWriter):
    def __init__(self, options: dict, overwrite: bool):
        import os

        self.path = options.get("path")
        if not self.path:
            raise ValueError("fstrec: path required")
        self.container = str(options.get("container", "fstrec")).lower()
        if self.container not in ("fstrec", "xdf"):
            raise ValueError(f"unknown container {self.container!r}")
        self.overwrite = overwrite
        # Tasks write into <path>/_tmp/ (invisible to the container
        # listers, which never recurse) and commit() renames the
        # committed set into place.  A failed or speculated attempt's
        # file never appears in the output dir, and a failed job leaves
        # the previous contents intact.
        self._old_files: list[str] = []
        if overwrite and self.path and os.path.isdir(self.path):
            self._old_files = _list_container_files(self.path)

    def write(self, rows) -> _WriteResult:
        """One output file per task (the reference's 128-row block writes,
        std_writer.py:139-141, generalize to partition-sized blocks)."""
        import os
        import uuid

        from pyspark import TaskContext

        from fstd2pandas_spark.sources.fstrec_format import write_fstrec
        from fstd2pandas_spark.sources.xdf_format import write_xdf

        tmp_dir = os.path.join(self.path, "_tmp")
        os.makedirs(tmp_dir, exist_ok=True)
        tid = TaskContext.get().partitionId() if TaskContext.get() else 0
        ext = "fst" if self.container == "xdf" else "fstrec"
        name = f"part-{tid:05d}-{uuid.uuid4().hex[:8]}.{ext}"
        writer_fn = write_xdf if self.container == "xdf" else write_fstrec
        tmp = os.path.join(tmp_dir, name)
        # stream rows into the format writer — materializing the whole
        # partition as Python dicts costs ~11x the raw payload bytes
        # (measured, PLANS.md round 18); the writers consume iterables
        n = writer_fn(tmp, (r.asDict() for r in rows))
        if not n:
            # empty partition: drop the empty container, publish nothing
            if os.path.exists(tmp):
                os.remove(tmp)
            return _WriteResult(path="", tmp_path="", n=0)
        return _WriteResult(path=os.path.join(self.path, name),
                            tmp_path=tmp, n=n)

    def commit(self, messages) -> None:
        import os
        import shutil

        # 1) publish: rename each committed task file into the output
        # dir (same filesystem — atomic). Orphans from retried or
        # speculated attempts stay in _tmp/ and are removed below.
        committed = set()
        for m in messages:
            if m and m.path and m.tmp_path:
                os.replace(m.tmp_path, m.path)
                committed.add(m.path)
        # 2) overwrite mode: remove the previous generation.
        for p in self._old_files:
            if p not in committed and os.path.exists(p):
                os.remove(p)
        # 3) drop the scratch dir (and with it any failed-attempt files).
        shutil.rmtree(os.path.join(self.path, "_tmp"), ignore_errors=True)

    def abort(self, messages) -> None:
        import shutil

        shutil.rmtree(os.path.join(self.path, "_tmp"), ignore_errors=True)


class FstRecDataSource(DataSource):
    """format name: ``fstrec``."""

    # register() flips this off when the session forbids Python-reader
    # filter pushdown (spark.sql.python.filterPushdown.enabled=false and
    # not runtime-settable): Spark refuses to even construct a reader
    # that overrides pushFilters under that conf, so we fall back to the
    # same scan without the pushdown hook.
    pushdown = True

    @classmethod
    def name(cls) -> str:
        return "fstrec"

    def schema(self) -> str:
        return SCHEMA_DDL

    def reader(self, schema: StructType) -> _FstRecReaderBase:
        # option("pushdown", "false"): per-load escape from the
        # upstream Spark 4.1 Python-DataSource plan-sharing bug (see
        # the module docstring's "Known upstream issue"): with filter
        # pushdown on, EXECUTING a fully-pushed filtered child query
        # and then RE-EXECUTING its parent DataFrame returns the
        # child's filtered rows. Re-loading per logical query (what
        # this package's own facade and gates do) avoids it; loads
        # that must be shared across several actions can turn the
        # pushdown off here instead.
        opt_on = str(self.options.get("pushdown", "true")).lower() != "false"
        cls = (FstRecReader if FstRecDataSource.pushdown and opt_on
               else _FstRecReaderBase)
        return cls(self.options)

    def streamReader(self, schema: StructType) -> FstRecStreamReader:
        return FstRecStreamReader(self.options)

    def writer(self, schema: StructType, overwrite: bool) -> FstRecWriter:
        # deletion of existing files is deferred to FstRecWriter.commit()
        # so a failed overwrite job never destroys the previous data
        return FstRecWriter(self.options, overwrite)


def register(spark) -> None:
    """Register the ``fstrec`` format.  Spark 4 refuses to initialize a
    Python DataSource reader that defines ``pushFilters()`` when
    ``spark.sql.python.filterPushdown.enabled`` is false, so make sure
    it is on (runtime-settable); if the session has made it static and
    off, degrade to the no-pushdown reader instead of failing the scan.

    The conf check runs on every call; the registration itself runs once
    per session (Spark keeps one data-source registry per session, and
    registering again replaces the entry with a warning in the log)."""
    from fstd2pandas_spark.memo import session_memo

    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        FstRecDataSource.pushdown = True
    except Exception:
        enabled = str(
            spark.conf.get("spark.sql.python.filterPushdown.enabled", "false")
        ).lower() == "true"
        FstRecDataSource.pushdown = enabled
    session_memo(("fstrec", spark._jsparkSession.sessionUUID()),
                 lambda: spark.dataSource.register(FstRecDataSource))
