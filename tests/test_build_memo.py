"""Per-context build memo and the linear fststat.

- ``memo.session_memo`` keys on the context's (applicationId, startTime),
  so a relaunched context never sees the Columns of a stopped one, even
  when CPython hands it the old object's id();
- the decode cascade's second build in a session applies memoized
  Columns in tens of py4j round trips, not thousands;
- the ``fstrec`` source registers once per session;
- fststat binds the NaN probe and the extremes once per record: no
  ``array_min(d)`` / ``array_max(d)`` is left inside a position lambda,
  and the values stay bit-identical to the per-element form;
- a base-column query with ``decode_metadata=True`` still pushes its
  filter into the ``fstrec`` scan;
- unit_convert flags converted rows and keeps their typvar.
"""

import math
import re

import pytest
from pyspark.sql import functions as F

from tests.py4j_trips import count_round_trips


class _FakeContext:
    def __init__(self, app_id, start):
        self.applicationId = app_id
        self.startTime = start


def test_session_memo_separates_contexts_with_same_id(monkeypatch):
    from pyspark import SparkContext

    from fstd2pandas_spark import memo

    monkeypatch.setattr(memo, "_token", None)
    monkeypatch.setattr(memo, "_memo", {})
    ctx = _FakeContext("local-1", 1000)
    monkeypatch.setattr(SparkContext, "_active_spark_context", ctx)
    built = []

    def build():
        built.append(ctx.applicationId)
        return len(built)

    assert memo.session_memo("k", build) == 1
    assert memo.session_memo("k", build) == 1      # memo hit
    # a relaunched context at the SAME object address (same id())
    ctx.applicationId, ctx.startTime = "local-2", 2000
    assert memo.session_memo("k", build) == 2
    assert built == ["local-1", "local-2"]
    # no context: build every time, remember nothing
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    assert memo.session_memo("k", build) == 3
    assert memo.session_memo("k", build) == 4


def test_second_decode_build_is_tens_of_round_trips(spark, records):
    from fstd2pandas_spark.functions.meta import with_decoded_columns

    first = with_decoded_columns(records)
    with count_round_trips() as trips:
        second = with_decoded_columns(records)
    assert trips.n <= 50, trips.n
    assert second.columns == first.columns


def test_fstrec_registered_once_per_session(spark, records, tmp_path,
                                            monkeypatch):
    from pyspark.sql.datasource import DataSourceRegistration

    import fstd2pandas_spark as fst
    from fstd2pandas_spark import memo

    out = str(tmp_path / "recs")
    fst.StandardFileWriter(out, records, mode="dump").to_fst()
    # forget every memoized build: the next load registers afresh
    monkeypatch.setattr(memo, "_memo", {})
    calls = []
    register = DataSourceRegistration.register

    def counting(self, ds):
        calls.append(ds.name())
        return register(self, ds)

    monkeypatch.setattr(DataSourceRegistration, "register", counting)
    n = [fst.StandardFileReader(out, spark=spark).to_spark().count()
         for _ in range(2)]
    assert n == [records.count()] * 2
    assert calls == ["fstrec"]


def _lambda_bodies(plan: str) -> "list[str]":
    """Every ``lambdafunction(...)`` argument list in a plan string."""
    bodies = []
    for m in re.finditer(r"lambdafunction\(", plan):
        depth, i = 1, m.end()
        while depth:
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
        bodies.append(plan[m.end():i - 1])
    return bodies


def test_fststat_extremes_not_inside_lambdas(spark, records):
    from fstd2pandas_spark.operators import fststat

    plan = (fststat(records)._jdf.queryExecution()
            .optimizedPlan().toString())
    bodies = _lambda_bodies(plan)
    assert bodies
    inside = [b for b in bodies if re.search(r"array_m(in|ax)\(d#", b)]
    assert not inside, inside[0][:300]


def _per_element_stats() -> list:
    """fststat's six statistics in their earlier per-element form:
    ``x = array_min(d)`` evaluated inside the position lambda."""
    nan = "exists(d, x -> isnan(cast(x as double)))"
    mean = ("aggregate(d, 0.0D, (acc, x) -> acc + cast(x as double)) "
            "/ size(d)")
    ex2 = ("aggregate(d, 0.0D, (acc, x) -> acc + cast(x as double) * "
           "cast(x as double)) / size(d)")
    nj = "cast(floor(size(d) / ni) as bigint)"

    def pos(pred):
        k = (f"array_min(transform(d, (x, p0) -> CASE WHEN {pred} THEN "
             f"cast(p0 % ni as bigint) * {nj} + floor(p0 / ni) END))")
        return (f"named_struct('i', cast(floor({k} / {nj}) + 1 as int), "
                f"'j', cast({k} % {nj} + 1 as int))")

    def extreme(f):
        return (f"CASE WHEN {nan} THEN cast('NaN' as double) "
                f"ELSE cast({f}(d) as double) END")

    def argpos(f):
        return (f"CASE WHEN {nan} THEN {pos('isnan(cast(x as double))')} "
                f"ELSE {pos(f'x = {f}(d)')} END")

    sql = {"min": extreme("array_min"), "max": extreme("array_max"),
           "mean": mean,
           "std": f"sqrt(greatest({ex2} - ({mean}) * ({mean}), 0.0D))",
           "min_pos": argpos("array_min"), "max_pos": argpos("array_max")}
    return [F.expr(text).alias(name) for name, text in sql.items()]


def _canon(rows) -> "list[str]":
    # repr distinguishes every float bit pattern but NaN payloads
    return sorted(repr(tuple(r)) for r in rows)


def test_fststat_bit_identical_to_per_element_form(spark, records):
    from fstd2pandas_spark.functions.codecs import decode_ip_value
    from fstd2pandas_spark.operators import fststat

    nan = float("nan")
    cases = [
        ([1.0, nan, 0.5, 2.0], 2),
        ([nan, nan], 2),
        ([nan, 3.0, -1.0, nan, 7.0, -1.0], 3),
        ([3.0, 1.0, 2.0, 1.0], 2),
        ([5.0, 1.0, 1.0, 9.0, 9.0, 2.0], 2),
        ([4.0], 1),
        ([-0.0, 0.0, -2.5, 1e-30], 4),
    ]
    base = records.filter(F.col("nomvar") == "TT").first().asDict()
    extra = spark.createDataFrame(
        [tuple(dict(base, d=d, ni=ni, nj=len(d) // ni, ip3=9000 + n)[c]
               for c in records.columns)
         for n, (d, ni) in enumerate(cases)], records.schema)
    df = records.unionByName(extra)
    level = decode_ip_value(F.col("ip1")).cast("float").alias("level")
    got = fststat(df)
    want = df.select("nomvar", "typvar", level, "ip1", "ip2", "ip3",
                     "dateo", "etiket", *_per_element_stats())
    assert got.columns == want.columns
    got_rows, want_rows = _canon(got.collect()), _canon(want.collect())
    assert len(got_rows) == df.count()
    assert got_rows == want_rows
    # the NaN rows really took the NaN branch
    nan_rows = fststat(extra).filter(F.isnan("min")).count()
    assert nan_rows == 3 and math.isnan(
        fststat(extra).filter("ip3 = 9001").first()["max"])


def test_decoded_reader_keeps_base_filter_pushed(spark, records, tmp_path):
    import fstd2pandas_spark as fst

    out = str(tmp_path / "pushed")
    fst.StandardFileWriter(out, records, mode="dump").to_fst()
    query = "nomvar == 'TT' and ip2 == 0"
    plain = fst.StandardFileReader(out, query=query,
                                   spark=spark).to_spark()
    decoded = fst.StandardFileReader(out, query=query, decode_metadata=True,
                                     spark=spark).to_spark()
    key = ["key", "nomvar", "ip1", "ip2"]
    want = sorted(tuple(r) for r in plain.select(*key).collect())
    assert want
    assert sorted(tuple(r) for r in decoded.select(*key).collect()) == want
    plan = decoded._jdf.queryExecution().optimizedPlan().toString()
    assert "fstrec" in plan
    # the whole predicate went into the scan: no Filter re-checks ip2
    filters = [ln for ln in plan.splitlines() if "Filter" in ln]
    assert not [ln for ln in filters if "ip2#" in ln], filters


def test_unit_convert_flags_converted_rows(spark, records):
    from fstd2pandas_spark.functions.meta import with_decoded_columns
    from fstd2pandas_spark.operators import unit_convert

    dec = with_decoded_columns(records).filter(
        F.col("nomvar").isin("TT", "UU"))
    before = {r.key: r for r in dec.collect()}
    out = unit_convert(dec, "kelvin")
    assert out.columns == dec.columns
    rows = out.collect()
    assert rows
    for r in rows:
        src = before[r.key]
        assert r.typvar == src.typvar
        if src.unit == "celsius":
            assert r.unit == "kelvin" and r.unit_converted is True
            assert r.d[0] == pytest.approx(src.d[0] + 273.15, rel=1e-5)
        else:   # knots are not a temperature: passes through
            assert r.unit == src.unit
            assert r.unit_converted == src.unit_converted
            assert r.d == src.d
