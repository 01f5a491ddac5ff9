"""Per-record statistics + voir display (SURVEY §2.5 A1, §2.6 W1;
reference dataframe_utils.py:117-182).

``fststat`` computes per-row min / max / mean / std (population) and the
1-based (i, j) positions of the first min/max over the flattened field.

Array-position convention: ``d`` is stored flat with ``ni`` fastest
(element (i, j), 1-based, at index (j-1)*ni + (i-1)); min_pos/max_pos
report ``(i, j)`` like the reference's ``np.unravel_index`` over (ni, nj)
(dataframe_utils.py:170-179), with i varying fastest.

Everything is higher-order array functions on the JVM — no UDFs, no
shuffle: a pure map over records.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fstd2pandas_spark.functions.codecs import decode_ip_value
from fstd2pandas_spark.memo import session_memo


def array_stats_columns(d: "Column | str" = "d",
                        ni: "Column | str" = "ni") -> list[Column]:
    """min, max, mean, std, min_pos, max_pos expression list for a flat
    field array. ``d`` / ``ni`` are column NAMES (r18; plain Columns
    still accepted for source compatibility — they must print as a
    bare SQL identifier, which is all any caller ever passed).

    NaN parity (round-15 review): the reference computes ``np.min`` /
    ``np.argmin`` (dataframe_utils.py:170-179) — NaN POISONS them (one
    NaN makes min/max NaN and argmin/argmax point at the FIRST NaN),
    while Spark's array_min/array_max order NaN above every double (so
    min skipped it and max returned NaN only by accident of the
    ordering). A missing-data field must report the same stats here as
    in the reference, so NaN presence is detected once and min/max/
    positions take the numpy branch. mean/std already agree (the
    arithmetic folds propagate NaN in both engines).

    r18: each output column is ONE ``F.expr`` over SQL text instead of
    a Column-DSL tree — the DSL build of these six expressions cost
    ~150 ms of py4j round-trips per call (every lambda, cast and
    arithmetic node is a driver→JVM hop); the text form is six parse
    calls. The expressions are verbatim transcriptions (same HOF
    census — pinned by test_fststat_array_pass_census — and
    value-identical, pinned by the fst_stats oracle gate and
    test_operators).

    min_pos/max_pos are linear in the field size: the NaN probe and
    the extreme are computed once per record, below the position scan,
    and bound to lambda variables that Catalyst cannot inline back
    (bit-identical to the per-element ``x = array_min(d)`` form, pinned
    by test_build_memo)."""
    def _as_ident(c, what: str) -> str:
        # Column back-compat is for bare identifiers ONLY (r19 guard):
        # a composite expression would be silently re-parsed as SQL
        # text with potentially different semantics, so reject it.
        if not isinstance(c, str):
            try:
                c = c._jc.toString()
            except AttributeError:  # e.g. Spark Connect Column
                raise TypeError(
                    f"array_stats_columns: pass {what} as a column NAME "
                    "(str); Column objects are only supported on classic "
                    "PySpark and only for bare identifiers") from None
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)*", c):
            raise TypeError(
                f"array_stats_columns: {what}={c!r} is not a bare column "
                "identifier; pass a plain column name")
        return c

    d = _as_ident(d, "d")
    ni = _as_ident(ni, "ni")
    has_nan = f"exists({d}, x -> isnan(cast(x as double)))"
    nan_lit = "cast('NaN' as double)"
    mn = (f"CASE WHEN {has_nan} THEN {nan_lit} "
          f"ELSE cast(array_min({d}) as double) END")
    mx = (f"CASE WHEN {has_nan} THEN {nan_lit} "
          f"ELSE cast(array_max({d}) as double) END")
    mean = (f"aggregate({d}, 0.0D, (acc, x) -> acc + cast(x as double))"
            f" / size({d})")
    # population std via E[x^2] - E[x]^2 (matches np.std)
    ex2 = (f"aggregate({d}, 0.0D, (acc, x) -> "
           f"acc + cast(x as double) * cast(x as double)) / size({d})")
    std = f"sqrt(greatest({ex2} - ({mean}) * ({mean}), 0.0D))"

    nj = f"cast(floor(size({d}) / {ni}) as bigint)"

    def _lex_argpos(extreme: str) -> str:
        # (i, j) of the matching element FIRST in (i, j)-lexicographic
        # order: np.argmin/argmax flatten the reference's (ni, nj)
        # array C-order — the traversal visits positions in (i, j) lex
        # order (last axis fastest) — so among ties the reference picks
        # the smallest (i, j), while array_position's first-in-flat-
        # storage pick is smallest (j, i) (d is stored ni-fastest).
        # Encoded as ONE long key i0*nj + j0 per matching slot (the lex
        # order linearized) + array_min over longs — a struct-keyed
        # variant measured ~2x slower on the sf0.1 bench (per-element
        # struct boxing); non-matching slots are NULL, which array_min
        # skips. A matching slot is the first NaN when the field has
        # one, else an element equal to the extreme.
        #
        # Linear per record: the NaN probe and the extreme are computed
        # once, bound to s by a transform over a one-element array
        # (Spark SQL's let), and the key to k the same way. Written
        # inline in the position lambda, array_min(d) ran over the
        # whole field again for every element (O(n^2) per record).
        # Catalyst never substitutes a lambda argument into its body,
        # so the bindings survive optimization.
        bound = (f"array(named_struct('nan', {has_nan}, "
                 f"'v', {extreme}({d})))")
        key = (f"array_min(transform({d}, (x, p0) -> "
               f"CASE WHEN (CASE WHEN s.nan THEN isnan(cast(x as double)) "
               f"ELSE x = s.v END) THEN "
               f"cast(p0 % {ni} as bigint) * {nj} + floor(p0 / {ni}) END))")
        return (f"element_at(transform(transform({bound}, s -> {key}), "
                f"k -> named_struct("
                f"'i', cast(floor(k / {nj}) + 1 as int), "
                f"'j', cast(k % {nj} + 1 as int))), 1)")

    pmin = _lex_argpos("array_min")
    pmax = _lex_argpos("array_max")

    return [
        F.expr(mn).alias("min"), F.expr(mx).alias("max"),
        F.expr(mean).alias("mean"), F.expr(std).alias("std"),
        F.expr(pmin).alias("min_pos"), F.expr(pmax).alias("max_pos"),
    ]


def _level() -> Column:
    """The record's decoded ip1 level (float), as ``level``."""
    return decode_ip_value(F.col("ip1")).cast("float").alias("level")


def _fststat_columns() -> list[Column]:
    return [F.col("nomvar"), F.col("typvar"), _level(),
            *[F.col(c) for c in ("ip1", "ip2", "ip3", "dateo", "etiket")],
            *array_stats_columns("d", "ni")]


def fststat(df: DataFrame) -> DataFrame:
    """Summary statistics per record (dataframe_utils.py:147-182).

    Returns the id columns + stats; show()/collect() at the caller's
    discretion (the reference prints). Linear in the field size per
    record (see :func:`array_stats_columns`); the select list is built
    once per Spark context (:func:`~fstd2pandas_spark.memo.session_memo`).
    """
    return df.select(*session_memo("fststat", _fststat_columns))


_VOIR_COLS = ("nomvar", "typvar", "etiket", "ni", "nj", "nk", "dateo",
              "ip1", "ip2", "ip3", "deet", "npas", "datyp", "nbits",
              "grtyp", "ig1", "ig2", "ig3", "ig4")


def _voir_columns() -> "tuple[list[Column], list[Column]]":
    return ([*[F.col(c) for c in _VOIR_COLS], _level()],
            [F.col("nomvar").asc(), F.col("level").desc()])


def voir(df: DataFrame) -> DataFrame:
    """Record listing in the rpn `voir` order: nomvar asc, level desc
    (dataframe_utils.py:117-140). Columns built once per Spark context."""
    cols, order = session_memo("voir", _voir_columns)
    return df.select(*cols).orderBy(*order)
