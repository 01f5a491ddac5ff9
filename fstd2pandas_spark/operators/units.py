"""Unit conversion (SURVEY §2.8 C17-C19; reference unit.py).

All conversions in the reference's UNITS table reduce to one affine form
through the SI base unit::

    si   = (v + bias_from) * factor_from
    v_to = si / factor_to - bias_to

which reproduces the reference's special-cased temperature family
(celsius: bias 273.15, factor 1; fahrenheit: bias 459.67, factor 5/9;
rankine: bias 0, factor 5/9 — unit.py:15-190) and its
``factor_conversion`` for everything else (unit.py:138-144). Conversion is
only legal within one dimensional family (same ``expression``,
unit.py:215-219).

The per-record conversion is a broadcast join against the UNITS table for
the from/to rows, then one ``transform`` over ``d`` — JVM-side, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fstd2pandas_spark.lookups import units_df, get_unit_row, stdvar_df
from fstd2pandas_spark.memo import session_memo
from fstd2pandas_spark.schema import META_NOMVARS


class UnitConversionError(Exception):
    pass


def converter_columns(from_bias: Column, from_factor: Column,
                      to_bias: Column, to_factor: Column) -> tuple[Column, Column]:
    """(scale, offset) such that ``v_to = v * scale + offset``."""
    scale = from_factor / to_factor
    offset = from_bias * from_factor / to_factor - to_bias
    return scale, offset


def _unit_lookup(name: str, prefix: str) -> DataFrame:
    """The UNITS table keyed on ``name`` with its expression, bias and
    factor as ``_<prefix>expr`` / ``_<prefix>bias`` / ``_<prefix>factor``,
    marked for broadcast."""
    return F.broadcast(units_df().select(
        F.col("name").alias(name),
        F.col("expression").alias(f"_{prefix}expr"),
        F.col("bias").alias(f"_{prefix}bias"),
        F.col("factor").alias(f"_{prefix}factor"),
    ))


def _unit_plan(to_unit_name: str, standard_unit: bool,
               columns: "tuple[str, ...]") -> dict:
    """unit_convert's lookup frames and Columns for an input with
    ``columns``; built once per Spark context and key."""
    plan = {
        "from_units": _unit_lookup("unit", "f"),
        "to_units": _unit_lookup("_to_name", "t"),
    }
    if "unit" not in columns:
        plan["stdvar_unit"] = F.broadcast(
            stdvar_df().select("nomvar", "unit"))
        plan["unit_default"] = F.coalesce(F.col("unit"), F.lit("scalar"))
    if standard_unit:
        plan["target"] = F.broadcast(
            stdvar_df().select("nomvar", F.col("unit").alias("_to_name")))
        plan["target_name"] = F.coalesce(F.col("_to_name"), F.lit("scalar"))
    else:
        plan["target_name"] = F.lit(to_unit_name)

    convertible = (
        ~F.col("nomvar").isin(META_NOMVARS)
        & (F.col("unit") != F.col("_to_name"))
        & (F.col("unit") != "scalar") & (F.col("_to_name") != "scalar")
        & (F.col("_fexpr") == F.col("_texpr"))
        & F.col("_fexpr").isNotNull()
    )
    scale, offset = converter_columns(
        F.col("_fbias"), F.col("_ffactor"), F.col("_tbias"), F.col("_tfactor")
    )
    converted_d = F.transform(
        F.col("d"), lambda x: (x.cast("double") * scale + offset).cast("float")
    )
    changed = {
        "d": converted_d,
        "unit": F.col("_to_name"),
        "unit_converted": F.lit(True),
    }
    # one select over the joined row: every output reads ``convertible``
    # from the input unit, before any column is overwritten
    plan["select"] = [
        F.when(convertible, changed[c]).otherwise(F.col(c)).alias(c)
        if c in changed else F.col(c)
        for c in columns
    ]
    return plan


def unit_convert(df: DataFrame, to_unit_name: str = "scalar",
                 standard_unit: bool = False) -> DataFrame:
    """Convert the data arrays of all records to ``to_unit_name``
    (unit.py:258-313).

    - requires/derives a ``unit`` column (broadcast stdvar join);
    - meta records pass through untouched;
    - rows already in the target unit, or with 'scalar' on either side
      (when not ``standard_unit``), pass through;
    - different dimensional family: error flag per the reference -> here
      those rows pass through unconverted when ``standard_unit`` else the
      caller should validate beforehand (the reference raises driver-side;
      a distributed engine can't raise per-row, so an ``_unit_family_ok``
      check is exposed via :func:`family_mismatch_rows`);
    - on converted rows, sets ``unit`` to the target and, when the input
      has a ``unit_converted`` column (the decoded typvar flag), sets it
      True; ``typvar`` itself stays as read.

    With ``standard_unit=True`` the target is each variable's dictionary
    unit (stdvar join) instead of ``to_unit_name``. The lookup frames and
    Columns are built once per Spark context, target and input columns
    (:func:`~fstd2pandas_spark.memo.session_memo`).
    """
    columns = tuple(df.columns)
    plan = session_memo(
        ("unit_convert", to_unit_name, standard_unit, columns),
        lambda: _unit_plan(to_unit_name, standard_unit, columns))
    if "unit" not in columns:
        df = (df.join(plan["stdvar_unit"], "nomvar", "left")
              .withColumn("unit", plan["unit_default"]))
    out = df.join(plan["from_units"], "unit", "left")
    if standard_unit:
        out = out.join(plan["target"], "nomvar", "left")
    out = (out.withColumn("_to_name", plan["target_name"])
           .join(plan["to_units"], "_to_name", "left"))
    return out.select(*plan["select"])


def family_mismatch_rows(df: DataFrame, to_unit_name: str) -> DataFrame:
    """Rows whose unit family differs from the target's — the reference
    raises UnitConversionError for these (unit.py:215-217); at scale this
    is a validation query the caller runs before converting."""
    to_row = get_unit_row(to_unit_name)
    units = units_df().select(
        F.col("name").alias("unit"), F.col("expression").alias("_expr")
    )
    return (
        df.filter(~F.col("nomvar").isin(META_NOMVARS)
                  | F.col("nomvar").isNull())
        .join(F.broadcast(units), "unit", "left")
        .filter(
            (F.col("unit") != "scalar")
            & (F.col("unit") != to_unit_name)
            & (F.col("_expr") != F.lit(to_row["expression"]))
        )
        .drop("_expr")
    )
