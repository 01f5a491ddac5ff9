"""Static lookup tables, loaded as small Spark DataFrames for broadcast joins.

These CSVs are factual data tables (variable dictionary, SI unit factors,
vertical-coordinate classification rules, level-kind properties, thermo
constants) mirrored from the reference's ``fstpy/csv/`` assets
(/root/reference/fstpy/csv/, LGPL-3). They are *data*, not code; the loading
and join machinery here is new, Spark-first.

Reference load sites for parity: __init__.py:137-304 (module-level pandas
frames), std_dec.py:146-167 (stdvar join), unit.py:15-227 (units),
std_vgrid.py:594-627 (vctypes).

At scale every join against these tables must be a broadcast join — they
are tiny (≤1k rows) and used per-record.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fstd2pandas_spark.memo import session_memo

_DIR = os.path.dirname(os.path.abspath(__file__))

_UNITS_SCHEMA = T.StructType([
    T.StructField("name", T.StringType()),
    T.StructField("symbol", T.StringType()),
    T.StructField("expression", T.StringType()),
    T.StructField("bias", T.DoubleType()),
    T.StructField("factor", T.DoubleType()),
    T.StructField("mass", T.IntegerType()),
    T.StructField("length", T.IntegerType()),
    T.StructField("time", T.IntegerType()),
    T.StructField("electricCurrent", T.IntegerType()),
    T.StructField("temperature", T.IntegerType()),
    T.StructField("amountOfSubstance", T.IntegerType()),
    T.StructField("luminousIntensity", T.IntegerType()),
])

_STDVAR_SCHEMA = T.StructType([
    T.StructField("nomvar", T.StringType()),
    T.StructField("description_fr", T.StringType()),
    T.StructField("description_en", T.StringType()),
    T.StructField("unit", T.StringType()),
])

_VCTYPES_SCHEMA = T.StructType([
    T.StructField("ip1_kind", T.IntegerType()),
    T.StructField("toctoc", T.BooleanType()),
    T.StructField("P0", T.BooleanType()),
    T.StructField("E1", T.BooleanType()),
    T.StructField("PT", T.BooleanType()),
    T.StructField("HY", T.BooleanType()),
    T.StructField("SF", T.BooleanType()),
    T.StructField("vcode", T.IntegerType()),
    T.StructField("vctype", T.StringType()),
])

_STATIONS_SCHEMA = T.StructType([
    T.StructField("station_id", T.IntegerType()),
    T.StructField("alpha_id", T.StringType()),
    T.StructField("name", T.StringType()),
    T.StructField("latitude", T.DoubleType()),
    T.StructField("longitude", T.DoubleType()),
    T.StructField("elevation", T.IntegerType()),
    T.StructField("timezone", T.StringType()),
])

_LEVELTYPE_SCHEMA = T.StructType([
    T.StructField("label", T.StringType()),
    T.StructField("kind", T.IntegerType()),
    T.StructField("follow_topography", T.IntegerType()),
    T.StructField("surface", T.StringType()),
])


def _read(spark: SparkSession, name: str, schema: T.StructType) -> DataFrame:
    return (
        spark.read.schema(schema)
        .option("header", "true")
        .csv(os.path.join(_DIR, name))
    )


def _cached(key: str) -> DataFrame:
    """The lookup frame ``key``, loaded (and cached) once per Spark
    context: a stopped and relaunched session reloads the kilobyte CSV
    instead of joining against a frame of the dead context."""
    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    return session_memo(("lookup", key), lambda: _load(spark, key))


def _load(spark: SparkSession, key: str) -> DataFrame:
    if key == "units":
        return _read(spark, "units.csv", _UNITS_SCHEMA).cache()
    if key == "stdvar":
        return _read(spark, "stdvar.csv", _STDVAR_SCHEMA).cache()
    if key == "vctypes":
        df = _read(spark, "verticalcoordinatetypes.csv", _VCTYPES_SCHEMA)
        return df.cache()
    if key == "leveltype":
        return _read(spark, "leveltype.csv", _LEVELTYPE_SCHEMA).cache()
    if key == "stations":
        return _read(spark, "stationsfb.csv", _STATIONS_SCHEMA).cache()
    if key == "thermo":
        spark_df = (
            spark.read.option("header", "true")
            .schema(T.StructType([
                T.StructField("name", T.StringType()),
                T.StructField("value", T.DoubleType()),
            ]))
            .csv(os.path.join(_DIR, "thermo_constants.csv"))
            .withColumn("name", F.regexp_replace("name", "'", ""))
        )
        return spark_df.cache()
    raise KeyError(key)


def units_df() -> DataFrame:
    """SI unit table: affine (bias, factor) per unit + dimensional exponents."""
    return _cached("units")


def stdvar_df() -> DataFrame:
    """Variable dictionary: nomvar -> (description, unit)."""
    return _cached("stdvar")


def vctypes_df() -> DataFrame:
    """Vertical-coordinate classification rules (8-key equality match)."""
    return _cached("vctypes")


def leveltype_df() -> DataFrame:
    """Level-kind properties (follow_topography, surface level values)."""
    return _cached("leveltype")


def stations_df() -> DataFrame:
    """Forecast-bulletin station registry (J9; reference STATIONSFB,
    __init__.py:161-168) — representative subset with the same shape:
    id, alpha id, name, lat/lon, elevation, IANA timezone for C14
    timezone shifts. Broadcast-join on station_id or alpha_id."""
    return _cached("stations")


def thermo_df() -> DataFrame:
    """Thermodynamic constants (name -> value)."""
    return _cached("thermo")


def get_unit_row(unit_name: str) -> dict:
    """Driver-side point lookup of one unit (falls back to 'scalar').

    Mirrors get_unit_by_name (__init__.py:307-323). Used for scalar
    conversion-factor planning only — never in a per-row hot path.
    """
    rows = units_df().filter(F.col("name") == unit_name).collect()
    if not rows:
        rows = units_df().filter(F.col("name") == "scalar").collect()
    if not rows:
        return {"name": "scalar", "expression": "unitless", "bias": 0.0, "factor": 1.0}
    return rows[0].asDict()
