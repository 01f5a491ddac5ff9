"""Metadata decoders as native Column expressions.

Parity targets (reference file:line):
- grid identifier          std_dec.py:236-264
- etiket parse             std_dec.py:268-323 (4 regex branches)
- typvar flags             dataframe.py:104-139
- data-type string         std_dec.py:105-115 (+ DATYP_DICT)
- is_surface               std_dec.py:191-212
- follows topography       std_dec.py:215-233
- level sort order         std_dec.py:71-85
- interval detection       std_dec.py:44-69 (+ std_io.py:854-871)
- decode cascade add_columns  dataframe.py:582-629 / std_reader.py:33-56

All pure `when`/regexp/bit expressions — JVM-side, SQL-translatable, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fstd2pandas_spark.schema import (
    DATYP_DICT,
    KIND_DICT,
    FOLLOW_TOPOGRAPHY_KINDS,
)
from fstd2pandas_spark.functions.codecs import (
    decode_ip_kind,
    decode_ip_value,
    stamp_to_timestamp,
    forecast_hour_seconds,
)
from fstd2pandas_spark.memo import session_memo


def grid_identifier(nomvar: Column, ip1: Column, ip2: Column,
                    ig1: Column, ig2: Column) -> Column:
    """Grid id: concat(ip1,ip2) for axis/descriptor records, 'None' for HY,
    else concat(ig1,ig2)."""
    nv = F.trim(nomvar)
    return (
        F.when(nv.isin("^>", ">>", "^^", "!!", "!!SF"),
               F.concat(ip1.cast("string"), ip2.cast("string")))
        .when(nv == "HY", F.lit("None"))
        .otherwise(F.concat(ig1.cast("string"), ig2.cast("string")))
    )


# etiket structure: run[2] + label[5|6] + implementation[1] + member[3]?
_RUN = "[RGPEAIMWNC_][0-9RLHMEA_]"
_IMPL = "[NPX]"
_W = "[0-9A-Za-z_]"


def parsed_etiket(etiket: Column) -> Column:
    """Parse etiket -> struct(label, run, implementation, ensemble_member).

    Four anchored patterns tried in the reference's order: CMC without
    ensemble, CMC with ensemble, SPOOKI without ensemble, SPOOKI with
    ensemble; fallback: whole etiket is the label.
    """
    cmc_no_ens = f"^{_RUN}{_W}{{5}}{_IMPL}$"
    cmc_ens = f"^{_RUN}{_W}{{5}}{_IMPL}{_W}{{3}}$"
    spooki_no_ens = f"^{_RUN}{_W}{{6}}{_IMPL}$"
    spooki_ens = f"^{_RUN}{_W}{{6}}{_IMPL}{_W}{{3}}$"

    def _struct(label, run, impl, member):
        return F.struct(
            label.alias("label"), run.alias("run"),
            impl.alias("implementation"), member.alias("ensemble_member"),
        )

    null = F.lit(None).cast("string")
    return (
        F.when(etiket.rlike(cmc_no_ens),
               _struct(etiket.substr(3, 5), etiket.substr(1, 2),
                       etiket.substr(8, 1), null))
        .when(etiket.rlike(cmc_ens),
              _struct(etiket.substr(3, 5), etiket.substr(1, 2),
                      etiket.substr(8, 1), etiket.substr(9, 3)))
        .when(etiket.rlike(spooki_no_ens),
              _struct(etiket.substr(3, 6), etiket.substr(1, 2),
                      etiket.substr(9, 1), null))
        .when(etiket.rlike(spooki_ens),
              _struct(etiket.substr(3, 6), etiket.substr(1, 2),
                      etiket.substr(9, 1), etiket.substr(10, 3)))
        .otherwise(_struct(etiket, null, null, null))
    )


#: typvar 2nd-char modifier -> flag column name (dataframe.py:104-139)
TYPVAR_FLAGS = {
    "M": "multiple_modifications",
    "Z": "zapped",
    "F": "filtered",
    "I": "interpolated",
    "U": "unit_converted",
    "B": "bounded",
    "?": "missing_data",
    "!": "ensemble_extra_info",
}


def typvar_flags(typvar: Column) -> list[Column]:
    """Eight boolean flag columns decoded from the typvar's 2nd char."""
    second = F.when(F.length(typvar) > 1, typvar.substr(2, 1)).otherwise(F.lit(""))
    return [(second == F.lit(ch)).alias(name) for ch, name in TYPVAR_FLAGS.items()]


def _map_expr(d: dict, col: Column, default: str = "") -> Column:
    expr = F.lit(default)
    for k, v in d.items():
        expr = F.when(col == F.lit(k), F.lit(v)).otherwise(expr)
    return expr


def data_type_str(datyp: Column) -> Column:
    """datyp int -> letter alias (DATYP_DICT)."""
    return _map_expr(DATYP_DICT, datyp, "X")


def kind_str(kind: Column) -> Column:
    """kind int -> printable alias; blank for {-1, 3, 15, 17, 100}
    (std_io.py:817-818)."""
    visible = {k: v.strip() for k, v in KIND_DICT.items() if k not in (-1, 3, 15, 17)}
    return F.when(kind.isin(-1, 3, 15, 17, 100), F.lit("")).otherwise(
        _map_expr(visible, kind, "")
    )


def is_surface(kind: Column, level: Column) -> Column:
    """Surface-level test: hybrid/sigma at 1.0, or meters in {0, 0.5, ..., 10}
    (std_dec.py:191-212).

    The level is rounded to 6 dp first: the ip1 mantissa*10^(4-exp)
    decode is inexact in binary (1.0 decodes to 0.999...9), and the
    reference compares against convip's cleaned values — 6 dp is the
    decode grid's own precision (C23 epsilon discipline)."""
    lvl = F.round(level, 6)
    doubled = lvl * 2
    meter_surface = (kind == 4) & (lvl >= 0) & (lvl <= 10) & (doubled == F.floor(doubled))
    return ((kind == 5) & (lvl == 1.0)) | ((kind == 1) & (lvl == 1.0)) | meter_surface


def follows_topography(kind: Column) -> Column:
    """kind in {1, 4, 5} (std_dec.py:215-233)."""
    return kind.isin(*FOLLOW_TOPOGRAPHY_KINDS)


def level_ascending(kind: Column) -> Column:
    """Level sort order per kind (std_dec.py:71-85): ascending for
    {0,3,4,21,100}, descending otherwise."""
    return kind.isin(0, 3, 4, 21, 100)


def interval_struct(nomvar: Column, ip1: Column, ip2: Column, ip3: Column,
                    decoded: "tuple | None" = None) -> Column:
    """Interval detection (std_dec.py:44-69 + std_io.py:854-871).

    When ip3 >= 32768 and its kind matches ip2's (time interval) or ip1's
    (level interval), emit struct(ip, low, high, kind); else NULL. Low/high
    follow the reference's v1/v2 assignment: time interval -> (v1=ip3 value,
    v2=ip2 value); level interval -> (v1=ip1 value, v2=ip3 value).

    ``decoded`` optionally passes the raw ``((k1, v1), (k2, v2), (k3,
    v3))`` kind/value Columns of ip1..ip3 a caller has already built
    (the decode cascade does), so they are not built twice.
    """
    if decoded is None:
        decoded = tuple((decode_ip_kind(ip), decode_ip_value(ip))
                        for ip in (ip1, ip2, ip3))
    (k1, v1), (k2, v2), (k3, v3) = decoded
    special = F.trim(nomvar).isin(">>", "^^", "^>", "!!", "HY", "P0", "PT")
    null = F.lit(None)

    def _mk(ip_name, low, high, kind):
        return F.struct(F.lit(ip_name).alias("ip"), low.alias("low"),
                        high.alias("high"), kind.alias("kind"))

    # ip1 (level interval) is tested FIRST, matching the reference's
    # get_interval order (std_dec.py): when both ip1 and ip2 are >= 32768
    # and both kinds equal ip3's, the level interval wins.
    return (
        F.when(special | (ip3 < 32768), null)
        .when((ip1 >= 32768) & (k3 == k1), _mk("ip1", v1, v3, k1))
        .when((ip2 >= 32768) & (k3 == k2), _mk("ip2", v3, v2, k2))
        .otherwise(null)
    )


def _decode_plan() -> "tuple[list[Column], DataFrame, list]":
    """The decode cascade's pieces: the select list over the record
    table, the broadcast stdvar lookup, and the (name, Column) defaults
    applied to its unit/description after the lookup join."""
    from fstd2pandas_spark.lookups import stdvar_df

    ip1, ip2, ip3 = F.col("ip1"), F.col("ip2"), F.col("ip3")
    nomvar = F.col("nomvar")
    et = parsed_etiket(F.col("etiket"))
    raw = tuple((decode_ip_kind(ip), decode_ip_value(ip))
                for ip in (ip1, ip2, ip3))
    (k1, v1), (k2, v2), (k3, v3) = raw
    # meta/coordinate records decode ips verbatim with pseudo-kind 100
    is_axis = F.trim(nomvar).isin(">>", "^^", "^>", "!!")
    k1 = F.when(is_axis, F.lit(100)).otherwise(k1)
    v1 = F.when(is_axis, ip1.cast("double")).otherwise(v1)
    k2 = F.when(is_axis, F.lit(100)).otherwise(F.when(ip2 < 32768, F.lit(10)).otherwise(k2))
    v2 = F.when(is_axis, ip2.cast("double")).otherwise(v2)
    k3 = F.when(is_axis | (ip3 < 32768), F.lit(100)).otherwise(k3)
    v3 = F.when(is_axis, ip3.cast("double")).otherwise(v3)

    cols = [
        F.col("*"),
        et["label"].alias("label"),
        et["run"].alias("run"),
        et["implementation"].alias("implementation"),
        et["ensemble_member"].alias("ensemble_member"),
        stamp_to_timestamp(F.col("dateo")).alias("date_of_observation"),
        stamp_to_timestamp(F.col("datev")).alias("date_of_validity"),
        forecast_hour_seconds(F.col("deet"), F.col("npas")).alias("forecast_hour"),
        data_type_str(F.col("datyp")).alias("data_type_str"),
        v1.cast("float").alias("level"),
        k1.alias("ip1_kind"),
        kind_str(k1).alias("ip1_pkind"),
        v2.cast("float").alias("ip2_dec"),
        k2.alias("ip2_kind"),
        kind_str(k2).alias("ip2_pkind"),
        v3.cast("float").alias("ip3_dec"),
        k3.alias("ip3_kind"),
        kind_str(k3).alias("ip3_pkind"),
        is_surface(k1, v1).alias("surface"),
        follows_topography(k1).alias("follow_topography"),
        level_ascending(k1).alias("ascending"),
        interval_struct(nomvar, ip1, ip2, ip3, raw).alias("interval"),
        *typvar_flags(F.col("typvar")),
    ]
    lookup = F.broadcast(
        stdvar_df().select(
            "nomvar", "unit", F.col("description_en").alias("description"))
    )
    # variables missing from the dictionary: 'scalar', no description
    defaults = [("unit", F.coalesce(F.col("unit"), F.lit("scalar"))),
                ("description", F.coalesce(F.col("description"), F.lit("")))]
    return cols, lookup, defaults


def with_decoded_columns(df: DataFrame) -> DataFrame:
    """The full decode cascade (reference ``add_columns``,
    dataframe.py:582-629): one `select`, all native expressions, so Catalyst
    folds it into the scan projection.

    Adds: label/run/implementation/ensemble_member, unit/description (via
    broadcast stdvar join), date_of_observation/date_of_validity,
    forecast_hour (seconds), data_type_str, level/ip1_kind/ip1_pkind,
    ip2_dec/ip2_kind/ip2_pkind, ip3_dec/ip3_kind/ip3_pkind, surface,
    follow_topography, ascending, interval, and the 8 typvar flags.

    The select list, the lookup frame and the unit/description Columns
    are built once per Spark context (:func:`~fstd2pandas_spark.memo.
    session_memo`): the Column trees take thousands of py4j round trips
    to build and are the same for every input, so later calls only pay
    for applying them (tens of round trips).
    """
    cols, lookup, defaults = session_memo("with_decoded_columns",
                                          _decode_plan)
    out = df.select(*cols).join(lookup, "nomvar", "left")
    for name, col in defaults:
        out = out.withColumn(name, col)
    return out
