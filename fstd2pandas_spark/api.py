"""User-facing facade mirroring the reference's top-level API
(SURVEY §3.1-3.3; reference std_reader.py:20-113, std_writer.py:30-168):
``StandardFileReader(path, ...).to_pandas()`` in, a Spark-backed engine
underneath. A user of the reference switches by replacing the import —
the constructor keywords keep their reference names and semantics, with
``to_spark()`` added as the scale-native terminal.

Differences a switcher should know:

- ``query`` is a Spark SQL boolean expression. Simple pandas-query
  strings (``"nomvar=='TT'"``, ``"ip2==0 and deet>0"``) parse unchanged;
  the full Spark expression language is a superset.
- the writer writes a *directory* of container files (one per Spark
  partition) rather than one file — the multi-executor layout; pass
  ``container="xdf"`` for real FST/XDF binary files.
- ``to_pandas()`` collects to the driver (the reference's only mode);
  ``to_spark()`` stays distributed and is what every operator in
  :mod:`fstd2pandas_spark.operators` consumes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _active_spark(spark: "SparkSession | None") -> SparkSession:
    if spark is not None:
        return spark
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    from fstd2pandas_spark.session import get_spark

    return get_spark()


class StandardFileReader:
    """Read FST record containers into a record table
    (reference std_reader.py:20-106 ``StandardFileReader``).

    Parameters mirror the reference: ``decode_metadata`` attaches the
    full decoded-column family (C1-C23), ``query`` filters on metadata
    BEFORE payloads load (the reference's read-time pushdown, O1), and
    ``with_data=False`` gives a metadata-only scan (S3/O2).
    """

    def __init__(self, path: str, decode_metadata: bool = False,
                 query: "str | None" = None, with_data: bool = True,
                 spark: "SparkSession | None" = None):
        self.path = path
        self.decode_metadata = decode_metadata
        self.query = query
        self.with_data = with_data
        self._spark = _active_spark(spark)

    def to_spark(self) -> DataFrame:
        """The record table as a (lazy, distributed) Spark DataFrame."""
        from fstd2pandas_spark.sources import register

        register(self._spark)
        reader = self._spark.read.format("fstrec")
        if not self.with_data:
            reader = reader.option("with_data", "false")
        df = reader.load(self.path)
        if self.decode_metadata:
            from fstd2pandas_spark.functions.meta import with_decoded_columns

            df = with_decoded_columns(df)
        if self.query:
            # one filter over the decoded table: a predicate that only
            # touches base columns still reaches the source (Catalyst
            # pushes it below the decode projection and the lookup join
            # into the scan, O1)
            df = df.filter(F.expr(self.query))
        return df

    def to_pandas(self):
        """Collect the record table to pandas (the reference's terminal;
        driver-bound — prefer :meth:`to_spark` at scale)."""
        return self.to_spark().toPandas()


class StandardFileWriter:
    """Write a record table back to containers
    (reference std_writer.py:30-83 ``StandardFileWriter``).

    ``mode``: ``write`` (metadata_cleanup + ordered write), ``update``
    (in-place metadata retag), ``dump`` (raw rows, no cleanup).
    """

    def __init__(self, path: str, df, mode: str = "write",
                 overwrite: bool = True, container: str = "fstrec",
                 partition_by: "list[str] | None" = None,
                 spark: "SparkSession | None" = None):
        if isinstance(df, StandardFileReader):
            df = df.to_spark()
        if not isinstance(df, DataFrame):
            # accept a pandas frame for drop-in parity with the reference
            df = _active_spark(spark).createDataFrame(df)
        self.path = path
        self.df = df
        self.mode = mode
        self.overwrite = overwrite
        self.container = container
        self.partition_by = partition_by

    def to_fst(self) -> None:
        from fstd2pandas_spark.sources import register, write_record_table

        register(self.df.sparkSession)
        write_record_table(self.df, self.path, mode=self.mode,
                           overwrite=self.overwrite,
                           partition_by=self.partition_by,
                           container=self.container)


class QuickPressure:
    """Class shim for the reference's ``QuickPressure(df).compute()``
    (quick_pressure.py:18-83) over the functional
    :func:`~fstd2pandas_spark.operators.pressure.quick_pressure`."""

    def __init__(self, df: DataFrame, standard_atmosphere: bool = False):
        self.df = df
        self.standard_atmosphere = standard_atmosphere

    def compute(self) -> DataFrame:
        from fstd2pandas_spark.operators.pressure import quick_pressure

        return quick_pressure(self.df, self.standard_atmosphere)
