"""Batch sources (SURVEY.md §2b-A).

Reader options flow from the workflow config router (the reference's
config-as-reader-options pattern, ``workflow.py:227-231``): a resource's
config entry becomes ``spark.read`` options verbatim.

Scale notes: every reader here goes through Spark's DataSource V2 scan,
so filter pushdown / column pruning / partition pruning apply whenever
downstream operators are declarative.  Keep paths partitioned
(``.../date=YYYY-MM-DD/``) and let route params select partitions —
that is the engine's signature pushdown move (§2b-B).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

_FORMATS = {"parquet", "csv", "json", "orc", "text"}


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: Optional[str] = None,
    **options: str,
) -> DataFrame:
    """Scan ``path`` with the named format and reader options.

    ``schema`` (DDL string) skips inference — mandatory posture for csv/
    json at scale, where schema inference is a full extra pass over TBs.
    """
    if fmt == "jdbc":
        return spark.read.format("jdbc").options(**options).load()
    if fmt not in _FORMATS:
        raise ValueError(f"Unsupported source format: {fmt!r}")
    reader = spark.read
    if schema:
        reader = reader.schema(schema)
    if options:
        reader = reader.options(**options)
    return getattr(reader, fmt)(path)


def scan_path(spark: SparkSession, base_dir: str, name: str, fmt: str = "parquet", **options) -> DataFrame:
    """Parameterized path scan: a route param picks the dataset
    (``{name:identifier}`` -> ``{base_dir}/{name}.parquet``)."""
    return read_table(spark, f"{base_dir}/{name}.{fmt if fmt != 'text' else 'txt'}", fmt, **options)


def read_parquet_if_present(spark: SparkSession, path: str) -> Optional[DataFrame]:
    """``spark.read.parquet(path)``, or ``None`` while ``path`` is missing
    or holds no entry whose name does not start with ``_`` or ``.`` —
    the state of an optional table before its first write.  The probe
    goes through the path's Hadoop ``FileSystem`` (so remote paths
    work) instead of a failed read, which Spark logs as an analysis
    error with a full stack trace."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath) or not any(
        not st.getPath().getName().startswith(("_", "."))
        for st in fs.listStatus(jpath)
    ):
        return None
    return spark.read.parquet(path)


def normalize_nanos(df: DataFrame, cols: Sequence[str] = ("ts",)) -> DataFrame:
    """Normalize timestamp columns to plain TIMESTAMP (LTZ) regardless of
    how the parquet writer encoded them:

    * TIMESTAMP(NANOS) read as long (see the ``nanosAsLong`` session
      conf) -> exact floor-division to micros, matching what engines
      with native nanos support (DuckDB) see after their own truncation.
    * TIMESTAMP_NTZ (micros with ``isAdjustedToUTC=false``, which
      Spark 4 infers as ``TimestampNTZType``) -> cast to TIMESTAMP.
      The session timezone is pinned UTC (``session.ENGINE_CONF``), so
      the cast reinterprets the wall-clock instant with zero value
      change; every downstream watermark / ``cast(ts as bigint)`` /
      window-range consumer requires the LTZ type.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    for c in cols:
        if c not in df.columns:
            continue
        dt = df.schema[c].dataType
        if isinstance(dt, LongType):
            # Exact integer floor division.  floor(col/1000) evaluates as
            # DOUBLE division: epoch nanos (~1.7e18) exceed double's 2^53
            # mantissa, skewing ~12% of rows by 1us.  `div` truncates
            # toward zero, so adjust the (pre-1970) negative-remainder
            # case to true floor semantics.
            q = F.expr(f"`{c}` div 1000")
            micros = F.when((F.col(c) < 0) & (F.col(c) % 1000 != 0), q - 1).otherwise(q)
            df = df.withColumn(c, F.timestamp_micros(micros))
        elif isinstance(dt, TimestampNTZType):
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def table_provider(wkf, pattern: str = "table.{name:identifier}"):
    """Register the standard parquet table resource on a workflow.

    Producers downstream depend on ``table.lineitem`` etc.; ``base_dir``
    arrives via config or run kwargs.
    """

    @wkf.provide(pattern)
    def table(spark: SparkSession, base_dir: str, name: str) -> DataFrame:
        return normalize_nanos(spark.read.parquet(f"{base_dir}/{name}.parquet"))

    return table
