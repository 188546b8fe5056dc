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


# Session confs that change what parquet schema inference returns; part
# of the schema memo's key (see read_table).
_PARQUET_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)


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

    Parquet read without ``schema`` infers it once per session: Spark
    otherwise launches a schema-inference job (a footer read) on every
    read.  The inferred ``StructType`` is kept on the SparkContext (it
    dies with the session), keyed by the path, the reader options and
    the session's parquet-inference confs, next to a fingerprint of the
    path: its length, modification time and is-directory flag, plus the
    byte, file and directory counts of a directory.  A later read whose
    fingerprint matches passes the cached schema (no job); otherwise the
    schema is inferred again and the entry replaced.  Only the schema is
    reused: every read builds a fresh relation with its own file
    listing, so a change the fingerprint misses can leave a stale
    schema, never stale files.  csv/json/orc/text reads are not
    memoized.
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
    if fmt != "parquet" or schema:
        return getattr(reader, fmt)(path)
    fingerprint = _path_fingerprint(spark, path)
    if fingerprint is None:  # missing path or glob: Spark reports it
        return reader.parquet(path)
    # Per-SparkContext, like ``session.ship_package``'s shipped flag.
    memo = vars(spark.sparkContext).setdefault("_interlinked_parquet_schemas", {})
    key = (
        path,
        tuple(sorted(options.items())),
        tuple(spark.conf.get(k) for k in _PARQUET_INFERENCE_CONFS),
    )
    hit = memo.get(key)
    if hit is not None and hit[0] == fingerprint:
        return reader.schema(hit[1]).parquet(path)
    df = reader.parquet(path)
    memo[key] = (fingerprint, df.schema)
    return df


def _path_fingerprint(spark: SparkSession, path: str) -> Optional[tuple]:
    """A constant number of Hadoop ``FileSystem`` calls, whatever the
    file count: ``getFileStatus`` (length, modification time,
    is-directory) and, for a directory, ``getContentSummary`` (bytes,
    files, directories).  ``None`` when the path cannot be stat-ed (a
    missing path or a glob)."""
    from py4j.protocol import Py4JJavaError

    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    try:
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        st = fs.getFileStatus(jpath)
        if not st.isDirectory():
            return (st.getLen(), st.getModificationTime(), False)
        cs = fs.getContentSummary(jpath)
    except Py4JJavaError:
        return None
    return (
        st.getLen(), st.getModificationTime(), True,
        cs.getLength(), cs.getFileCount(), cs.getDirectoryCount(),
    )


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
        return normalize_nanos(read_table(spark, f"{base_dir}/{name}.parquet"))

    return table
