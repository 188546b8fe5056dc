"""SparkSession factory with the engine's scale-oriented defaults.

Defaults chosen for the 100-TB posture (SURVEY.md §4.2): AQE on (runtime
broadcast switch, skew-join splitting, partition coalescing), Arrow for
every pandas bridge, and shuffle-partition counts that AQE can shrink.
Tests/bench run ``local[N]``; the same config is what you'd ship to a
1000-executor cluster (minus master).
"""

from __future__ import annotations

import os
import tempfile

from pyspark import SparkFiles
from pyspark.sql import SparkSession

ENGINE_CONF: dict[str, str] = {
    # Runtime re-planning: broadcast-on-observed-size, skew split, coalesce.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow batches for pandas_udf / applyInPandas / mapInPandas.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Sane local default; a real cluster would size this to cores*2-3.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    # 128 MiB scan splits — parquet row-group aligned.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.session.timeZone": "UTC",
    # Read TIMESTAMP(NANOS) parquet columns as long (Spark has no nanos
    # type); sources convert to microsecond timestamps explicitly.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Read micros-NTZ parquet (isAdjustedToUTC=false) as plain TIMESTAMP,
    # not TIMESTAMP_NTZ: with the session tz pinned UTC the values are
    # identical, and watermarks / epoch casts require the LTZ type.
    # normalize_nanos() also converts any NTZ column that slips through
    # (e.g. a session created before this conf was applied).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Never write INT96 timestamps (the Spark default): INT96 columns
    # carry NO min/max statistics and get NO filter pushdown, which
    # silently disables row-group/file skipping on every timestamp-
    # clustered table the engine writes.  Micros is the modern,
    # stats-bearing encoding every reader understands.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def scratch_dir(prefix: str) -> str:
    """A fresh directory for a path the engine makes up (sink, index,
    state, staged source).  It lives under the session's SparkFiles
    root, which Spark deletes at ``spark.stop()`` (or at JVM exit), so
    DataFrames that read it lazily stay valid for the whole session.
    One sub-directory, because Python workers put the root itself on
    ``sys.path``."""
    root = os.path.join(SparkFiles.getRootDirectory(), "interlinked")
    os.makedirs(root, exist_ok=True)
    return tempfile.mkdtemp(prefix=prefix, dir=root)


def ship_package(spark: SparkSession) -> None:
    """Make ``interlinked_spark`` importable on executors.

    Closures sent to Python workers (mapInPandas feature extractors,
    etc.) reference package-level functions, which cloudpickle
    serializes BY MODULE PATH — so workers must import the package.
    When the driver process was launched without the repo on
    ``PYTHONPATH`` (or on a real multi-node cluster with no wheel
    installed), ship the package as a zip via ``addPyFile`` — the
    standard runtime distribution path; idempotent per session."""
    import zipfile

    sc = spark.sparkContext
    if getattr(sc, "_interlinked_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(scratch_dir("ship_"), "interlinked_spark.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for name in files:
                if not name.endswith(".py"):
                    continue
                full = os.path.join(root, name)
                rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                zf.write(full, rel)
    sc.addPyFile(zip_path)
    sc._interlinked_shipped = True


def get_spark(app_name: str = "interlinked-spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a session with engine defaults applied."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    for key, value in ENGINE_CONF.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    # Embedded Derby (JDBC source/sink tests) writes derby.log to the
    # JVM's CWD — the repo root when run from here.  Derby reads this
    # system property at engine boot, which happens at the first JDBC
    # connection (always after this call), so setting it post-launch is
    # early enough.  Keeps the repo clean of stray driver artifacts.
    try:
        spark._jvm.System.setProperty(
            "derby.stream.error.file",
            os.path.join(tempfile.gettempdir(), "derby.log"),
        )
    except Exception:  # noqa: BLE001 - cosmetic; never block session build
        pass
    return spark
