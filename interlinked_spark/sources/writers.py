"""Batch sinks (SURVEY.md §2b-A).

Scale notes: always ``partitionBy`` on the natural pruning column(s) for
100-TB tables; writers default to snappy parquet.  ``maxRecordsPerFile``
guards against giant files on skewed partitions.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: Optional[Sequence[str]] = None,
    max_records_per_file: Optional[int] = None,
    **options: str,
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    if options:
        writer = writer.options(**options)
    if fmt == "jdbc":
        writer.format("jdbc").save()
    else:
        getattr(writer, fmt)(path)


def write_single_file(
    df: DataFrame, path: str, fmt: str = "parquet", mode: str = "overwrite", **options: str
) -> None:
    """One-file write for DRIVER-BUILT small frames (meta pins, config
    rows).  ``coalesce(1)`` is the wrong tool for these: a
    ``createDataFrame`` local relation is parallelized over every core
    (32 parent partitions at local[32]), and coalesce folds them into a
    single task that round-trips the Python runner once PER PARENT
    partition, sequentially — measured ~5s to write ONE row.
    ``repartition(1)`` evaluates parents in parallel and shuffles the
    handful of rows to one reducer: same single-file layout, ~10x less
    wall clock, and on a real cluster it's the difference between one
    straggler task and a no-op shuffle of a few KB."""
    write_table(df.repartition(1), path, fmt=fmt, mode=mode, **options)


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: Sequence[str],
    n_files: int = 8,
    fmt: str = "parquet",
    mode: str = "overwrite",
    **options: str,
) -> None:
    """Sort-clustered layout for data skipping (§2b-A scale notes):
    ``repartitionByRange`` on the cluster columns gives each output
    file a NARROW, largely disjoint value range, and the within-file
    sort tightens row-group min/max stats — so a pushed-down range
    predicate skips whole files and row groups instead of scanning
    them.  The single-dimension counterpart of Z-ordering: at 100 TB
    this is the layout move for time-range queries on fact tables
    (cluster by event time), turning a full scan into reading only the
    files whose stats intersect the predicate.  One range shuffle at
    write time, amortized over every subsequent scan."""
    out = df.repartitionByRange(n_files, *cluster_cols).sortWithinPartitions(*cluster_cols)
    write_table(out, path, fmt=fmt, mode=mode, **options)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    num_buckets: int = 32,
    sort_cols: Optional[Sequence[str]] = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table (co-located joins, SURVEY.md §2b scale
    notes): both sides of a frequent equi-join written with the same
    bucketing (columns + count) join WITHOUT a shuffle — the planner
    sees compatible output partitioning.  Hive-style bucketing requires
    ``saveAsTable`` (a path-based write cannot record bucket metadata).
    """
    spark = df.sparkSession
    if mode == "overwrite":
        # A fresh session's metastore may not know the table while its
        # warehouse directory survives from an earlier session —
        # saveAsTable then fails with LOCATION_ALREADY_EXISTS.  Drop
        # both the catalog entry and any orphaned location.  Each
        # qualifier part is quoted separately (`db`.`tbl`), and the
        # location comes from the catalog when the table is known —
        # never reconstructed for a registered table.  Asking
        # ``tableExists`` first keeps a fresh session from logging a
        # failed DESCRIBE analysis as an ERROR.
        import os
        import shutil
        from urllib.parse import urlparse

        quoted = ".".join(f"`{part}`" for part in table.split("."))
        location: Optional[str] = None
        if spark.catalog.tableExists(table):
            for row in spark.sql(f"DESCRIBE TABLE EXTENDED {quoted}").collect():
                if row.col_name == "Location":
                    location = row.data_type
                    break
        spark.sql(f"DROP TABLE IF EXISTS {quoted}")
        if location is None:
            # Orphaned-directory case: reconstruct the default managed
            # location for the table's database.
            warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
            parts = table.split(".")
            db = parts[-2] if len(parts) >= 2 else spark.catalog.currentDatabase()
            base = urlparse(warehouse).path or warehouse
            if db != "default":
                base = os.path.join(base, f"{db.lower()}.db")
            location = os.path.join(base, parts[-1].lower())
        else:
            location = urlparse(location).path or location
        shutil.rmtree(location, ignore_errors=True)
    writer = df.write.mode(mode).format(fmt).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)



def _recover_swap_residue(path: str) -> None:
    """Clean residue of a killed staged-directory swap (shared by
    :func:`compact_table` / :func:`delete_rows`): a leftover
    ``__compact_old`` with the table still present is a completed
    swap's unremoved backup (deleted); WITHOUT the table it is a kill
    between the two renames, and the backup is restored."""
    import os
    import shutil

    shutil.rmtree(path.rstrip("/") + ".__compact_tmp", ignore_errors=True)
    old = path.rstrip("/") + ".__compact_old"
    if os.path.exists(old):
        if os.path.exists(path):
            shutil.rmtree(old)
        else:
            os.rename(old, path)


def _swap_in(out: DataFrame, path: str) -> None:
    """Write ``out`` to the staging dir and swap it in over ``path``
    (two renames — the crash window :func:`_recover_swap_residue`
    covers)."""
    import os
    import shutil

    tmp = path.rstrip("/") + ".__compact_tmp"
    old = path.rstrip("/") + ".__compact_old"
    write_table(out, tmp)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)


def compact_table(
    spark,
    path: str,
    num_files: int = 8,
    cluster_cols: Optional[Sequence[str]] = None,
) -> tuple[int, int]:
    """Rewrite an append-grown parquet directory into ``num_files``
    hash-clustered files — the OPTIMIZE/maintenance half of every
    append-only resource here (shingle index, vector index, streaming
    gate's accepted table): daily appends otherwise accumulate one
    file set per batch, and at 100 TB the scan's task count and footer
    overhead grow with FILE count, not data size.  Returns
    ``(files_before, files_after)``.

    Swap is staged-directory rename (write to ``<path>.__compact_tmp``,
    then swap), NOT read-and-overwrite-in-place: overwriting the files
    a plan is still lazily reading from requires materializing the
    whole table first (memory pressure at scale) and loses the data on
    a mid-write crash.  Crash recovery: residue from a killed prior
    compaction is cleaned up-front — a leftover ``__compact_old`` with
    the table still present is a completed swap's unremoved backup
    (deleted); ``__compact_old`` WITHOUT the table is a kill between
    the two renames, and the backup is restored before compacting.
    The two-rename window is the remaining exposure; on a production
    lake the same operation is table-format OPTIMIZE (Delta/Iceberg),
    which makes the swap transactional — this is the path-based
    equivalent, same topology."""
    import glob
    import os

    from pyspark.sql import functions as F

    def _count(p: str) -> int:
        return len(glob.glob(os.path.join(p, "part-*")))

    _recover_swap_residue(path)
    before = _count(path)
    df = spark.read.parquet(path)
    if cluster_cols:
        out = df.repartition(num_files, *[F.col(c) for c in cluster_cols])
    else:
        out = df.repartition(num_files)
    _swap_in(out, path)
    return before, _count(path)


def _should_fan_out(df: DataFrame, parallelism: int) -> bool:
    """Decide whether a CPU-bound staged write should ``repartition``
    its input to the session parallelism first — WITHOUT finalizing the
    physical plan (no ``.rdd``, which under AQE can execute upstream
    stages; ADVICE r10).  Scan-like inputs report ~one partition per
    input file, so fewer files than cores means the map stage would
    under-parallelize.  Zero files means either an in-memory input
    (createDataFrame local relation, parallelized RDD — a handful of
    partitions, fan out) or shuffled lineage (already
    ``shuffle.partitions`` tasks, don't): the ANALYZED logical plan
    tells them apart at analysis time — a shuffle-introducing logical
    node is visible before physical planning (ADVICE r11).

    The probe walks the analyzed plan's NODE tree (``nodeName`` per
    TreeNode, ADVICE r12) rather than regexing ``toString()`` — a
    capitalized word inside an alias or string literal ("Join me")
    can't false-positive, and the match set is exact node names, not
    substrings.  Performance-only heuristic either way: a wrong answer
    costs one avoidable (or one missing) repartition, never rows."""
    try:
        n_input_files = len(df.inputFiles())
    except Exception:  # noqa: BLE001 - probe only tunes, never gates
        n_input_files = 0
    if n_input_files:
        return n_input_files < parallelism
    shuffling = (
        "Aggregate", "Join", "Window", "Sort", "Distinct", "Deduplicate",
        "DeduplicateWithinWatermark", "Repartition", "RepartitionByExpression",
        "Intersect", "Except", "FlatMapGroupsInPandas",
        "FlatMapCoGroupsInPandas", "FlatMapGroupsWithState", "CoGroup",
        "MapGroups", "GlobalLimit",
    )
    try:
        stack = [df._jdf.queryExecution().analyzed()]
        while stack:
            node = stack.pop()
            if node.nodeName() in shuffling:
                return False
            children = node.children()
            for i in range(children.size()):
                stack.append(children.apply(i))
    except Exception:  # noqa: BLE001 - probe only tunes, never gates
        return False
    return True


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: Sequence[str],
    n_files: int = 8,
    bits: int = 8,
    fmt: str = "parquet",
    mode: str = "overwrite",
    **options: str,
) -> None:
    """Z-order (Morton-curve) clustered layout — multi-dimensional data
    skipping (§2b-A scale notes): each z-order column is quantized into
    ``2^bits`` rank buckets on its own quantile grid, the bucket bits
    are INTERLEAVED into one z-value, and files are range-partitioned +
    sorted on it.  Every file then covers a small hyper-rectangle of
    the combined key space, so a predicate on ANY of the columns (or
    several at once) skips files on footer min/max stats —
    :func:`write_clustered` gives that for one dimension at the cost of
    every other; Z-ordering shares the locality across dimensions.
    This is path-based Delta/Iceberg ``OPTIMIZE ZORDER BY``, same
    topology.

    Quantile-grid quantization (``approxQuantile``, one distributed
    pass, ``2^bits`` boundaries per column collected driver-side — KBs)
    rather than min/max scaling: Zipf-skewed columns would otherwise
    collapse into a handful of buckets and the curve degenerates to the
    first column's order.  The z-value itself is built JVM-side from
    shift/or expressions; timestamps quantize on their epoch seconds."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampType

    zorder_cols = list(zorder_cols)
    nq = 1 << bits

    def numeric(c: str):
        if isinstance(df.schema[c].dataType, TimestampType):
            return F.unix_timestamp(F.col(c)).cast("double")
        return F.col(c).cast("double")

    probe = df.select(
        *[numeric(c).alias(f"__z{i}") for i, c in enumerate(zorder_cols)]
    )
    grids = probe.approxQuantile(
        [f"__z{i}" for i in range(len(zorder_cols))],
        [j / nq for j in range(1, nq)],
        0.001,
    )

    nd = len(zorder_cols)
    staged = df
    # The per-row bucket quantization is a 2^bits-element HOF scan per
    # z-column — CPU-bound work that runs in the MAP stage feeding the
    # range exchange.  A small input (one parquet file -> one
    # partition) would single-thread it: measured 1.4-2.6 s of a 3.6 s
    # write at 100k rows on local[32].  Fan the input out to the
    # session's parallelism first; at fact scale inputs already carry
    # >= cores partitions and this is skipped.  The decision is
    # execution-free — see :func:`_should_fan_out`.
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if _should_fan_out(df, parallelism):
        staged = staged.repartition(parallelism)
    for i, c in enumerate(zorder_cols):
        # bucket = count of grid boundaries at-or-below the value
        # (0..2^bits-1): rank-space quantization, robust to skew.  The
        # boundary array is a literal (KBs) evaluated per row with one
        # filter+size — no join, no shuffle.  Duplicate boundaries are
        # KEPT deliberately: a low-cardinality column (15 users at the
        # smallest SF) repeats each boundary ~nq/cardinality times, and
        # counting the repeats is what spreads its buckets across the
        # FULL 0..2^bits-1 range — deduping them would park the column
        # in the low bits and hand the curve's high bits entirely to
        # the other columns (a caught bug: user_id spans stopped
        # narrowing at all).  Buckets MATERIALIZE as columns before the
        # bit loop (the HOF-blowup rule: the z-value references each
        # bucket ``bits`` times, and inlining would duplicate the
        # 2^bits-element HOF subtree per bit).
        bounds = F.array(*[F.lit(float(b)) for b in sorted(grids[i])])
        v = numeric(c)
        staged = staged.withColumn(
            f"__zb{i}", F.size(F.filter(bounds, lambda b: b <= v)).cast("long")
        )
    z = F.lit(0).cast("long")
    for i in range(nd):
        bucket = F.col(f"__zb{i}")
        for j in range(bits):
            # bit j of column i lands at interleaved position j*nd + i
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(bucket, j).bitwiseAND(F.lit(1)), j * nd + i
                )
            )
    out = (
        staged.withColumn("__zval", z)
        .repartitionByRange(n_files, F.col("__zval"))
        .sortWithinPartitions("__zval")
        .drop("__zval", *[f"__zb{i}" for i in range(nd)])
    )
    write_table(out, path, fmt=fmt, mode=mode, **options)


def delete_rows(
    spark,
    path: str,
    keys_df: DataFrame,
    on: Sequence[str],
    report: bool = False,
) -> tuple[int, int] | None:
    """Delete rows matching ``keys_df`` on the ``on`` columns from a
    parquet directory — the takedown/right-to-erasure path for every
    persisted resource here (accepted corpus, shingle/vector index
    postings, sketch state).  Anti-join rewrite through the same
    staged-directory swap as :func:`compact_table` (same crash-recovery
    contract), because parquet files are immutable: there is no
    in-place delete, only rewrite-without.  Returns
    ``(rows_before, rows_after)`` when ``report=True``, else ``None``
    — the counts cost two EXTRA full scans of the state (one before,
    one re-read after the swap), which a 100-TB takedown should not
    pay by default (ADVICE r8).

    The keys side is broadcast (a deletion list is small by nature); at
    lake scale the same anti-join runs as Delta/Iceberg DELETE with
    file-level pruning — identical topology, transactional swap."""
    from pyspark.sql import functions as F

    _recover_swap_residue(path)
    df = spark.read.parquet(path)
    before = df.count() if report else None
    kept = df.join(
        F.broadcast(keys_df.select(*on).dropDuplicates()), list(on), "left_anti"
    )
    _swap_in(kept, path)
    if not report:
        return None
    return before, spark.read.parquet(path).count()
