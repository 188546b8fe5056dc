"""Structured Streaming operators (SURVEY.md §2b-J).

The ``events`` table is the stream surrogate: replayed deterministically
with the ``availableNow`` trigger (process everything currently
available as micro-batches, then stop) so streaming results are
reproducible and oracle-checkable against batch SQL.

Scale notes: watermarks bound state (late rows beyond the watermark are
dropped); windowed aggregation state lives in the state store keyed by
(window, keys) — at 100 TB/day the state store must be RocksDB-backed
and watermarks tight.  ``foreachBatch`` bridges stream results back
into workflow resources (each micro-batch is a normal DataFrame).
"""

from __future__ import annotations

import os
import shutil
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import scratch_dir
from ..sources.readers import normalize_nanos, read_parquet_if_present


def stream_from_parquet(
    spark: SparkSession,
    path: str,
    schema: Optional[str] = None,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Streaming scan of a parquet dir.  Streaming readers require an
    explicit schema; by default it is borrowed from a batch peek (fine
    for replay; declare it in production)."""
    if schema is None:
        schema = spark.read.parquet(path).schema
    if os.path.isfile(path):
        # FileStreamSource needs a directory; stage single files via
        # symlink (read-only test fixtures stay untouched).
        staged = scratch_dir("stream_src_")
        os.symlink(path, os.path.join(staged, os.path.basename(path)))
        path = staged
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )
    return normalize_nanos(stream)


def tumbling_agg(
    stream: DataFrame,
    ts_col: str,
    duration: str,
    keys: Sequence[str] = (),
    aggs: Optional[dict] = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Non-overlapping fixed windows; one state entry per (window, key)."""
    aggs = aggs or {"n_events": F.count("*")}
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, duration), *keys)
        .agg(*[c.alias(n) for n, c in aggs.items()])
    )


def sliding_agg(
    stream: DataFrame,
    ts_col: str,
    duration: str,
    slide: str,
    keys: Sequence[str] = (),
    aggs: Optional[dict] = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Overlapping windows: each event lands in duration/slide windows."""
    aggs = aggs or {"n_events": F.count("*")}
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, duration, slide), *keys)
        .agg(*[c.alias(n) for n, c in aggs.items()])
    )


def session_agg(
    stream: DataFrame,
    ts_col: str,
    gap: str,
    keys: Sequence[str],
    aggs: Optional[dict] = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Dynamic-width session windows: a session closes after ``gap`` of
    inactivity per key."""
    aggs = aggs or {"n_events": F.count("*")}
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap), *keys)
        .agg(*[c.alias(n) for n, c in aggs.items()])
    )


def stream_dedup(stream: DataFrame, keys: Sequence[str], ts_col: str, watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup with bounded state: duplicates arriving
    within the watermark horizon are dropped."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(list(keys))


def stream_static_join(stream: DataFrame, static_dim: DataFrame, on, how: str = "inner") -> DataFrame:
    """Stream x static dimension join — the dim is re-read per
    micro-batch (broadcast when small)."""
    return stream.join(F.broadcast(static_dim), on=on, how=how)


def run_available_now(
    result: DataFrame,
    sink_table: str,
    output_mode: str = "append",
    timeout_s: int = 300,
) -> None:
    """Deterministic replay: drain everything available as micro-batches
    into an in-memory sink table, then stop.  The caller reads
    ``spark.table(sink_table)`` afterwards."""
    ckpt = scratch_dir(f"ckpt_{sink_table}_")
    try:
        query = (
            result.writeStream.format("memory")
            .queryName(sink_table)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        if not query.awaitTermination(timeout_s):
            # Timed out: stop the still-running query instead of letting
            # the caller silently read a partially-drained sink table.
            query.stop()
            raise TimeoutError(
                f"stream into {sink_table!r} did not drain within {timeout_s}s"
            )
    finally:
        # Single-use by construction — discard on failure paths too, or
        # a flaky test retried in a loop leaks one dir per attempt.
        shutil.rmtree(ckpt, ignore_errors=True)


def foreach_batch_into(
    stream_result: DataFrame,
    handler,
    checkpoint: Optional[str] = None,
    timeout_s: int = 300,
    output_mode: str = "update",
):
    """Bridge stream results back into workflow resources (§2b-J sinks):
    ``handler(batch_df, batch_id)`` receives each micro-batch as a
    normal (batch) DataFrame, so it can write through any workflow sink
    or update downstream resources.  Runs with ``availableNow`` (drain
    everything, then stop) for deterministic replay."""
    own_ckpt = None if checkpoint else scratch_dir("ckpt_foreach_")
    try:
        query = (
            stream_result.writeStream.foreachBatch(handler)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .option("checkpointLocation", checkpoint or own_ckpt)
            .start()
        )
        if not query.awaitTermination(timeout_s):
            query.stop()
            raise TimeoutError(f"foreachBatch drain did not finish within {timeout_s}s")
    finally:
        if own_ckpt:
            shutil.rmtree(own_ckpt, ignore_errors=True)
    return query


def run_into_parquet(
    result: DataFrame,
    path: Optional[str] = None,
    output_mode: str = "complete",
    timeout_s: int = 300,
) -> str:
    """Production-shaped drain: micro-batches land in a PARQUET sink via
    ``foreachBatch`` (complete -> overwrite with the full result,
    append/update -> append) instead of accumulating on the driver the
    way the memory sink does.  The memory-sink path
    (:func:`run_available_now`) is a test-harness convenience only; this
    is the sink shape that survives 100 TB.  Returns the sink directory
    for ``spark.read.parquet`` read-back."""
    path = path or scratch_dir("stream_sink_")
    mode = "overwrite" if output_mode == "complete" else "append"

    def write_batch(batch_df: DataFrame, _batch_id: int) -> None:
        batch_df.write.mode(mode).parquet(path)

    foreach_batch_into(result, write_batch, timeout_s=timeout_s, output_mode=output_mode)
    return path


def run_upsert_into_parquet(
    stream: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str],
    path: Optional[str] = None,
    timeout_s: int = 300,
) -> str:
    """Streaming CDC upsert (§2b-J sinks + §2b-A merge): each
    micro-batch is compacted to its latest row per key
    (:func:`~interlinked_spark.operators.merge.keep_latest`), then
    MERGEd into the parquet target with
    :func:`~interlinked_spark.operators.merge.merge_upsert` — the
    foreachBatch pattern for maintaining a keep-latest materialized
    table off a change stream.  ``order_cols`` (e.g. ``["ts",
    "event_id"]``) define recency, id-tiebroken, so replays are
    deterministic.

    The parquet rewrite is full-table here; on a real 100-TB target the
    same handler body runs against a Delta/Iceberg MERGE (partitioned
    rewrite) — the streaming topology is identical.  Returns the target
    directory."""
    from ..operators.merge import keep_latest, merge_upsert

    keys = list(keys)
    order_cols = list(order_cols)
    path = path or scratch_dir("stream_upsert_")
    spark = stream.sparkSession

    def upsert_batch(batch_df: DataFrame, _batch_id: int) -> None:
        batch_latest = keep_latest(batch_df, keys, order_cols).withColumn(
            "__ver", F.struct(*order_cols)
        )
        current = read_parquet_if_present(spark, path)
        if current is None:  # first batch: no target yet
            merged = batch_latest
        else:
            # __ver is never persisted — re-derive it from the order
            # columns (it is redundant with them), keeping the
            # consumer-visible schema free of internals.
            current = current.withColumn("__ver", F.struct(*order_cols))
            merged = merge_upsert(current, batch_latest, keys, version_col="__ver")
        # Break lineage from the files about to be overwritten: a cache
        # is not a durability guarantee (eviction / executor loss would
        # recompute from files the overwrite has already deleted), so
        # materialize with an eager localCheckpoint instead.
        merged = merged.drop("__ver").localCheckpoint(eager=True)
        merged.write.mode("overwrite").parquet(path)

    foreach_batch_into(stream, upsert_batch, timeout_s=timeout_s, output_mode="append")
    return path


def run_scd2_into_parquet(
    stream: DataFrame,
    keys: Sequence[str],
    tracked: Sequence[str],
    ts_col: str = "change_ts",
    seed: Optional[DataFrame] = None,
    path: Optional[str] = None,
    end_of_time: str = "2260-12-31 00:00:00",
    timeout_s: int = 300,
    on_stale: str = "warn",
) -> str:
    """Streaming type-2 SCD maintenance (§2b-J sinks + §2b-A merge):
    each micro-batch of change rows folds into the interval-versioned
    dimension table with
    :func:`~interlinked_spark.operators.merge.scd2_apply`
    (``drop_stale=True``) — the foreachBatch pattern for keeping a
    warehouse dimension's history current off a CDC stream.  ``seed``
    optionally initializes the dimension before the first batch (open
    rows as-of their ``effective_from``).

    Replay idempotency comes from the stale-row drop: every row of an
    already-applied batch is older than the post-batch open row's
    ``effective_from``, so a foreachBatch retry is a no-op rewrite.
    Chronologically ordered batches compose to the same table a single
    batch apply produces (pinned in tests); the full-table parquet
    rewrite is the local stand-in for a Delta/Iceberg MERGE, identical
    topology.  The default end-of-time sentinel stays inside Arrow's
    nanosecond range so pandas bridges over the result never overflow.

    CHRONOLOGICAL-BATCH CONTRACT: ``drop_stale`` treats any change row
    older than its key's committed open-row ``effective_from`` as a
    replay and drops it.  A file source lists batches in FILE order,
    not event-time order — with multiple input files and
    ``maxFilesPerTrigger``, an out-of-chronology batch would be
    silently swallowed.  ``on_stale`` surfaces that instead of hiding
    it: per batch, stale rows are counted (one keys-partitioned join,
    same shuffle key as the apply) and ``'warn'`` (default) emits a
    ``UserWarning`` with the count, ``'fail'`` raises (strict — note a
    foreachBatch RETRY of an applied batch is all-stale by design, so
    'fail' trades replay idempotency for ordering strictness),
    ``'drop'`` keeps the old silent behavior.  Returns the target
    directory."""
    if on_stale not in ("warn", "fail", "drop"):
        raise ValueError(f"on_stale must be 'warn', 'fail' or 'drop', got {on_stale!r}")
    from ..operators.merge import scd2_apply

    keys = list(keys)
    tracked = list(tracked)
    path = path or scratch_dir("stream_scd2_")
    spark = stream.sparkSession
    if seed is not None:
        seed.write.mode("overwrite").parquet(path)

    def scd2_batch(batch_df: DataFrame, _batch_id: int) -> None:
        current = read_parquet_if_present(spark, path)
        if on_stale != "drop" and current is not None:
            anchor = current.filter(F.col("is_current")).select(
                *keys, F.col("effective_from").alias("__anchor")
            )
            n_stale = (
                batch_df.select(
                    *keys, F.col(ts_col).cast("timestamp").alias("__ts")
                )
                .join(anchor, keys, "inner")
                .filter(F.col("__ts") < F.col("__anchor"))
                .count()
            )
            if n_stale:
                msg = (
                    f"run_scd2_into_parquet: batch {_batch_id} carries "
                    f"{n_stale} change row(s) older than their key's "
                    f"committed open-row effective_from; drop_stale will "
                    f"discard them. Expected only on a foreachBatch replay "
                    f"— an out-of-chronology source (multi-file parquet "
                    f"dir + maxFilesPerTrigger) loses these rows."
                )
                if on_stale == "fail":
                    raise ValueError(msg)
                import warnings

                warnings.warn(msg, stacklevel=2)
        if current is None:  # unseeded first batch: empty history
            current = (
                batch_df.sparkSession.createDataFrame([], batch_df.schema)
                .select(
                    *keys,
                    *tracked,
                    F.col(ts_col).cast("timestamp").alias("effective_from"),
                    F.col(ts_col).cast("timestamp").alias("effective_to"),
                    F.lit(True).alias("is_current"),
                )
            )
        merged = scd2_apply(
            current,
            batch_df,
            keys,
            tracked,
            ts_col=ts_col,
            end_of_time=end_of_time,
            drop_stale=True,
        )
        # Break lineage from the files about to be overwritten (same
        # rationale as the upsert sink: a cache is not durability).
        merged = merged.localCheckpoint(eager=True)
        merged.write.mode("overwrite").parquet(path)

    foreach_batch_into(stream, scd2_batch, timeout_s=timeout_s, output_mode="append")
    return path


def stateful_running_counts(
    stream: DataFrame,
    key_cols: Sequence[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    timeout: str = "none",
) -> DataFrame:
    """Custom stateful per-key processing (§2b-J) via
    ``applyInPandasWithState``: a running event count per key carried in
    the state store across micro-batches; emits the updated count each
    batch.

    ``timeout="processing"`` bounds state lifetime for 24/7 streams —
    but NOT for ``availableNow`` replays: pending processing-time
    timeouts keep scheduling empty micro-batches and the drain never
    terminates (observed: 300s hang).  Default is no timeout; bounded
    replays don't need expiry."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = ", ".join(f"{c} long" for c in key_cols) + ", n_events long"
    state_schema = "n long"

    use_timeout = timeout == "processing"

    def update(key, batches, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in batches:
            n += len(pdf)
        state.update((n,))
        if use_timeout:
            state.setTimeoutDuration(30 * 60 * 1000)
        import pandas as pd  # local import: runs on executors

        yield pd.DataFrame([{**dict(zip(key_cols, key)), "n_events": n}])

    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(*key_cols)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if use_timeout
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    min_delay_s: int,
    max_delay_s: int,
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-STREAM equi-join with a time-interval condition
    (§2b-J): match right rows with ``right_ts`` in
    ``[left_ts + min_delay, left_ts + max_delay]`` for equal keys.

    Both sides get watermarks, and the interval bound is what lets
    Spark EVICT join state: each side keeps only watermark + interval
    of history, so state is bounded on unbounded streams.  Rename
    time/payload columns to distinct names before calling (a self-join
    otherwise produces ambiguous output columns)."""
    if left_ts == right_ts:
        raise ValueError("left_ts and right_ts must be distinct column names")
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    cond = None
    for k in keys:
        c = l[k] == r[k]
        cond = c if cond is None else cond & c
    cond = cond & (
        r[right_ts] >= l[left_ts] + F.expr(f"INTERVAL {min_delay_s} SECONDS")
    ) & (
        r[right_ts] <= l[left_ts] + F.expr(f"INTERVAL {max_delay_s} SECONDS")
    )
    joined = l.join(r, cond, how)
    for k in keys:
        # Keep ONE copy of each equi-key — but COALESCE the two copies
        # rather than dropping the right one: in outer joins the
        # preserved side's key must survive (an unmatched right row has
        # a null left key), and for inner joins the coalesce is a no-op.
        joined = (
            joined.withColumn(f"__key_{k}", F.coalesce(l[k], r[k]))
            .drop(l[k])
            .drop(r[k])
            .withColumnRenamed(f"__key_{k}", k)
        )
    return joined


from contextlib import contextmanager


@contextmanager
def replay_shuffle_partitions(spark: SparkSession, n: int):
    """Scope ``spark.sql.shuffle.partitions`` around a bounded replay.

    Streaming STATE partitioning is frozen from this conf at the
    query's first start, and every micro-batch pays a state-store
    commit PER partition — for a small deterministic replay, 32
    partitions of state overhead dwarf the data (measured 7.1s -> 2.7s
    on the stream-stream join at sf0.1 going 32 -> 8).  At production
    volume the right number is large; this helper exists so replays can
    size state to the replayed data without leaking the setting into
    the shared session."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def stateful_running_counts_tws(
    stream: DataFrame,
    key_cols: Sequence[str],
    watermark_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Spark 4 ``transformWithStateInPandas`` twin of
    :func:`stateful_running_counts` — the successor stateful API
    (typed state handles, timers, state schema evolution; requires the
    RocksDB state store provider).

    DEPENDENCY GATE: the TWS Python runner speaks a protobuf state
    protocol, so ``google.protobuf`` must be importable on driver and
    workers.  This sandbox ships without it — the import-try raises a
    clear error here, and the functional test skips; the
    ``applyInPandasWithState`` path above is the oracle-gated stateful
    operator in this environment."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError as exc:  # pragma: no cover - env without protobuf
        raise ImportError(
            "transformWithStateInPandas needs the 'protobuf' package "
            "(pyspark's TWS state protocol); install protobuf or use "
            "stateful_running_counts (applyInPandasWithState) instead"
        ) from exc

    import pandas as pd  # local: also needed on executors
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    keys = list(key_cols)
    out_schema = ", ".join(f"{c} long" for c in keys) + ", n_events long"

    class RunningCount(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.count = handle.getValueState("count", "n long")

        def handleInputRows(self, key, rows, timer_values):
            n = self.count.get()[0] if self.count.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self.count.update((n,))
            yield pd.DataFrame([{**dict(zip(keys, key)), "n_events": n}])

        def close(self) -> None:
            pass

    return (
        stream.withWatermark(watermark_col, watermark)
        .groupBy(*keys)
        .transformWithStateInPandas(
            statefulProcessor=RunningCount(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
    )


def run_neardup_gate_into_parquet(
    doc_stream: DataFrame,
    accepted_path: Optional[str] = None,
    index_path: Optional[str] = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: Optional[int] = 1000,
    timeout_s: int = 300,
) -> tuple[str, str]:
    """Streaming near-duplicate gate (§2b-J x §2b-K) — the end-to-end
    loop a training-data platform runs: each document micro-batch is
    matched against the MATERIALIZED shingle index of everything seen
    so far (:func:`~interlinked_spark.llm.dedup.
    ngram_jaccard_incremental_indexed` — the corpus is never re-read or
    re-shingled), near-dups are dropped, survivors append to the
    accepted parquet table, and the index absorbs the batch's postings.
    Returns ``(accepted_path, index_path)``.

    Acceptance is FIRST-SEEN-WINS over the whole stream: a document is
    rejected iff some EARLIER-seen document (earlier micro-batch, or
    same batch with smaller id) is within ``threshold`` Jaccard — even
    when that earlier document was itself rejected.  This keeps the
    gate fully distributed (no per-batch greedy iteration), makes the
    state update append-only, and makes the result REPLAY-EXACT: when
    batches arrive in id order, the final accepted table equals the
    batch-mode rule "keep d iff no earlier-id document is a near-dup" —
    one anti-join against the exact pair set, which is the catalog
    oracle.  (Filtering against accepted-only survivors instead would
    keep near-dups of rejected docs — chain A~B~C admits C — and needs
    an O(chain) iterative resolve inside every batch.)

    The index holds postings of ALL seen documents — it is the gate's
    comparison universe, distinct from the accepted OUTPUT table.  The
    ``max_shingle_df`` cap spans index + batch per micro-batch; batch/
    stream equality is exact while the cap never fires (default 1000 is
    far above any df in a normal shard — size it with
    ``diagnostics.shingle_df_stats`` first, as in batch dedup)."""
    from ..llm.dedup import (
        build_shingle_index,
        ngram_jaccard_incremental_indexed,
        shingle_postings,
        update_shingle_index,
    )

    accepted_path = accepted_path or scratch_dir("neardup_accept_")
    index_path = index_path or scratch_dir("neardup_idx_")
    spark = doc_stream.sparkSession
    # Seed an EMPTY index (schema only) so batch one runs the same
    # indexed matcher as every later batch — no first-batch special
    # case in the hot handler.
    empty = spark.createDataFrame([], doc_stream.schema)
    build_shingle_index(
        empty, index_path, text_col=text_col, id_col=id_col, n=n, num_files=1
    )

    def gate_batch(batch_df: DataFrame, _batch_id: int) -> None:
        # The batch is NOT checkpointed: it is a single-file micro-batch
        # and each consumer (postings build, accepted anti-join) is one
        # cheap scan — cheaper than a dedicated checkpoint job (per-batch
        # wall clock here is job count, not bytes).  The EXPENSIVE
        # per-batch work (the pandas-UDF shingling) is pinned below.
        # Shingle the batch ONCE (pandas-UDF pass over the text) and
        # share the postings between matching and the index append —
        # at 100 TB the shingling scan is the per-batch cost.
        postings = shingle_postings(
            batch_df, text_col=text_col, id_col=id_col, n=n
        ).localCheckpoint(eager=True)
        rejected = (
            ngram_jaccard_incremental_indexed(
                spark,
                index_path,
                batch_df,
                text_col=text_col,
                id_col=id_col,
                n=n,
                threshold=threshold,
                max_shingle_df=max_shingle_df,
                new_postings=postings,
            )
            .select(F.col("new_id").alias(id_col))
            .distinct()
        )
        accepted = batch_df.join(rejected, id_col, "left_anti")
        accepted.write.mode("append").parquet(accepted_path)
        # ALL seen docs enter the comparison universe (see docstring).
        update_shingle_index(
            batch_df, index_path, text_col=text_col, id_col=id_col, n=n,
            num_files=1, postings=postings,
        )

    foreach_batch_into(doc_stream, gate_batch, timeout_s=timeout_s, output_mode="append")
    return accepted_path, index_path


def run_vector_neardup_gate_into_parquet(
    vec_stream: DataFrame,
    accepted_path: Optional[str] = None,
    index_path: Optional[str] = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cosine_threshold: float = 0.95,
    num_hash_tables: int = 6,
    bucket_length: float = 0.5,
    projections_per_band: int = 1,
    max_bucket_size: Optional[int] = None,
    timeout_s: int = 300,
) -> tuple[str, str]:
    """Streaming EMBEDDING near-duplicate gate — the vector twin of
    :func:`run_neardup_gate_into_parquet`: each micro-batch is LSH-
    matched against the materialized vector index of everything seen
    (:func:`~interlinked_spark.llm.similarity.lsh_incremental_matches`
    — the corpus is never re-banded) plus banded against itself for
    within-batch pairs; vectors within ``cosine_threshold`` of an
    EARLIER-seen vector are dropped, survivors append to the accepted
    table, and the index absorbs the batch.  Same first-seen-wins
    semantics and the same replay-exactness: on id-ordered batches the
    final accepted table equals "keep v iff no smaller-id vector has
    cosine >= t" — one anti-join against the exact pair set.  Returns
    ``(accepted_path, index_path)``.

    Recall is the correctness boundary: the banding parameters must be
    sized for measured-total recall at the threshold (the catalog pins
    12 tables x 0.5 at cos >= 0.3) or the gate under-rejects."""
    from ..llm.similarity import (
        _check_index_dim,
        build_vector_index,
        update_vector_index,
        vector_gate_rejections,
    )

    accepted_path = accepted_path or scratch_dir("vec_accept_")
    index_path = index_path or scratch_dir("vec_gate_idx_")
    spark = vec_stream.sparkSession
    empty = spark.createDataFrame([], vec_stream.schema)
    build_vector_index(
        empty, index_path, num_hash_tables=num_hash_tables,
        bucket_length=bucket_length, projections_per_band=projections_per_band,
        id_col=id_col, vec_col=vec_col, num_files=1,
    )
    # Meta is read ONCE at build and carried across batches (the PQ
    # gate's codebook shape): the first non-empty append pins the dim
    # and hands back the refreshed row, so no batch re-reads ``meta/``.
    meta_holder = {"m": spark.read.parquet(f"{index_path}/meta").first()}

    def gate_batch(batch_df: DataFrame, _batch_id: int) -> None:
        # Per-batch wall clock here is job count, not bytes: the batch
        # is a single-file micro-batch, so every consumer below is one
        # cheap scan — cheaper than its own checkpoint job.  The dim
        # probe runs ONCE per batch (was twice: matcher + append).
        meta = meta_holder["m"]
        batch_dim = _check_index_dim(
            meta, batch_df, vec_col, "run_vector_neardup_gate_into_parquet"
        )
        # Band the batch ONCE: vs-corpus candidates, within-batch pairs
        # (smaller id wins — kept or not, matching the oracle's "any
        # smaller id" anti-join) and the index append all share the same
        # banded assignments (previously 3 banding passes per batch).
        rejected, assigns = vector_gate_rejections(
            spark, index_path, batch_df, cosine_threshold=cosine_threshold,
            id_col=id_col, vec_col=vec_col, max_bucket_size=max_bucket_size,
            meta=meta, batch_dim=batch_dim,
        )
        accepted = batch_df.join(
            rejected.withColumnRenamed("new_id", id_col), id_col, "left_anti"
        )
        accepted.write.mode("append").parquet(accepted_path)
        meta_holder["m"] = update_vector_index(
            batch_df, index_path, id_col=id_col, vec_col=vec_col,
            assignments=assigns, meta=meta, batch_dim=batch_dim,
        )

    foreach_batch_into(vec_stream, gate_batch, timeout_s=timeout_s, output_mode="append")
    return accepted_path, index_path


def run_vector_neardup_pq_gate_into_parquet(
    vec_stream: DataFrame,
    base_corpus: DataFrame,
    accepted_path: Optional[str] = None,
    index_path: Optional[str] = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    adc_threshold: float = 1.0,
    n_probe: int = 3,
    coarse_k: int = 8,
    m: int = 8,
    k: int = 16,
    coarse_iters: int = 3,
    pq_iters: int = 2,
    timeout_s: int = 300,
) -> tuple[str, str]:
    """Streaming vector near-dup gate routed through the MATERIALIZED
    IVF-PQ index (`llm/pq_index`) — the 8-bytes-per-vector-of-state
    twin of :func:`run_vector_neardup_gate_into_parquet`: the index
    seeds from a WARM base corpus (codebooks fit once, the FAISS
    train-then-add contract), each micro-batch is ADC-matched against
    the stored codes of everything seen (base + every earlier batch)
    restricted to the batch vector's ``n_probe`` probed coarse lists,
    plus within-batch pairs (smaller id wins), vectors with any match
    at ``adc <= adc_threshold`` are dropped, survivors append to the
    accepted table, and the index absorbs the WHOLE batch's codes
    (first-seen-wins: rejected vectors still enter the comparison
    universe, same as the LSH gate).

    State economics vs the LSH gate: the per-candidate read is ``m``
    small ints (8 bytes at m=8) instead of the raw d-float vector —
    the gate's steady-state storage is the coded corpus, two orders
    denser.  The price is that the DECISION is ADC-approximate (coded
    corpus side, probe-restricted); the catalog oracle mirrors both
    approximations exactly, so the gate's semantics — not some truer
    set — are what's value-hash-gated.

    Replay-exactness: batches encode against FROZEN codebooks, so on
    id-ordered batch boundaries the final accepted table equals "keep
    v iff no base vector and no smaller-id streamed vector is within
    adc_threshold inside v's probed lists" — one anti-join the oracle
    states directly.  Returns ``(accepted_path, index_path)``."""
    from ..llm.pq_index import (
        append_ivfpq_index,
        build_ivfpq_index,
        ivfpq_index_codes,
        ivfpq_index_matches,
        load_ivfpq_index,
    )

    accepted_path = accepted_path or scratch_dir("vec_pq_accept_")
    index_path = index_path or scratch_dir("vec_pq_idx_")
    spark = vec_stream.sparkSession
    build_ivfpq_index(
        base_corpus, index_path, coarse_k=coarse_k, m=m, k=k,
        coarse_iters=coarse_iters, pq_iters=pq_iters,
        id_col=id_col, vec_col=vec_col, num_files=1,
    )
    # Codebooks are immutable after build — load ONCE, not per batch
    # (passed through to the matcher: two collects + a meta read per
    # batch otherwise).
    loaded = load_ivfpq_index(spark, index_path)
    coarse, books, _meta = loaded

    def gate_batch(batch_df: DataFrame, batch_id: int) -> None:
        # Encode the batch ONCE against the frozen codebooks — WITH the
        # reconstruction error riding the same Arrow pass: the
        # within-batch compare, the index append AND the drift monitor
        # all share this one checkpointed frame (the batch_df itself is
        # NOT checkpointed: every consumer is one scan of a small
        # single-file micro-batch, cheaper than its own checkpoint job
        # — per-batch wall clock here is job count, not bytes).
        batch_codes = ivfpq_index_codes(
            batch_df, coarse, books, id_col=id_col, vec_col=vec_col,
            with_err=True,
        ).localCheckpoint(eager=True)
        rejected = (
            ivfpq_index_matches(
                spark, index_path, batch_df,
                adc_threshold=adc_threshold, n_probe=n_probe,
                id_col=id_col, vec_col=vec_col,
                coded_extra=batch_codes, extra_id_lt=True,
                codebooks=loaded,
            )
            .select(F.col("new_id").alias(id_col))
            .distinct()
        )
        accepted = batch_df.join(rejected, id_col, "left_anti")
        accepted.write.mode("append").parquet(accepted_path)
        # codebooks passed through (immutable, loaded once at build);
        # the drift monitor runs per micro-batch, so append_stats IS
        # the stream's codebook-staleness trend.  batch_seq = the
        # foreachBatch batch id (monotone, replay-stable) skips the
        # stored-max read; the matcher already dim-checked this batch.
        append_ivfpq_index(
            batch_df, index_path, id_col=id_col, vec_col=vec_col,
            codes=batch_codes, codebooks=loaded,
            batch_seq=batch_id, check_dim=False,
        )

    foreach_batch_into(vec_stream, gate_batch, timeout_s=timeout_s, output_mode="append")
    return accepted_path, index_path


def run_packing_into_state(
    doc_stream: DataFrame,
    state_path: Optional[str] = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    capacity: int = 256,
    bucket_width: int = 100,
    timeout_s: int = 300,
) -> str:
    """Streaming sequence packer (§2b-J x §2b-K): each document
    micro-batch is token-counted and laid down AFTER the committed
    corpus via the materialized packing state
    (:func:`~interlinked_spark.llm.packing.pack_incremental` — the
    stored ``next_offset`` is the only cross-batch state, previously
    packed batches are never re-scanned).  Returns the state path;
    read coordinates back with :func:`~interlinked_spark.llm.packing.
    read_packed`.

    The foreachBatch ``batch_id`` doubles as the packing idempotency
    key: Structured Streaming replays the last uncommitted batch id on
    restart, and :func:`pack_incremental` turns that replay into a
    partition rewrite + stored-result return instead of duplicated
    coordinates — end-to-end exactly-once layout under the engine's
    at-least-once foreachBatch contract.  When batches arrive in id
    order the final coordinates equal the one-shot concat-split
    recompute over the id-ordered corpus (the catalog oracle)."""
    from ..llm.packing import init_packing_state, pack_incremental
    from ..llm.text import token_stats

    state_path = state_path or scratch_dir("pack_state_stream_")
    spark = doc_stream.sparkSession
    init_packing_state(spark, state_path, capacity)

    def pack_batch(batch_df: DataFrame, batch_id: int) -> None:
        toks = token_stats(batch_df, text_col=text_col).select(id_col, "n_bpe_est")
        pack_incremental(
            toks, state_path, "n_bpe_est", id_col, bucket_width, batch_id=batch_id
        )

    foreach_batch_into(doc_stream, pack_batch, timeout_s=timeout_s, output_mode="append")
    return state_path


def run_qhist_into_state(
    event_stream: DataFrame,
    keys,
    value_col: str,
    lo: float,
    hi: float,
    bins: int = 500,
    state_path: Optional[str] = None,
    timeout_s: int = 300,
) -> str:
    """Streaming quantile-histogram maintainer (§2b-J x §2b-D): each
    micro-batch's fixed-grid histogram lands under the pinned grid —
    the fourth streaming-state gate next to the shingle-index, vector-
    index and packing gates.  Returns the state path; answer quantiles
    with :func:`~interlinked_spark.operators.sketches.qhist_quantiles`.

    Exactly-once under foreachBatch's at-least-once contract WITHOUT a
    log: each batch writes its histogram to its OWN ``batch=<id>``
    subdirectory with overwrite semantics, so a replayed batch id
    rewrites the identical rows instead of double-counting (additive
    states need replay protection; overwrite-by-batch-dir is the
    cheapest correct form).  Because bin-wise integer sums are EXACTLY
    batching-invariant, the final state equals the one-shot histogram
    of the full input for ANY micro-batch boundaries — which is what
    makes a streaming sketch value-oracle-able at all."""
    from ..operators.sketches import qhist_bins
    from ..sources.writers import write_single_file, write_table

    state_path = state_path or scratch_dir("qhist_state_stream_")
    spark = event_stream.sparkSession
    keys = list(keys)
    meta = spark.createDataFrame(
        [(float(lo), float(hi), int(bins))], "lo double, hi double, bins int"
    )
    write_single_file(meta, f"{state_path}/meta")

    def update(batch_df: DataFrame, batch_id: int) -> None:
        hist = qhist_bins(batch_df, keys, value_col, float(lo), float(hi), int(bins))
        write_table(
            hist.coalesce(1),
            f"{state_path}/state/batch={batch_id}",
            mode="overwrite",
        )

    foreach_batch_into(event_stream, update, timeout_s=timeout_s, output_mode="append")
    return state_path


def run_ddsketch_into_state(
    event_stream: DataFrame,
    keys,
    value_col: str,
    alpha: float = 0.01,
    state_path: Optional[str] = None,
    timeout_s: int = 300,
) -> str:
    """Streaming DDSketch maintainer (§2b-J x §2b-D): each
    micro-batch's log-bucket counts land under the alpha pinned in
    meta — the relative-error twin of :func:`run_qhist_into_state`
    for long-tailed positive metrics with no domain to size.  Answer
    with :func:`~interlinked_spark.operators.sketches.
    ddsketch_quantiles`.

    Same exactly-once form as the histogram gate: overwrite-by-
    ``batch=<id>`` directory turns foreachBatch replays into identical
    rewrites instead of double counts, and bucket-wise integer sums
    are EXACTLY batching-invariant, so the final state equals the
    one-shot sketch for ANY micro-batch boundaries — the property
    that lets the streamed quantiles be value-hash-gated."""
    from ..operators.sketches import ddsketch_buckets
    from ..sources.writers import write_single_file, write_table

    state_path = state_path or scratch_dir("ddsketch_state_stream_")
    spark = event_stream.sparkSession
    keys = list(keys)
    write_single_file(
        spark.createDataFrame([(float(alpha),)], "alpha double"),
        f"{state_path}/meta",
    )

    def update(batch_df: DataFrame, batch_id: int) -> None:
        sk = ddsketch_buckets(batch_df, keys, value_col, alpha=float(alpha))
        write_table(
            sk.coalesce(1),
            f"{state_path}/state/batch={batch_id}",
            mode="overwrite",
        )

    foreach_batch_into(event_stream, update, timeout_s=timeout_s, output_mode="append")
    return state_path


def run_hll_into_state(
    event_stream: DataFrame,
    keys,
    value_col: str,
    lg_k: int = 12,
    state_path: Optional[str] = None,
    timeout_s: int = 300,
) -> str:
    """Streaming distinct-count maintainer (§2b-J x §2b-D): each
    micro-batch's per-group Datasketches HLL sketches land as state —
    the fifth streaming-state gate, the HLL twin of
    :func:`run_qhist_into_state`.  Answer with
    :func:`~interlinked_spark.operators.sketches.sketch_state_estimates`
    (sketch union per group — scans only the KB-scale state, never the
    history).

    Same replay protection: each batch writes its sketches to its own
    ``batch=<id>`` subdirectory with overwrite semantics, so a replayed
    batch id rewrites identical rows instead of inflating registers'
    row count (HLL union is idempotent on VALUES but the state table
    itself is append-shaped — per-batch-dir overwrite keeps it exact).
    Register-wise-max union makes the final estimate equal the one-shot
    sketch of the full input for ANY micro-batch boundaries — the
    deterministic equality the catalog oracle gates on."""
    from ..operators.sketches import sketch_distinct_state
    from ..sources.writers import write_single_file, write_table

    state_path = state_path or scratch_dir("hll_state_stream_")
    spark = event_stream.sparkSession
    keys = list(keys)
    meta = spark.createDataFrame([(int(lg_k),)], "lg_k int")
    write_single_file(meta, f"{state_path}/meta")

    def update(batch_df: DataFrame, batch_id: int) -> None:
        st = sketch_distinct_state(batch_df, keys, value_col, lg_k=int(lg_k))
        write_table(
            st.coalesce(1), f"{state_path}/state/batch={batch_id}", mode="overwrite"
        )

    foreach_batch_into(event_stream, update, timeout_s=timeout_s, output_mode="append")
    return state_path


def run_budget_gate_into_parquet(
    stream: DataFrame,
    group_col: str,
    key_col: str,
    size_col: str,
    budgets,
    path: Optional[str] = None,
    salt: str = "",
    bucket_chars: int = 1,
    timeout_s: int = 300,
) -> str:
    """Streaming token-budget ingest gate (§2b-J x §2b-K): first-come
    admission until each group's budget fills — "ingest until source A
    has 50B tokens" enforced AT THE STREAM, so past-budget data never
    reaches the corpus sink.  Per micro-batch: committed totals from
    EARLIER batches are charged against the budgets
    (``budget_select(spent=...)`` — one tiny broadcast), the batch's
    admitted prefix is chosen in the same deterministic md5-hash order
    as the batch operator, and the batch writes its OWN
    ``batch=<id>`` partition dir (overwrite) — so a foreachBatch
    replay recomputes from totals that exclude its own prior partial
    write and rewrites the identical partition: exactly-once admission
    under the at-least-once contract, the same idempotency shape as
    the qhist/HLL state gates.

    Admission order is (batch arrival, within-batch hash) — the gate
    deliberately keeps FIRST-COME semantics rather than re-ranking
    history (a one-shot :func:`~interlinked_spark.operators.sampling.
    budget_select` over the union could evict already-admitted rows;
    an ingest gate must never retract).  With id-ordered batches the
    admitted set equals a single cumsum over (batch, hash, key) order
    — the catalog oracle.  Returns the target dir; read back with
    ``spark.read.parquet(path)`` (the ``batch`` partition column
    records the admitting micro-batch)."""
    from ..operators.sampling import budget_select

    path = path or scratch_dir("stream_budget_")
    spark = stream.sparkSession

    def gate_batch(batch_df: DataFrame, batch_id: int) -> None:
        committed = read_parquet_if_present(spark, path)
        spent = None
        if committed is not None:
            spent = (
                committed.filter(F.col("batch") < batch_id)
                .groupBy(group_col)
                .agg(F.sum(size_col).cast("long").alias("__spent"))
            )
        admitted = budget_select(
            batch_df, group_col, key_col, size_col, budgets,
            salt=salt, bucket_chars=bucket_chars, spent=spent,
        )
        # Lineage break before the partition overwrite (same rationale
        # as the upsert/SCD2 sinks), then exactly-once-by-rewrite.
        admitted = admitted.localCheckpoint(eager=True)
        admitted.write.mode("overwrite").parquet(f"{path}/batch={batch_id}")

    foreach_batch_into(stream, gate_batch, timeout_s=timeout_s, output_mode="append")
    return path


def run_transitions_into_state(
    event_stream: DataFrame,
    key_cols,
    order_cols,
    state_col: str,
    state_path: Optional[str] = None,
    timeout_s: int = 300,
) -> str:
    """Streaming Markov transition-count maintainer (§2b-J x §2b-E):
    the EIGHTH streaming-state gate, and the first whose per-batch
    contribution is NOT additive by itself — a consecutive-event pair
    that straddles a micro-batch boundary belongs to no single batch's
    rows.  The gate carries each entity's LAST event as state and
    stitches the boundary: batch N counts its within-batch transitions
    PLUS one (prior-last -> first-of-batch) transition per entity seen
    before.  Every consecutive per-entity pair is therefore counted
    EXACTLY once — within-batch pairs by their batch, boundary pairs by
    the later batch — so for time-ordered batches the summed state
    equals the one-shot ``transition_counts`` of the full input for ANY
    micro-batch boundaries.  That batching-invariance is what makes the
    stream value-oracle-able against the batch twin.

    Exactly-once under foreachBatch's at-least-once contract, same
    shape as the qhist/HLL gates: batch N reads the PRIOR state dir
    (``last/batch=N-1`` — still present on replay) and overwrites its
    own ``counts/batch=N`` and ``last/batch=N`` dirs, so a replay
    rewrites identical rows.  The carried last-state is
    forward-propagated for entities absent from a batch (an entity may
    skip micro-batches).  Answer by summing ``counts/batch=*``."""
    from ..sources.writers import write_table

    state_path = state_path or scratch_dir("transitions_state_")
    spark = event_stream.sparkSession
    keys = list(key_cols)
    order = list(order_cols)

    def update(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        seq = Window.partitionBy(*keys).orderBy(*order)
        batch = batch_df.select(*keys, *order, F.col(state_col).alias("__st"))
        within = (
            batch.select(
                F.col("__st").alias("from_state"),
                F.lead("__st").over(seq).alias("to_state"),
            )
            .filter(F.col("to_state").isNotNull())
        )
        firsts = (
            batch.withColumn("__rn", F.row_number().over(seq))
            .filter(F.col("__rn") == 1)
            .select(*keys, F.col("__st").alias("to_state"))
        )
        lasts = (
            batch.withColumn(
                "__rn",
                F.row_number().over(
                    Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order])
                ),
            )
            .filter(F.col("__rn") == 1)
            .select(*keys, "__st")
        )
        prior = read_parquet_if_present(
            spark, f"{state_path}/last/batch={batch_id - 1}"
        )
        if prior is not None:
            boundary = prior.select(
                *keys, F.col("__st").alias("from_state")
            ).join(firsts, keys).select("from_state", "to_state")
            pairs = within.unionByName(boundary)
            # carry forward entities absent from this batch
            new_last = lasts.unionByName(
                prior.join(lasts.select(*keys), keys, "left_anti")
            )
        else:
            pairs = within
            new_last = lasts
        counts = pairs.groupBy("from_state", "to_state").agg(
            F.count("*").alias("n")
        )
        write_table(
            counts.coalesce(1),
            f"{state_path}/counts/batch={batch_id}",
            mode="overwrite",
        )
        write_table(
            new_last.coalesce(1),
            f"{state_path}/last/batch={batch_id}",
            mode="overwrite",
        )

    foreach_batch_into(event_stream, update, timeout_s=timeout_s, output_mode="append")
    return state_path


def run_cusum_into_state(
    event_stream: DataFrame,
    key_cols,
    order_cols,
    value_col: str,
    target: float,
    slack: float,
    threshold: float,
    state_path: Optional[str] = None,
    timeout_s: int = 300,
    round_dp: int = 6,
) -> str:
    """Streaming CUSUM drift detector (§2b-J x §2b-E): the NINTH
    streaming-state gate — the carried state is each entity's live
    accumulator pair ``(s_hi, s_lo)``, and the within-batch recurrence
    runs as a STITCHED closed form: with the carried initial value
    ``s0``, ``s_i = max(s0 + C_i, C_i - min_{1<=j<=i} C_j)`` (``C`` =
    batch-local running sum of centered-slacked deltas) — the ``s0``
    term is the "never reset since the batch started" branch, the
    running-min term is the best in-batch restart.  Exact by the same
    suffix-maximum argument as the batch operator's closed form, so
    the concatenation of per-batch outputs EQUALS the one-shot batch
    ``cusum_alarms`` (explicit target) for ANY time-ordered batch
    boundaries — that batching-invariance is what lets a STATEFUL
    sequential detector be value-oracle-able against the batch twin's
    SQL.

    Exactly-once under foreachBatch's at-least-once contract (qhist/
    HLL/transitions shape): batch N reads ``state/batch=N-1`` (still
    present on replay) and overwrites its own ``out/batch=N`` +
    ``state/batch=N`` dirs; absent entities' state carries forward.
    Answer by reading ``out/batch=*``."""
    from ..sources.writers import write_table

    state_path = state_path or scratch_dir("cusum_state_")
    spark = event_stream.sparkSession
    keys = list(key_cols)
    order = list(order_cols)

    def update(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        cum = (
            Window.partitionBy(*keys)
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        last_w = Window.partitionBy(*keys).orderBy(
            *[F.col(c).desc() for c in order]
        )
        prior = read_parquet_if_present(
            spark, f"{state_path}/state/batch={batch_id - 1}"
        )

        batch = batch_df.select(*keys, *order, value_col)
        if prior is not None:
            batch = batch.join(prior, keys, "left").fillna(
                {"s_hi": 0.0, "s_lo": 0.0}
            )
        else:
            batch = batch.withColumn("s_hi", F.lit(0.0)).withColumn(
                "s_lo", F.lit(0.0)
            )
        d = F.col(value_col) - F.lit(float(target))
        k = F.lit(float(slack))
        staged = batch.select(
            *batch.columns,
            F.sum(d - k).over(cum).alias("__c_hi"),
            F.sum(-d - k).over(cum).alias("__c_lo"),
        )
        staged = staged.select(
            *staged.columns,
            F.min("__c_hi").over(cum).alias("__m_hi"),
            F.min("__c_lo").over(cum).alias("__m_lo"),
        )
        s_hi = F.greatest(
            F.col("s_hi") + F.col("__c_hi"), F.col("__c_hi") - F.col("__m_hi")
        )
        s_lo = F.greatest(
            F.col("s_lo") + F.col("__c_lo"), F.col("__c_lo") - F.col("__m_lo")
        )
        scored = staged.select(
            *keys,
            *order,
            value_col,
            s_hi.alias("__s_hi"),
            s_lo.alias("__s_lo"),
        )
        out = scored.select(
            *keys,
            *order,
            value_col,
            F.round("__s_hi", round_dp).alias("cusum_high"),
            F.round("__s_lo", round_dp).alias("cusum_low"),
            (
                (F.col("__s_hi") > float(threshold))
                | (F.col("__s_lo") > float(threshold))
            ).alias("alarm"),
        )
        lasts = (
            scored.withColumn("__rn", F.row_number().over(last_w))
            .filter(F.col("__rn") == 1)
            .select(
                *keys,
                F.col("__s_hi").alias("s_hi"),
                F.col("__s_lo").alias("s_lo"),
            )
        )
        if prior is not None:
            lasts = lasts.unionByName(
                prior.join(lasts.select(*keys), keys, "left_anti")
            )
        write_table(
            out.coalesce(1), f"{state_path}/out/batch={batch_id}", mode="overwrite"
        )
        write_table(
            lasts.coalesce(1),
            f"{state_path}/state/batch={batch_id}",
            mode="overwrite",
        )

    foreach_batch_into(event_stream, update, timeout_s=timeout_s, output_mode="append")
    return state_path


def run_span_dedup_into_state(
    doc_stream: DataFrame,
    state_path: Optional[str] = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_len: int = 8,
    max_kgram_df: Optional[int] = 1000,
    timeout_s: int = 300,
) -> str:
    """Streaming exact duplicate-span removal (§2b-J x §2b-K) — the
    TENTH exactly-once state gate: each document micro-batch is
    span-matched against the positional-k-gram postings of EVERYTHING
    seen so far plus itself, matched runs >= ``min_len`` tokens are
    excised from the batch's (higher-id) documents, and the batch's
    own postings join the state.  The first gate whose carried state
    is a POSITIONAL INDEX (id, pos, hash) rather than counts or
    set-membership.

    Priority is first-seen-wins, same as the near-dup gate: the doc
    that keeps a span is the lower id, and with id-ordered batches
    every batch-mode pair ``(l < r)`` is reproduced exactly when r's
    batch runs — l's postings are in the state (earlier batch) or in
    the batch itself — so the concatenated per-batch outputs EQUAL the
    one-shot batch twin ``llm/dedup.remove_duplicate_spans`` for ANY
    id-ordered boundaries (the catalog oracle is the batch twin's
    SQL).  Matching and surgery are the batch operators VERBATIM
    (`stitch_span_runs`, `remove_duplicate_spans(runs=...)`).

    Exactly-once under foreachBatch's at-least-once contract, the
    transitions/CUSUM dir shape: batch N reads ``grams/batch=<N``
    (partition-pruned — a replay's own half-written ``batch=N`` dir is
    excluded by the filter) and OVERWRITES its own ``out/batch=N`` +
    ``grams/batch=N``, so replays rewrite identical rows.  The
    ``max_kgram_df`` cap spans state + batch per micro-batch;
    batch/stream equality is exact while no gram's GLOBAL df exceeds
    the cap (size it from the df histogram first, as in batch mode —
    the cap is a scale guard, not semantics).  Answer by reading
    ``out/batch=*``."""
    from ..llm.dedup import (
        positional_kgram_postings,
        remove_duplicate_spans,
        stitch_span_runs,
    )
    from ..sources.writers import write_table

    state_path = state_path or scratch_dir("span_dedup_state_")
    spark = doc_stream.sparkSession

    def update(batch_df: DataFrame, batch_id: int) -> None:
        # batch_df is NOT checkpointed: each consumer (gram build, the
        # span-removal text scan) is one scan of a single-file
        # micro-batch — cheaper than a dedicated checkpoint job.  The
        # expensive positional-gram pass IS pinned below.
        grams_new = positional_kgram_postings(
            batch_df, text_col=text_col, id_col=id_col, k=k
        ).localCheckpoint(eager=True)
        seen = read_parquet_if_present(spark, f"{state_path}/grams")
        if seen is not None:
            seen = seen.filter(F.col("batch") < batch_id).select("id", "pos", "h")
        allg = grams_new if seen is None else seen.unionByName(grams_new)
        if max_kgram_df is not None:
            from ..operators.diagnostics import drop_hot_buckets

            # Observability (ADVICE r14): the cap applies to the PREFIX
            # (state + batch) df, so a gram that sat under the cap in
            # earlier batches but crosses it NOW already produced pairs
            # the batch twin (global cap) suppresses — batch/stream
            # equality broke the moment this count is nonzero.  Prefix
            # df is monotone, so "under the cap before this batch" means
            # under it at every earlier batch; surface the crossing
            # loudly instead of leaving the divergence silent.
            tot = allg.groupBy("h").agg(F.count("*").alias("__tot"))
            new = grams_new.groupBy("h").agg(F.count("*").alias("__new"))
            prev = F.col("__tot") - F.coalesce(F.col("__new"), F.lit(0))
            crossed = (
                tot.join(new, "h", "left")
                .filter(
                    (F.col("__tot") > max_kgram_df)
                    & (prev > 0)
                    & (prev <= max_kgram_df)
                )
                .count()
            )
            if crossed:
                import warnings

                warnings.warn(
                    f"run_span_dedup_into_state: {crossed} k-gram(s) "
                    f"crossed max_kgram_df={max_kgram_df} at batch "
                    f"{batch_id} — earlier batches emitted pairs for "
                    "them that the batch twin (global cap) suppresses, "
                    "so batch/stream equality no longer holds; size the "
                    "cap from the df histogram (see the batch-mode "
                    "docs) and re-run.",
                    stacklevel=2,
                )
            allg = drop_hot_buckets(allg, ["h"], max_kgram_df)
        right = allg.join(
            batch_df.select(F.col(id_col).alias("id")), "id", "semi"
        )
        runs = stitch_span_runs(allg, right, k=k, min_len=min_len)
        out = remove_duplicate_spans(
            batch_df, text_col=text_col, id_col=id_col, runs=runs
        )
        write_table(
            out.coalesce(1), f"{state_path}/out/batch={batch_id}", mode="overwrite"
        )
        write_table(
            grams_new.coalesce(1),
            f"{state_path}/grams/batch={batch_id}",
            mode="overwrite",
        )

    foreach_batch_into(doc_stream, update, timeout_s=timeout_s, output_mode="append")
    return state_path
