"""Merge / upsert operators (SURVEY.md §2b-A/G extensions).

Spark's file sinks have no in-place MERGE (that is a table-format
feature — Delta/Iceberg); the engine expresses upsert as the standard
rewrite: union both sides, keep the winning row per key, write the
result.  One shuffle on the keys; at 100 TB pair it with a partitioned
sink and dynamic partition overwrite so only touched partitions
rewrite.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import MapType


def keep_latest(
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str],
) -> DataFrame:
    """CDC-style compaction: keep ONE row per key — the one ranked first
    by ``order_cols`` descending (e.g. ``["ts", "event_id"]`` = latest
    event, id-tiebroken).  One shuffle on the keys; window group-limit
    pushes the per-key top-1 below the exchange, so only survivors-per-
    partition shuffle at scale."""
    w = Window.partitionBy(*keys).orderBy(*[F.desc(c) for c in order_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _validate_scd2_inputs(
    history: DataFrame,
    changes: DataFrame,
    keys: list[str],
    tracked: list[str],
    ts_col: str,
    is_current: str,
) -> None:
    """Fail fast on the two silent-mis-chain hazards of ``scd2_apply``
    (its documented contract, VERDICT r10 item 6): >1 open row per key,
    and NULL tracked/timestamp values (engines disagree on NULL sort
    order, so a NULL would chain nondeterministically).  Each check is
    one small Spark job with an early-out ``limit(1)``."""
    dup = (
        history.filter(F.col(is_current))
        .groupBy(*keys)
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        key_repr = {k: dup[0][k] for k in keys}
        raise ValueError(
            f"scd2_apply: key {key_repr} has {dup[0]['count']} open "
            f"(is_current) rows in history; the contract allows at most one"
        )
    null_tracked = F.lit(False)
    for c in tracked:
        null_tracked = null_tracked | F.col(c).isNull()
    bad_hist = history.filter(F.col(is_current)).filter(null_tracked).limit(1).collect()
    bad_ch = (
        changes.filter(null_tracked | F.col(ts_col).isNull()).limit(1).collect()
    )
    if bad_hist or bad_ch:
        side = "history open row" if bad_hist else "change row"
        row = (bad_hist or bad_ch)[0].asDict()
        raise ValueError(
            f"scd2_apply: NULL in tracked/timestamp columns of a {side} "
            f"(tracked columns must be non-NULL orderable scalars): {row}"
        )


def scd2_apply(
    history: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    tracked: Sequence[str],
    ts_col: str = "change_ts",
    eff_from: str = "effective_from",
    eff_to: str = "effective_to",
    is_current: str = "is_current",
    end_of_time: str = "9999-12-31 00:00:00",
    drop_stale: bool = False,
    validate: bool = False,
) -> DataFrame:
    """Type-2 slowly-changing-dimension apply: fold a change batch into
    an interval-versioned dimension table.  ``history`` rows are
    ``keys + tracked + (eff_from, eff_to, is_current)``; closed rows
    (``is_current = false``) pass through untouched, each key's OPEN row
    joins the batch's changes in one per-key timeline, consecutive
    same-``tracked`` versions are suppressed (the standard no-op-change
    rule), and the surviving versions re-chain: every version's
    ``eff_to`` is the next version's ``eff_from``; the last is current
    with ``eff_to = end_of_time``.  This is warehouse MERGE-for-SCD2
    (Delta/Iceberg ``MERGE WHEN MATCHED THEN UPDATE/INSERT`` history
    pattern) as a pure rewrite.

    Scale shape: ONE shuffle on ``keys`` — dedupe, suppression (lag)
    and re-chaining (lead) are three window passes over the SAME hash
    partitioning, and the closed history unions back without moving.

    Determinism without engine-specific hashing: equal-timestamp
    changes for one key dedupe to the row with the smallest ``tracked``
    tuple, and all ordering tie-breaks use the ``tracked`` values
    themselves — so an ANSI-SQL oracle reproduces the result exactly.
    Contract: ``tracked`` columns are orderable scalars and non-NULL
    (engines disagree on NULL sort order); change timestamps are
    expected at-or-after the open row's ``eff_from`` (late rows still
    chain deterministically, ordered by timestamp, with the open row
    anchored at its ``eff_from``); at most one open row per key.
    Suppression never drops an OPEN row — it is already-persisted
    state; only change rows are no-op-suppressed.

    ``drop_stale=True`` enforces the monotonicity contract instead of
    merely expecting it: change rows older than their key's open-row
    ``eff_from`` are dropped (keys-partitioned join, same shuffle key
    as the windows).  This is also exactly what makes a foreachBatch
    replay idempotent — every row of an already-applied batch is stale
    against the post-batch state, so re-applying is a no-op (the
    streaming SCD2 sink runs with this on).

    Interval convention: versions are HALF-OPEN ``[eff_from, eff_to)``
    — a version covers instants ``eff_from <= t < eff_to`` and the next
    version starts exactly at the previous one's ``eff_to``.  As-of
    lookups must therefore use ``eff_from <= t AND t < eff_to``, NOT an
    inclusive BETWEEN (which double-matches every boundary instant).
    One deliberate edge follows from this: a change whose timestamp
    equals the open row's ``eff_from`` but with different tracked
    values yields a zero-length version (``eff_from == eff_to``) for
    the superseded open row — under the half-open convention that
    version covers no instant, which is the correct reading of "the
    value changed at the very moment it became effective".

    ``validate=True`` fail-fast-checks the two contract clauses that
    otherwise mis-chain SILENTLY (two Spark jobs, each a keys-grouped
    count that stops at the first violation): at most one open row per
    key, and no NULLs in ``tracked``/timestamp columns."""
    keys = list(keys)
    tracked = list(tracked)
    if validate:
        _validate_scd2_inputs(history, changes, keys, tracked, ts_col, is_current)
    eot = F.lit(end_of_time).cast("timestamp")
    out_cols = [*keys, *tracked, eff_from, eff_to, is_current]

    closed = history.filter(~F.col(is_current)).select(*out_cols)
    open_rows = history.filter(F.col(is_current)).select(
        *keys,
        *tracked,
        F.col(eff_from).cast("timestamp").alias("__ord"),
        F.col(eff_from).cast("timestamp").alias("__from"),
        F.lit(0).alias("__src"),
    )
    ch = changes.select(
        *keys,
        *tracked,
        F.col(ts_col).cast("timestamp").alias("__ord"),
        F.col(ts_col).cast("timestamp").alias("__from"),
        F.lit(1).alias("__src"),
    )
    if drop_stale:
        anchor = open_rows.select(*keys, F.col("__from").alias("__anchor"))
        ch = (
            ch.join(anchor, keys, "left")
            .filter(F.col("__anchor").isNull() | (F.col("__ord") >= F.col("__anchor")))
            .drop("__anchor")
        )
    u = open_rows.unionByName(ch)

    attrs = F.struct(*[F.col(c) for c in tracked])
    # All three window passes (dedupe, suppress, chain) share ONE hash
    # partitioning on the keys — a single exchange; the later passes
    # re-sort in place.  Dedupe is itself lag-based: within an equal
    # (timestamp, src) run ordered by the tracked tuple, the first row
    # is the minimum — the survivors are exactly the per-(key, ts, src)
    # minima a row_number over the finer partitioning would keep, but
    # without the second exchange that finer key would cost
    # (plan-pinned in tests).
    w_chain = Window.partitionBy(*keys).orderBy("__ord", "__src", *tracked)

    slot = F.struct(F.col("__ord"), F.col("__src"))
    deduped = (
        u.withColumn("__prev_slot", F.lag(slot).over(w_chain))
        .filter(F.col("__prev_slot").isNull() | (F.col("__prev_slot") != slot))
        .drop("__prev_slot")
    )
    survived = (
        deduped.withColumn("__prev", F.lag(attrs).over(w_chain))
        .filter(
            (F.col("__src") == 0)
            | F.col("__prev").isNull()
            | (F.col("__prev") != attrs)
        )
        .drop("__prev")
    )
    chained = survived.withColumn("__next", F.lead("__from").over(w_chain)).select(
        *keys,
        *tracked,
        F.col("__from").alias(eff_from),
        F.coalesce(F.col("__next"), eot).alias(eff_to),
        F.col("__next").isNull().alias(is_current),
    )
    return closed.unionByName(chained)


def merge_upsert(
    current: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    version_col: Optional[str] = None,
) -> DataFrame:
    """Upsert ``updates`` into ``current`` by ``keys``: rows present in
    both resolve to the update (or, with ``version_col``, to the highest
    version, updates winning ties).  Schemas must match by name.
    Implemented as union + per-key row_number — ONE shuffle, no
    driver-side diffing.

    When ``updates`` carries several rows for one key with no (or equal)
    ``version_col``, the survivor is made deterministic by a final
    tie-break on a stable hash of the whole row, so reruns and
    repartitionings pick the same row."""
    tagged = current.withColumn("__src", F.lit(0)).unionByName(
        updates.withColumn("__src", F.lit(1))
    )
    order = [F.desc("__src")]
    if version_col is not None:
        order.insert(0, F.desc(version_col))
    # Deterministic last resort: hash every hashable payload column
    # (xxhash64 rejects MapType).
    hashable = [
        f.name for f in current.schema.fields if not isinstance(f.dataType, MapType)
    ]
    order.append(F.xxhash64(*[F.col(c) for c in hashable]).asc())
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        tagged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Table-version diff (§2b-A/G CDC family): classify every key as
    ``added`` / ``removed`` / ``changed`` / ``unchanged`` between two
    snapshots and name the columns that changed — the audit/CDC
    primitive behind "what did yesterday's load actually do" and
    backfill reconciliation (the read-side complement of
    :func:`merge_upsert`).

    ONE full-outer equi-join on the keys; per-column comparison is the
    null-safe ``<=>`` (a NULL -> value transition IS a change, never a
    silent match).  ``changed_cols`` ships as a comma-joined SORTED
    name list — deterministic across partitionings and hashable by the
    value gate.  ``compare_cols`` defaults to every shared non-key
    column.

    Returns keys + ``status`` + ``changed_cols`` ('' except for
    ``changed`` rows)."""
    keys = list(keys)
    if compare_cols is None:
        shared = [c for c in old.columns if c in set(new.columns)]
        compare_cols = [c for c in shared if c not in set(keys)]
    compare_cols = list(compare_cols)
    o = old.select(*keys, *[F.col(c).alias(f"__o_{c}") for c in compare_cols])
    n = new.select(*keys, *[F.col(c).alias(f"__n_{c}") for c in compare_cols])
    # presence flags survive the outer join even when every payload
    # column is NULL on a present side
    o = o.withColumn("__in_o", F.lit(True))
    n = n.withColumn("__in_n", F.lit(True))
    j = o.join(n, keys, "full_outer")
    diffs = F.array_compact(
        F.array(
            *[
                F.when(
                    ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}")), F.lit(c)
                )
                for c in sorted(compare_cols)
            ]
        )
    )
    status = (
        F.when(F.col("__in_o").isNull(), F.lit("added"))
        .when(F.col("__in_n").isNull(), F.lit("removed"))
        .when(F.size(diffs) > 0, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(
        *keys,
        status.alias("status"),
        F.when(status == "changed", F.array_join(diffs, ","))
        .otherwise(F.lit(""))
        .alias("changed_cols"),
    )


def golden_records(
    records: DataFrame,
    pairs: DataFrame,
    id_col: str,
    attr_cols: Sequence[str],
    left_col: str = "left_id",
    right_col: str = "right_id",
) -> DataFrame:
    """Entity-resolution SURVIVORSHIP (the golden-record step downstream
    of every match join in §2b-C): match pairs -> connected components
    -> one canonical record per entity, each attribute resolved by
    MOST-FREQUENT-VALUE voting among the entity's members (nulls
    abstain; ties break on the smaller value — deterministic and
    SQL-twinnable, unlike engine-native ``mode()`` whose tie pick is
    unspecified).  ``entity_id`` is the component's minimum member id;
    unmatched records are their own entity.

    Scale shape: CC is the shared hash-to-min loop
    (`operators/graph.connected_components`, checkpointed); per
    attribute, ONE (entity, value) counting aggregate + a top-1 window
    (WindowGroupLimit below the shuffle) — each attribute's vote frame
    is bounded by distinct values per entity, never the record count.
    Returns ``(entity_id, n_members, <attr>...)``."""
    from .graph import connected_components
    from .windows import top_k_per_group

    comp = connected_components(pairs, left_col, right_col)
    tagged = (
        records.join(comp.withColumnRenamed("vertex", id_col), id_col, "left")
        .withColumn("entity_id", F.coalesce("component", F.col(id_col)))
        .drop("component")
    )
    out = tagged.groupBy("entity_id").agg(
        F.count("*").cast("bigint").alias("n_members")
    )
    for a in attr_cols:
        counts = (
            tagged.filter(F.col(a).isNotNull())
            .groupBy("entity_id", a)
            .agg(F.count("*").alias("__c"))
        )
        pick = top_k_per_group(
            counts, ["entity_id"], [F.col("__c").desc(), F.col(a).asc()], 1
        ).select("entity_id", a)
        out = out.join(pick, "entity_id", "left")
    return out
