"""Distributed graph operators (SURVEY.md §2b extensions).

``connected_components`` turns near-duplicate PAIRS into CLUSTERS — the
final stage of web-scale dedup (pick one canonical doc per component).
Hash-to-min label propagation: every vertex repeatedly adopts the
minimum label among itself and its neighbors.  Each iteration is one
join + one aggregate (both keyed shuffles); rounds needed = graph
diameter, which for near-dup graphs (dense clique-ish clusters) is tiny.
Each round is checkpointed so lineage stays flat, and the convergence
checksum rides that same materialization action (Observation) — no
driver-side graph materialization, no extra per-round job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F


def _adaptive_parts(df: DataFrame, n_rows: int, rows_per_partition: int) -> int:
    """Loop-frame partition count sized to a MEASURED row count (same
    posture as the guarded broadcast in ``llm/similarity``): tiny graphs
    collapse to one partition and stop paying 32-task scheduling per
    per-round stage; at fact scale the count saturates at the session's
    shuffle partitions and the plan is unchanged."""
    try:
        max_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except Exception:  # noqa: BLE001 - conf lookup only tunes, never gates
        max_parts = 200
    return max(1, min(max_parts, -(-n_rows // max(1, rows_per_partition))))


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 25,
    exact_convergence: bool = False,
    rows_per_partition: int = 2_000_000,
) -> DataFrame:
    """Label each vertex of the undirected graph with the MINIMUM vertex
    id reachable from it.  Returns ``(vertex, component)``.

    Each round's labels are cut with an executor-local checkpoint
    (``localCheckpoint``), so the lineage stays one round deep.

    ``exact_convergence=True`` replaces the non-integral-id checksum
    (probabilistic: a changed round is missed only if 64-bit xxhash
    deltas cancel exactly, ~2^-64/round) with an exact join-based
    label-diff count — one extra keyed join per round, for callers with
    adversarially-chosen string ids where even those odds are
    unacceptable.  Integral-id graphs are exact either way (the
    decimal sum of a monotone-decreasing label set is a perfect
    change detector) and ignore this flag.

    Raises ``RuntimeError`` if not converged within ``max_iterations``
    (diameter bound; near-dup graphs converge in a handful)."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    e = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    # The edge count rides the distinct-materialization job itself
    # (same Observation pattern as the per-round checksum below — one
    # fewer action; under AQE every action is 2-4 stage-batch jobs, so
    # fused scalars are worth more than one job each).
    obs_e = Observation("cc_edge_count")
    e = e.distinct().observe(obs_e, F.count(F.lit(1)).alias("n")).localCheckpoint(
        eager=True
    )
    n_edges = int(obs_e.get["n"])
    n_parts = _adaptive_parts(e, n_edges, rows_per_partition)
    if n_parts < e.rdd.getNumPartitions():
        # Re-lay the edge frame once so every round's join scans
        # n_parts tasks instead of the original shuffle width — the
        # rounds ARE the cost of this operator (tiny-graph measurement:
        # the 32-task per-stage scheduling dominated end-to-end time).
        e = e.repartition(n_parts, "a").localCheckpoint(eager=False)

    # repartition BEFORE the distinct: hashpartitioning(vertex, n_parts)
    # satisfies the aggregate's clustering, so the label frame pays ONE
    # exchange instead of distinct-then-repartition's two (r16: one
    # fewer AQE stage-batch job in setup, same rows).
    labels_plan = (
        e.select(F.col("a").alias("vertex"))
        .repartition(n_parts, "vertex")
        .distinct()
        .withColumn("component", F.col("vertex"))
    )
    # Convergence detection is ONE aggregate over the freshly-
    # checkpointed labels — never a self-join + filter + count (one
    # fewer join per round; the rounds ARE the cost of this operator).
    # Integral ids: sum(component) — min-propagation only ever
    # DECREASES a label, so the sum is strictly monotone until the
    # fixed point; equal sums <=> pointwise-equal labels, EXACTLY.
    # ONLY integral types qualify for that: the checksum casts to
    # decimal(38,0), so a fractional change (1.4 -> 1.2) would be
    # invisible (review-caught bug).  Everything else (string/float
    # ids) sums xxhash64(vertex, component): unchanged labels give an
    # equal sum always; a changed round is missed only if the 64-bit
    # hash deltas cancel exactly (~2^-64/round) — the same cheap-path
    # cost for string-id graphs instead of a per-round join (r8 note).
    numeric = labels_plan.schema["component"].dataType.typeName() in (
        "byte", "short", "integer", "long"
    )

    def _diff_count(old: DataFrame, new: DataFrame) -> int:
        # Exact change detection: keyed join + pointwise compare — one
        # extra shuffle per round, immune to hash-delta cancellation.
        return (
            old.select(F.col("vertex"), F.col("component").alias("__old"))
            .join(new, "vertex")
            .filter(F.col("__old") != F.col("component"))
            .limit(1)
            .count()
        )

    use_checksum = numeric or not exact_convergence
    # The checksum rides the materialization action itself
    # (Observation / CollectMetrics): zero extra jobs per round.
    checksum_col = (
        F.col("component").cast("decimal(38,0)")
        if numeric
        else F.xxhash64("vertex", "component").cast("decimal(38,0)")
    )
    # The INITIAL checksum rides the label materialization the same way
    # each round's rides its own (one fused action instead of
    # materialize + collect).
    if use_checksum:
        obs0 = Observation("cc_round_init")
        labels = labels_plan.observe(
            obs0, F.sum(checksum_col).alias("s")
        ).localCheckpoint(eager=True)
        prev_sum = obs0.get["s"]
    else:
        labels = labels_plan.localCheckpoint(eager=False)
    for rnd in range(max_iterations):
        nbr_min = (
            e.join(labels.select(F.col("vertex").alias("a"), "component"), "a")
            .select(F.col("b").alias("vertex"), "component")
        )
        plan = (
            labels.unionByName(nbr_min)
            .groupBy("vertex")
            .agg(F.min("component").alias("component"))
        )
        if use_checksum:
            obs = Observation(f"cc_round_{rnd}")
            plan = plan.observe(obs, F.sum(checksum_col).alias("s"))
        # eager: flatten lineage before the convergence check
        new_labels = plan.localCheckpoint(eager=True)
        if use_checksum:
            new_sum = obs.get["s"]
            changed = new_sum != prev_sum
            prev_sum = new_sum
        else:
            changed = _diff_count(labels, new_labels) > 0
        labels = new_labels
        if not changed:
            return labels
    raise RuntimeError(f"connected_components did not converge in {max_iterations} iterations")


def greedy_first_fit(
    edges: DataFrame,
    vertices: DataFrame,
    v_col: str = "vertex",
    left: str = "left_id",
    right: str = "right_id",
    max_iterations: int = 50,
    rows_per_partition: int = 2_000_000,
) -> DataFrame:
    """Greedy maximal independent set in vertex-id order — the
    FIRST-FIT acceptance policy: a vertex is kept iff no KEPT
    smaller-id neighbor exists.  Returns ``(vertex, kept)`` for every
    vertex of ``vertices`` (isolated vertices are kept).

    This is the third dedup acceptance policy next to cluster-canonical
    (``connected_components`` min-id survivor: exactly one per
    component) and seen-anyone (the streaming gate's rule: reject on
    ANY earlier neighbor, kept set can under-keep chains).  First-fit
    keeps MORE: in a chain A~B~C it keeps A and C (B's rejection does
    not poison C) — the data-retention-maximizing rule a training
    pipeline wants when near-dup is a similarity, not an equivalence.

    Two regimes, picked by the edge count measured when the oriented
    edges are materialized:

    * **Driver sweep** when ``0 < edges * estimated row bytes <=
      spark.sql.autoBroadcastJoinThreshold`` — the size at which Spark
      would ship the frame whole anyway (pagerank's broadcast gate).
      The edges are collected, ids are swept ascending (a vertex is
      rejected iff one of its smaller neighbors is kept — exact, since
      every smaller id is decided first), and the rejected ids join
      back as a broadcast frame in the caller's action: one collect
      instead of a job per round.  A threshold <= 0 disables it.
    * **Distributed rounds** otherwise: a vertex resolves once every
      smaller-id neighbor is resolved — rejected if any resolved KEPT,
      kept otherwise.  Each round is one join + one aggregate over the
      EDGE set (the near-dup graph, tiny next to the corpus), rounds =
      longest dependency chain (bounded by component diameter; cliques
      resolve in 2).  The driver sees one unresolved-count scalar per
      round, never the graph.  Progress is guaranteed — the minimum
      unresolved vertex always resolves — so ``max_iterations`` is a
      pathological-chain bound, not a tuning knob.

    Edge endpoints are expected to be vertices: the rounds ignore an
    edge whose smaller end is not in ``vertices``, the sweep counts
    that end as kept."""
    # Normalize orientation: "earlier" is defined by ID ORDER, not by
    # which column a pair arrived in — a mis-oriented edge (7, 3) must
    # mean "3 gates 7", and a pair present in both orientations must
    # not deadlock the rounds.  Self-loops are dropped (a vertex cannot
    # gate itself).
    earlier_plan = edges.select(
        F.greatest(F.col(left), F.col(right)).alias("d"),
        F.least(F.col(left), F.col(right)).alias("e"),
    ).filter(F.col("d") != F.col("e"))
    # Edge count rides the materialization job (see
    # connected_components — one fused action instead of two).
    obs_e = Observation("mis_edge_count")
    earlier = earlier_plan.observe(
        obs_e, F.count(F.lit(1)).alias("n")
    ).localCheckpoint(eager=True)
    n_edges = int(obs_e.get["n"])
    # An edge set Spark would broadcast anyway is cheaper to resolve on
    # the driver than by rounds of jobs (same byte gate as pagerank).
    est_bytes = n_edges * _estimated_row_bytes(earlier.schema)
    if 0 < est_bytes <= _auto_broadcast_threshold_bytes(earlier.sparkSession):
        return _greedy_first_fit_on_driver(earlier, vertices, v_col)
    n_parts = _adaptive_parts(earlier, n_edges, rows_per_partition)
    if n_parts < earlier.rdd.getNumPartitions():
        # One-time re-lay so per-round stages run n_parts tasks (the
        # rounds are the cost; see connected_components).
        earlier = earlier.repartition(n_parts, "e").localCheckpoint(eager=False)
    # st: 0 unknown, 1 kept, -1 rejected.  repartition BEFORE the
    # distinct (one exchange, not two — see connected_components).
    status = (
        vertices.select(F.col(v_col).alias("v"))
        .repartition(n_parts, "v")
        .distinct()
        .withColumn("st", F.lit(0))
        .localCheckpoint(eager=False)
    )
    # The unresolved count rides the materialization action itself
    # (Observation) — no separate per-round probe job.
    for rnd in range(max_iterations):
        nb = (
            earlier.join(
                status.select(F.col("v").alias("e"), F.col("st").alias("est")), "e"
            )
            .groupBy("d")
            .agg(
                F.max((F.col("est") == 1).cast("int")).alias("any_kept"),
                F.max((F.col("est") == 0).cast("int")).alias("any_unknown"),
            )
        )
        plan = (
            status.join(nb, status["v"] == nb["d"], "left")
            .select(
                "v",
                F.when(F.col("st") != 0, F.col("st"))
                .when(F.col("any_kept") == 1, F.lit(-1))
                .when(
                    F.col("any_unknown").isNull() | (F.col("any_unknown") == 0),
                    F.lit(1),
                )
                .otherwise(F.lit(0))
                .alias("st"),
            )
        )
        obs = Observation(f"mis_round_{rnd}")
        status = plan.observe(
            obs, F.sum((F.col("st") == 0).cast("int")).alias("unresolved")
        ).localCheckpoint(eager=True)
        if not obs.get["unresolved"]:
            return status.select(F.col("v").alias(v_col), (F.col("st") == 1).alias("kept"))
    raise RuntimeError(f"greedy_first_fit did not converge in {max_iterations} iterations")


def _greedy_first_fit_on_driver(
    earlier: DataFrame, vertices: DataFrame, v_col: str
) -> DataFrame:
    """First-fit over an oriented ``(d, e)`` edge frame small enough to
    collect: sweep ``d`` ascending and reject ``d`` iff some ``e`` of it
    is not rejected.  Exact, because every ``e < d`` is decided before
    ``d`` is reached.  The rejected ids go back as a broadcast frame
    typed like ``d``, so the distinct and the join run lazily in the
    caller's action."""
    import pandas as pd
    from pyspark.sql import types as T

    pdf = earlier.toPandas().sort_values("d")
    rejected = set()
    for d, e in zip(pdf["d"].tolist(), pdf["e"].tolist()):
        if e not in rejected:
            rejected.add(d)
    rej = earlier.sparkSession.createDataFrame(
        pd.DataFrame({"__rej": list(rejected)}),
        T.StructType([T.StructField("__rej", earlier.schema["d"].dataType)]),
    )
    verts = vertices.select(F.col(v_col).alias("v")).distinct()
    return verts.join(F.broadcast(rej), verts["v"] == rej["__rej"], "left").select(
        F.col("v").alias(v_col), F.col("__rej").isNull().alias("kept")
    )


def _estimated_row_bytes(schema) -> int:
    """Conservative per-row byte estimate from the schema alone (no
    job): fixed-width types at their storage width, strings at a
    deliberately pessimistic 48 bytes (UnsafeRow offset+len plus a
    typical short-id payload), anything else at 64."""
    from pyspark.sql import types as T

    width = 0
    for f in schema.fields:
        dt = f.dataType
        if isinstance(dt, (T.LongType, T.DoubleType, T.TimestampType)):
            width += 8
        elif isinstance(dt, (T.IntegerType, T.FloatType, T.DateType)):
            width += 4
        elif isinstance(dt, (T.ShortType,)):
            width += 2
        elif isinstance(dt, (T.ByteType, T.BooleanType)):
            width += 1
        elif isinstance(dt, T.StringType):
            width += 48
        else:
            width += 64
    return max(width, 1)


def _auto_broadcast_threshold_bytes(sess) -> int:
    """The session's ``spark.sql.autoBroadcastJoinThreshold`` in bytes
    (<=0 = broadcasting disabled); size-suffix strings ('10MB',
    '10485760b') parsed the way Spark's byteStringAs does."""
    try:
        raw = str(sess.conf.get("spark.sql.autoBroadcastJoinThreshold")).strip().lower()
    except Exception:  # noqa: BLE001 - conf lookup only tunes, never gates
        return 10 * 1024 * 1024
    mult = 1
    for suffix, m in (
        ("pb", 1 << 50), ("tb", 1 << 40), ("gb", 1 << 30), ("mb", 1 << 20),
        ("kb", 1 << 10), ("p", 1 << 50), ("t", 1 << 40), ("g", 1 << 30),
        ("m", 1 << 20), ("k", 1 << 10), ("b", 1),
    ):
        if raw.endswith(suffix):
            raw, mult = raw[: -len(suffix)], m
            break
    try:
        return int(raw) * mult
    except ValueError:
        return 10 * 1024 * 1024


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping: float = 0.85,
    checkpoint_every: int = 2,
    rows_per_partition: int = 2_000_000,
    broadcast_weight_rows: int = 5_000_000,
    broadcast_weight_bytes: int = 64 << 20,
) -> DataFrame:
    """Fixed-iteration PageRank on a directed graph; returns
    ``(vertex, pagerank)`` with ranks summing to 1 (dangling mass is
    redistributed uniformly each iteration — the standard correction,
    NOT dropped, so the distribution stays a distribution).

    Each iteration is one keyed join + one aggregate: edge weights
    ``1/outdeg(src)`` are precomputed ONCE and reused, so the loop body
    shuffles only the (vertex, rank) frame — the same per-round cost
    profile as :func:`connected_components`.  The dangling-mass scalar
    stays in-plan as a one-row broadcast (no driver collect).  A fixed
    iteration count (the production norm for ranking) rather than
    convergence detection, so the result is deterministic and
    SQL-twinnable by unrolling.

    Scale adaptivity (the same measured-stats posture as the guarded
    broadcast in ``llm/similarity``): the edge count is known after the
    base materialization, so the loop frames are sized to it —
    ``ceil(edges / rows_per_partition)`` partitions (capped at the
    session's shuffle partitions; small graphs collapse to a few
    partitions and stop paying 32-task scheduling per tiny stage),
    and when the weighted-edge frame is under
    ``broadcast_weight_rows`` rows AND its schema-estimated byte size
    fits ``max(spark.sql.autoBroadcastJoinThreshold,
    broadcast_weight_bytes)`` it joins as an explicit broadcast built
    ONCE and reused across rounds (one executor-local map join per
    round instead of shuffling the rank frame).  The byte gate is what
    makes the hint safe: explicit hints override the threshold and AQE
    never demotes them, so rows-alone gating could pin a
    multi-hundred-MB string-keyed frame on the driver.  The dedicated
    64MB default exists because the broadcast amortizes over every
    iteration (a one-shot join's 10MB threshold undervalues it); a
    disabled threshold (``-1``) disables the hint as well.  At
    fact-scale edge counts the gates fail and the plan is exactly as
    before — partition count saturates, no hint, and AQE re-plans
    broadcast-vs-shuffle from observed sizes.

    The dangling-mass scalar has two in-plan shapes, picked by the
    same measured edge count (never a driver collect):

    * **single-partition small-graph path** (``n_parts == 1``): the
      scalar rides a frame-local ``Window.partitionBy()`` sum — the
      loop frames already live in one partition, so the global window
      adds no data movement and removes the per-round broadcast-build
      job of the separate aggregate (measured 3.9 -> 3.2s warm /
      5.7 -> 3.2s first-run for 5 rounds at 587k edges, sf0.1).
    * **partitioned path** (``n_parts > 1``): the classic one-row
      broadcast of a dangling aggregate — a global window would
      funnel the whole rank frame through one task at scale, exactly
      the wrong trade, so it is never used there.

    ``checkpoint_every=0`` disables mid-loop materialization entirely
    (lineage depth grows ~3 shuffles/round — fine for the typical 5-20
    ranking iterations, and one fewer action per skipped round); the
    final round always materializes so callers get a computed frame.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    # One materialized pass produces the deduped edge list AND the
    # 1/outdeg(src) weight (window over the same frame) — previously a
    # separate weights self-join cost its own materialization job.
    ew = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .distinct()
        .withColumn("w", 1.0 / F.count("*").over(Window.partitionBy("s")))
        .localCheckpoint(eager=False)
    )
    n_edges = ew.count()  # one scalar over the checkpointed frame
    n_parts = _adaptive_parts(ew, n_edges, rows_per_partition)
    # One aggregate builds the vertex set AND tags danglingness (no
    # out-edges) — the set is fixed across rounds, only its rank mass
    # changes, so the per-round dangling mass is derived from the rank
    # frame itself instead of a distinct + anti-join per round.
    verts = (
        ew.select(F.col("s").alias("vertex"), F.lit(1).alias("__o"))
        .unionByName(ew.select(F.col("d").alias("vertex"), F.lit(0).alias("__o")))
        .groupBy("vertex")
        .agg((F.max("__o") == 1).alias("__out"))
        .repartition(n_parts, "vertex")
        .localCheckpoint(eager=False)
    )
    n = verts.count()  # one scalar, once — iteration bodies stay lazy
    weights = ew.select("s", "d", "w")
    # Broadcast is gated on ESTIMATED BYTES vs the session's own
    # autoBroadcastJoinThreshold, not rows alone: an explicit hint
    # overrides the threshold and AQE never demotes user hints, so a
    # row-count-only gate could pin a multi-hundred-MB frame (string
    # vertex ids) onto the driver and every executor.  The row cap
    # remains as a belt-and-braces bound; either limit failing skips
    # the hint and leaves broadcast-vs-shuffle to AQE's observed sizes.
    est_bytes = n_edges * _estimated_row_bytes(weights.schema)
    thresh = _auto_broadcast_threshold_bytes(ew.sparkSession)
    # The byte cap is max(session threshold, broadcast_weight_bytes):
    # unlike a one-shot join, this broadcast is built ONCE and reused
    # every iteration, so its build cost amortizes over the loop and a
    # fatter-than-threshold frame is still a measured win (6.5 -> 5.3s
    # warm for 5 rounds at 587k string-keyed edges / ~61MB estimate,
    # sf0.1).  64MB default stays far from driver OOM; an explicitly
    # DISABLED threshold (<= 0) disables the hint too.
    w_join = (
        F.broadcast(weights)
        if thresh > 0
        and n_edges <= broadcast_weight_rows
        and est_bytes <= max(thresh, broadcast_weight_bytes)
        else weights
    )
    gw = Window.partitionBy()
    pr = verts.withColumn("pr", F.lit(1.0 / n))
    for it in range(1, iterations + 1):
        if n_parts == 1:
            # Small-graph path: tag every rank row with the frame-wide
            # dangling sum (free in one partition), fold it through the
            # contrib aggregate, and re-spread it over the joined frame
            # — zero extra jobs, zero broadcast builds per round.
            prd = pr.withColumn(
                "dang",
                F.sum(F.when(~F.col("__out"), F.col("pr")).otherwise(0.0)).over(gw),
            )
            contrib = (
                prd.join(w_join, prd["vertex"] == w_join["s"])
                .groupBy("d")
                .agg(
                    F.sum(F.col("pr") * F.col("w")).alias("contrib"),
                    F.max("dang").alias("dang"),
                )
            )
            pr = (
                verts.join(contrib, verts["vertex"] == contrib["d"], "left")
                .select(
                    "vertex",
                    "__out",
                    (
                        F.lit((1.0 - damping) / n)
                        + damping
                        * (
                            F.coalesce(F.col("contrib"), F.lit(0.0))
                            # max over the frame re-spreads the constant to
                            # rows the left join left NULL; coalesce(0)
                            # covers the no-dangling-vertices graph.
                            + F.coalesce(F.max("dang").over(gw), F.lit(0.0)) / n
                        )
                    ).alias("pr"),
                )
            )
        else:
            contrib = (
                pr.join(w_join, pr["vertex"] == w_join["s"])
                .groupBy("d")
                .agg(F.sum(F.col("pr") * F.col("w")).alias("contrib"))
            )
            dangling = (
                pr.filter(~F.col("__out"))
                .agg(F.coalesce(F.sum("pr"), F.lit(0.0)).alias("dang"))
            )
            pr = (
                verts.join(contrib, verts["vertex"] == contrib["d"], "left")
                .crossJoin(F.broadcast(dangling))
                .select(
                    "vertex",
                    "__out",
                    (
                        F.lit((1.0 - damping) / n)
                        + damping
                        * (F.coalesce(F.col("contrib"), F.lit(0.0)) + F.col("dang") / n)
                    ).alias("pr"),
                )
            )
        # Materializing every round costs an action each; every
        # ``checkpoint_every`` rounds bounds lineage at that depth for
        # roughly half the checkpoint cost (0 = never mid-loop; the
        # last round always materializes so callers get a computed
        # frame).
        if (
            checkpoint_every > 0 and it % checkpoint_every == 0
        ) or it == iterations:
            pr = pr.localCheckpoint(eager=False)
    return pr.select("vertex", F.col("pr").alias("pagerank"))


def pagerank_sql(
    edges_cte: str, iterations: int = 5, damping: float = 0.85, round_dp: int = 8
) -> str:
    """ANSI-SQL twin of :func:`pagerank` (oracle parity helper): the
    fixed iteration count unrolls into a CTE chain — ``edges_cte`` must
    yield columns ``(s, d)``.  Emits ``(vertex, pagerank)`` rounded to
    ``round_dp`` (cross-engine float-sum noise is ~1e-16 relative, far
    below an 8-dp boundary)."""
    d = damping
    parts = [
        f"WITH edges AS ({edges_cte})",
        "verts AS (SELECT s AS v FROM edges UNION SELECT d FROM edges)",
        "nv AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM verts)",
        "w AS (SELECT s, d, 1.0 / (COUNT(*) OVER (PARTITION BY s)) AS w FROM edges)",
        "pr0 AS (SELECT v, 1.0 / (SELECT n FROM nv) AS pr FROM verts)",
    ]
    for i in range(1, iterations + 1):
        p = f"pr{i - 1}"
        parts.append(
            f"c{i} AS (SELECT w.d AS v, SUM(p.pr * w.w) AS contrib "
            f"FROM {p} p JOIN w ON p.v = w.s GROUP BY w.d)"
        )
        parts.append(
            f"g{i} AS (SELECT COALESCE(SUM(p.pr), 0) AS dang FROM {p} p "
            "WHERE NOT EXISTS (SELECT 1 FROM w WHERE w.s = p.v))"
        )
        parts.append(
            f"pr{i} AS (SELECT v.v, (1 - {d}) / (SELECT n FROM nv) + {d} * "
            f"(COALESCE(c.contrib, 0) + (SELECT dang FROM g{i}) / (SELECT n FROM nv)) AS pr "
            f"FROM verts v LEFT JOIN c{i} c ON v.v = c.v)"
        )
    chain = ",\n    ".join(parts)
    return (
        f"{chain}\n    SELECT v AS vertex, ROUND(pr, {round_dp}) AS pagerank "
        f"FROM pr{iterations}"
    )


def triangle_counts(
    edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Per-vertex triangle participation + local clustering coefficient
    via the degree-oriented "forward" algorithm (§2b iterative/graph
    family; the triangle primitive under community detection and
    spam/fraud graph features).

    Returns ``(vertex, degree, triangles, clustering)`` for every
    vertex of the undirected graph, where ``clustering`` is the local
    clustering coefficient ``2T / (deg * (deg - 1))`` (0.0 when
    degree < 2), rounded to 6 decimals.

    Scale shape: the naive triangle join E ⋈ E ⋈ E explodes on hub
    vertices (a degree-d vertex contributes d² wedge rows).  Orienting
    every edge from its lower-(degree, id) endpoint to the higher one
    first makes the edge relation ACYCLIC with max out-degree O(sqrt m)
    on any graph — each triangle then appears exactly once as
    o(u,v) ⋈ o(v,w) ⋈ o(u,w), and the wedge join is generated only
    from out-neighbor lists the orientation already bounded.  This is
    the standard distributed formulation (one degree aggregate + three
    equi-joins, all shuffle-partitioned on vertex keys; AQE broadcasts
    the degree side when small).  No driver-side state, no iteration.
    """
    a, b = F.col(a_col), F.col(b_col)
    und = (
        edges.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .dropna()
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("degree"))
    )
    e = (
        und.join(deg.select(F.col("v").alias("a"), F.col("degree").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("degree").alias("db")), "b")
    )
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = e.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("v"),
    )
    # wedge (u, v, w): u->v and v->w in the oriented graph
    wedges = o.join(
        o.select(F.col("u").alias("v"), F.col("v").alias("w")), "v"
    )
    tri = wedges.join(
        o.select(F.col("u"), F.col("v").alias("w")), ["u", "w"]
    ).select("u", "v", "w")
    per_vertex = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("v"))
        .groupBy("v")
        .agg(F.count("*").alias("triangles"))
    )
    return (
        deg.join(per_vertex, "v", "left")
        .select(
            F.col("v").alias("vertex"),
            "degree",
            F.coalesce("triangles", F.lit(0)).alias("triangles"),
            F.round(
                F.when(
                    F.col("degree") >= 2,
                    2.0
                    * F.coalesce("triangles", F.lit(0))
                    / (F.col("degree") * (F.col("degree") - 1.0)),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("clustering"),
        )
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 4,
    checkpoint_every: int = 2,
) -> DataFrame:
    """Fixed-iteration synchronous label propagation (Raghavan et al.
    2007) — community detection one rung above connected components:
    where CC merges everything reachable, LPA splits a connected graph
    into densely-linked groups by majority vote.  Each vertex starts
    labeled with itself; every round it adopts its neighbors' most
    frequent label (ties break to the SMALLEST label — the
    determinism knob that makes a notoriously order-sensitive
    algorithm reproducible and SQL-twinnable by unrolling).

    Fixed iterations, synchronous updates: the classic caveat is
    two-coloring oscillation on bipartite structures — with a fixed
    round count the result is still deterministic, and community
    QUALITY questions stay the caller's (pick iterations ~ graph
    diameter for stabilization).

    Scale shape per round: one equi-join (labels onto the symmetrized
    edge list), one counting hash aggregate, one row_number window —
    all partitioned on the vertex, so the three stages share the
    shuffle key; the edge list materializes ONCE.  Same per-round cost
    profile as :func:`pagerank`, and the same ``checkpoint_every``
    lineage-depth valve.

    Returns ``(vertex, community)``."""
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    und = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .unionByName(
            edges.select(F.col(dst).alias("s"), F.col(src).alias("d"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = und.select(F.col("s").alias("v")).distinct().withColumn(
        "lbl", F.col("v")
    )
    pick = Window.partitionBy("v").orderBy(
        F.col("__cnt").desc(), F.col("lbl").asc()
    )
    for i in range(int(iterations)):
        counts = (
            und.join(labels.withColumnRenamed("v", "d"), "d")
            .groupBy(F.col("s").alias("v"), "lbl")
            .agg(F.count("*").alias("__cnt"))
        )
        labels = (
            counts.withColumn("__rk", F.row_number().over(pick))
            .filter(F.col("__rk") == 1)
            .select("v", "lbl")
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            labels = labels.localCheckpoint(eager=False)
    return labels.select(F.col("v").alias("vertex"), F.col("lbl").alias("community"))


def label_propagation_sql(edges_cte: str, iterations: int = 4) -> str:
    """ANSI-SQL twin of :func:`label_propagation` (oracle parity
    helper): the fixed iteration count unrolls into a CTE chain —
    ``edges_cte`` must yield columns ``(s, d)``.  Emits ``(vertex,
    community)``."""
    parts = [
        f"WITH edges0 AS ({edges_cte})",
        "und AS (SELECT s, d FROM edges0 UNION SELECT d AS s, s AS d FROM edges0)",
        "l0 AS (SELECT DISTINCT s AS v, s AS lbl FROM und)",
    ]
    for i in range(1, int(iterations) + 1):
        parts.append(
            f"c{i} AS (SELECT und.s AS v, l.lbl, COUNT(*) AS cnt "
            f"FROM und JOIN l{i - 1} l ON und.d = l.v GROUP BY 1, 2)"
        )
        parts.append(
            f"l{i} AS (SELECT v, lbl FROM ("
            f"SELECT v, lbl, ROW_NUMBER() OVER (PARTITION BY v "
            f"ORDER BY cnt DESC, lbl) AS rk FROM c{i}) WHERE rk = 1)"
        )
    chain = ",\n    ".join(parts)
    return (
        f"{chain}\n    SELECT v AS vertex, lbl AS community FROM l{iterations}"
    )


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 4,
) -> DataFrame:
    """Fixed-iteration k-core peel (§2b iterative family): repeatedly
    drop vertices of degree < ``k`` (and their edges) — the standard
    dense-subgraph/robustness filter ("members with at least k STABLE
    connections", spam-ring cores) sitting between raw degree cuts and
    community detection: a high-degree vertex whose neighbors all get
    peeled is peeled too.

    A FIXED ``iterations`` count rather than convergence detection —
    deterministic, SQL-twinnable by unrolling, and in practice the
    peel stabilizes in a few rounds (each round removes a full
    "layer"; pick iterations ~ the peel depth you care about; the
    result after round i is always a SUPERSET of the true k-core).
    Per round: one degree aggregate + two semi-joins to drop edges —
    all partitioned on vertex columns.

    Returns ``(vertex, degree)`` for vertices surviving all rounds,
    with their degree in the FINAL surviving subgraph."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    und = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .unionByName(edges.select(F.col(dst).alias("s"), F.col(src).alias("d")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    cur = und
    for i in range(int(iterations)):
        keep = (
            cur.groupBy("s")
            .agg(F.count("*").alias("__deg"))
            .filter(F.col("__deg") >= int(k))
            .select("s")
        )
        cur = (
            cur.join(keep, "s", "left_semi")
            .join(keep.withColumnRenamed("s", "d"), "d", "left_semi")
            .select("s", "d")
        )
        if (i + 1) % 2 == 0 and i + 1 < iterations:
            cur = cur.localCheckpoint(eager=False)
    return (
        cur.groupBy("s")
        .agg(F.count("*").cast("bigint").alias("degree"))
        .filter(F.col("degree") >= int(k))
        .select(F.col("s").alias("vertex"), "degree")
    )


def k_core_sql(edges_cte: str, k: int, iterations: int = 4) -> str:
    """ANSI-SQL twin of :func:`k_core` (oracle parity helper):
    ``edges_cte`` must yield ``(s, d)``; the fixed peel count unrolls
    into a CTE chain.  Emits ``(vertex, degree)``."""
    parts = [
        f"WITH edges0 AS ({edges_cte})",
        "e0 AS (SELECT s, d FROM edges0 UNION SELECT d AS s, s AS d FROM edges0)",
    ]
    for i in range(1, int(iterations) + 1):
        parts.append(
            f"keep{i} AS (SELECT s AS v FROM e{i - 1} "
            f"GROUP BY 1 HAVING COUNT(*) >= {int(k)})"
        )
        parts.append(
            f"e{i} AS (SELECT e.s, e.d FROM e{i - 1} e "
            f"JOIN keep{i} a ON e.s = a.v JOIN keep{i} b ON e.d = b.v)"
        )
    chain = ",\n    ".join(parts)
    return (
        f"{chain}\n    SELECT s AS vertex, CAST(COUNT(*) AS BIGINT) AS degree "
        f"FROM e{iterations} GROUP BY 1 HAVING COUNT(*) >= {int(k)}"
    )
