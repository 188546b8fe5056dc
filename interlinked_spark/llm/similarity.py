"""Similarity search over embedding columns (SURVEY.md §2b-K).

Two paths:

* :func:`cosine_top_k` — exact brute force: broadcast the (small) query
  set against the corpus, JVM-side dot products via ``zip_with`` +
  ``aggregate``, per-query top-k via window rank.  The right baseline,
  and the right answer whenever |queries| is modest (the corpus side
  streams; nothing materializes the cross product per partition beyond
  the broadcast).
* :func:`lsh_similarity_join` — the scale path for BIG x BIG:
  ``BucketedRandomProjectionLSH`` on L2-normalized vectors (euclidean
  distance on unit vectors is a monotone transform of cosine:
  ``cos = 1 - d²/2``), so only colliding buckets are compared.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..operators.windows import top_k_per_group


def _dot(a, b) -> F.Column:
    # Cast each element to double BEFORE multiplying: float*float
    # rounds the product to float precision first, which diverges from
    # engines that compute in double end-to-end (half-ulp flips at the
    # 6th decimal on ~1e-3 of pairs).
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a) -> F.Column:
    return F.sqrt(_dot(a, a))


def cosine_similarity(a, b) -> F.Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_similarity_vec(a, b) -> F.Column:
    """Arrow-vectorized cosine for PAIR-VERIFY hot paths: one numpy
    einsum per batch instead of an interpreted ``aggregate(zip_with)``
    fold per row — A/B measured 4.8x faster on 2M sf0.1 candidate
    pairs, with zero value differences at the engine's 6-decimal
    rounding (both compute in float64).  Keep the Column expression for
    small/broadcast paths where the Python round-trip isn't paid
    back."""

    @F.pandas_udf("double")
    def _cos(pa: pd.Series, pb: pd.Series) -> pd.Series:
        A = np.vstack(pa.to_numpy()).astype(np.float64)
        B = np.vstack(pb.to_numpy()).astype(np.float64)
        num = np.einsum("ij,ij->i", A, B)
        den = np.sqrt(np.einsum("ij,ij->i", A, A)) * np.sqrt(np.einsum("ij,ij->i", B, B))
        return pd.Series(num / den)

    return _cos(a, b)


def cosine_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int | None = 10_000,
) -> DataFrame:
    """Exact top-k neighbors per query vector by cosine similarity.

    Returns ``(query_id, neighbor_id, cosine)``; self-matches excluded;
    ties broken by neighbor id for determinism.

    The plan is a BroadcastNestedLoopJoin — O(|corpus| * |queries|)
    compares with the whole query set broadcast to every task — so it
    is only sane for a MODEST query side.  ``max_query_rows`` guards
    against misuse (the check is a bounded ``limit(n+1).count()``, not
    a full count): beyond it, raise and point at :func:`ivf_top_k` /
    :func:`lsh_similarity_join`, the scale paths.  Pass ``None`` to
    skip the guard when the caller already knows the size.
    """
    if max_query_rows is not None:
        probe = queries.limit(max_query_rows + 1).count()
        if probe > max_query_rows:
            raise ValueError(
                f"cosine_top_k query side exceeds {max_query_rows} rows; "
                "the brute-force plan broadcasts every query vector to "
                "every corpus task (O(corpus x queries) compares). Use "
                "ivf_top_k (inverted-file ANN) or lsh_similarity_join "
                "for large query sets, or raise/disable max_query_rows."
            )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"))
    scored = (
        c.join(F.broadcast(q), on=F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.round(cosine_similarity_vec(F.col("__qv"), F.col("__cv")), 6))
        .select("query_id", "neighbor_id", "cosine")
    )
    return top_k_per_group(
        scored, ["query_id"], [F.col("cosine").desc(), F.col("neighbor_id").asc()], k
    )


# Fitted BucketedRandomProjectionLSH models keyed by (tables, bucket
# length, dim).  BRP's fit is DATA-INDEPENDENT given the seed: it only
# samples the random unit projection directions (seeded, deterministic)
# and validates the input dim — so reusing the fitted model across
# calls produces bit-identical bucket assignments while skipping one
# driver-side fit job per query (~0.8s/call measured at sf0.1).
_BRP_MODEL_CACHE: dict = {}
# Probed vector dims keyed by (app_id, semantic hash of the analyzed
# plan): the dim probe is itself one Spark job (a limit(1).collect()),
# so a model-cache hit that still re-probed would pay a job per call.
# Semantically-equal plans (the bench loop re-reading the same parquet
# with the same projection) hit this cache and skip the probe entirely.
# Only non-empty probes are cached — an empty frame may gain rows later
# (same path, appended data) and must re-probe.  Known trades, accepted
# deliberately: semanticHash is path-based for file scans, so rewriting
# a parquet path with DIFFERENT-dim vectors inside one application
# serves a stale dim — the resulting wrong-dim model then fails LOUDLY
# in transform (breeze dot on mismatched lengths raises), it never
# mis-buckets silently; and the cache is size-bounded below so a
# long-lived app (one plan per micro-batch) cannot grow it unboundedly.
_DIM_CACHE: dict = {}
_DIM_CACHE_MAX = 256


def hard_negative_mining(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    min_cosine: float | None = None,
    max_anchor_rows: int | None = 10_000,
) -> DataFrame:
    """Hard negatives for contrastive training (§2b-K): for each anchor
    vector, the ``k`` corpus vectors MOST cosine-similar to it whose
    ``label_col`` DIFFERS — the near-miss examples that teach an
    embedding model its decision boundary (random negatives are too
    easy; same-label neighbors are positives, not negatives).

    Plan: the anchor set broadcasts (it is the model-training batch or
    a bounded sample — ``max_anchor_rows`` guards misuse, same contract
    as :func:`cosine_top_k`), dot products run JVM-side (``zip_with``),
    the label-mismatch filter prunes BEFORE the per-anchor top-k window
    (a WindowGroupLimit below the shuffle in Spark 3.5+).  The corpus
    side streams: one scan, no shuffle of corpus rows except the
    bounded per-anchor top-k exchange.  ``min_cosine`` optionally drops
    easy negatives map-side (semi-hard mining), shrinking the window
    input.  Cosine rounds to 6dp BEFORE the top-k window orders on it
    (ties at the rounded value break by neighbor id) — the SQL twin
    orders by the same rounded value, so the k-th boundary cannot flip
    across engines."""
    if max_anchor_rows is not None:
        probe = anchors.limit(max_anchor_rows + 1).count()
        if probe > max_anchor_rows:
            raise ValueError(
                f"hard_negative_mining anchor side exceeds {max_anchor_rows} "
                "rows; the plan broadcasts every anchor to every corpus "
                "task. Mine in bounded anchor batches (the training-loop "
                "shape), or raise/disable max_anchor_rows."
            )
    a = anchors.select(
        F.col(id_col).alias("anchor_id"),
        F.col(vec_col).alias("__av"),
        F.col(label_col).alias("__alabel"),
    )
    c = corpus.select(
        F.col(id_col).alias("negative_id"),
        F.col(vec_col).alias("__cv"),
        F.col(label_col).alias("__clabel"),
    )
    scored = (
        c.join(F.broadcast(a), on=F.col("anchor_id") != F.col("negative_id"))
        .filter(F.col("__clabel") != F.col("__alabel"))
        .withColumn(
            "cosine", F.round(cosine_similarity_vec(F.col("__av"), F.col("__cv")), 6)
        )
    )
    if min_cosine is not None:
        scored = scored.filter(F.col("cosine") >= F.lit(float(min_cosine)))
    return top_k_per_group(
        scored.select("anchor_id", "negative_id", F.col("__clabel").alias("negative_label"), "cosine"),
        ["anchor_id"],
        [F.col("cosine").desc(), F.col("negative_id").asc()],
        k,
    )


def _brp_model(prepped, num_hash_tables: int, bucket_length: float, dim=None):
    """Fitted (cached) BRP model for ``prepped``, or ``None`` when the
    frame is empty (BRP.fit throws on zero rows — an empty side of a
    similarity join must mean an empty RESULT, not a crash).

    ``dim``: the caller's already-probed vector dim (the streaming gate
    probes each micro-batch once at the top) — passing it skips this
    function's own ``limit(1)`` probe job, which the per-batch plan key
    below can never cache away (every micro-batch is a new file, a new
    semanticHash)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import vector_to_array

    # Key includes the application id: a fitted model wraps a JVM-side
    # object bound to its SparkContext, so a cached model from a stopped
    # session must never be served to a new one.  Entries from OTHER
    # (stopped) applications are evicted on sight — the caches stay
    # bounded across session restarts in one process.
    app_id = prepped.sparkSession.sparkContext.applicationId
    for cache in (_BRP_MODEL_CACHE, _DIM_CACHE):
        for k in [k for k in cache if k[0] != app_id]:
            del cache[k]

    # semanticHash is a driver-side JVM call on the analyzed plan (no
    # Spark job): equal hashes mean the SAME logical frame, so its dim
    # was probed before and the limit(1).collect() job can be skipped.
    plan_key = (app_id, prepped._jdf.queryExecution().analyzed().semanticHash())
    if dim is None:
        dim = _DIM_CACHE.get(plan_key)
    if dim is None:
        dim_row = (
            prepped.select(F.size(vector_to_array("features")).alias("d"))
            .limit(1)
            .collect()
        )
        if not dim_row or not dim_row[0]["d"]:
            return None
        dim = int(dim_row[0]["d"])
        if len(_DIM_CACHE) >= _DIM_CACHE_MAX:  # FIFO bound (insertion order)
            _DIM_CACHE.pop(next(iter(_DIM_CACHE)))
        _DIM_CACHE[plan_key] = dim

    key = (app_id, num_hash_tables, bucket_length, dim)
    model = _BRP_MODEL_CACHE.get(key)
    if model is None:
        model = BucketedRandomProjectionLSH(
            inputCol="features",
            outputCol="hashes",
            seed=42,
            numHashTables=num_hash_tables,
            bucketLength=bucket_length,
        ).fit(prepped)
        _BRP_MODEL_CACHE[key] = model
    return model


def _lsh_prep(df: DataFrame, id_col: str, vec_col: str, out_id: str) -> DataFrame:
    from pyspark.ml.feature import Normalizer
    from pyspark.ml.functions import array_to_vector

    vec = df.select(
        F.col(id_col).alias(out_id), array_to_vector(F.col(vec_col)).alias("__v")
    )
    return Normalizer(inputCol="__v", outputCol="features", p=2.0).transform(vec)


def _lsh_assignments(
    df: DataFrame,
    num_tables: int,
    bucket_length: float,
    id_col: str,
    vec_col: str,
    out_id: str,
    model=None,
    projections_per_band: int = 1,
    dim=None,
) -> DataFrame:
    """``(out_id, entry, bucket)`` rows of the random-projection LSH
    banding: L2-normalize (euclidean on unit vectors is a monotone
    transform of cosine), bucket via ``BucketedRandomProjectionLSH``
    (seeded + model-cached -> deterministic across calls and sides),
    explode one row per band.

    ``projections_per_band=r`` composes each band from r quantized
    projections (AND within a band, OR across ``num_tables`` bands —
    the same band structure MinHash uses): a candidate pair must agree
    on ALL r buckets of some band, so per-band collision probability
    drops from p to ~p^r.  This is the structural fix for DENSITY-driven
    quadratic candidate mass — single-projection buckets partition the
    line into O(range/bucket_length) cells, so at fixed parameters the
    per-bucket population (hence candidate pairs) grows quadratically
    with corpus density, measured at exponent ~1.9 in SCALING.json; AND-
    composition multiplies the effective bucket space exponentially in r
    instead.  Recall drops too (1-(1-p^r)^b); hold it by raising
    ``num_tables`` and/or ``bucket_length`` and MEASURE it — the r>1
    output must reproduce the r=1 pair set (see
    ``scaling_bench._near_dups_banded``'s row-equality check).

    Parameter-sweep note (round 7, sf0.1, cos >= 0.3): tightening
    ``bucket_length`` to 0.25 or swapping the banding for explicit
    seeded projections each lost exactly one boundary pair of 14,922 —
    at low cosine thresholds the per-table collision margin is fully
    spent, so the catalog query stays at 12 tables x 0.5 x r=1.  The
    recall-preserving wins are structural (``self_pairs``, model cache,
    AND-banding with compensating width), not parametric."""
    from pyspark.ml.functions import vector_to_array

    prepped = _lsh_prep(df, id_col, vec_col, out_id)
    r = max(1, int(projections_per_band))
    if model is None:
        model = _brp_model(prepped, num_tables * r, bucket_length, dim=dim)
    if model is None:  # empty input: no banding, empty assignment frame
        return prepped.select(
            F.col(out_id),
            F.lit(0).alias("entry"),
            (F.lit(0.0) if r == 1 else F.lit(0).cast("long")).alias("bucket"),
        ).limit(0)
    if r == 1:
        return (
            model.transform(prepped)
            .select(F.col(out_id), F.posexplode("hashes").alias("entry", "__hv"))
            .select(out_id, "entry", F.element_at(vector_to_array("__hv"), 1).alias("bucket"))
        )
    # AND-composition: materialize the quantized projections ONCE as an
    # array column, then hash r-wide slices into band buckets (array
    # reference per band, not a repeated subtree — the HOF-blowup rule).
    scalars = F.transform(
        "hashes", lambda v: F.element_at(vector_to_array(v), 1).cast("long")
    )
    t = model.transform(prepped).select(F.col(out_id), scalars.alias("__s"))
    bands = [
        F.xxhash64(*[F.element_at("__s", i * r + j + 1) for j in range(r)])
        for i in range(num_tables)
    ]
    return t.select(
        F.col(out_id), F.posexplode(F.array(*bands)).alias("entry", "bucket")
    )


def lsh_similarity_join(
    corpus: DataFrame,
    queries: DataFrame,
    threshold_distance: float = 1.0,
    num_hash_tables: int = 4,
    bucket_length: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    self_pairs: bool = False,
    max_bucket_size: int | None = None,
    projections_per_band: int = 1,
) -> DataFrame:
    """Approximate similarity join via random-projection LSH on unit
    vectors.  Returns ``(query_id, neighbor_id, cosine)`` for candidate
    pairs whose euclidean distance on normalized vectors is below the
    threshold — ``threshold_distance=1.0`` keeps pairs with cosine >=
    0.5 (``cos = 1 - d^2/2`` exactly on unit vectors, so the distance
    gate is applied as a cosine floor on the exact recompute).

    Scale shape (same discipline as the MinHash path): only
    ``(table, bucket, id)`` rows travel through the candidate join and
    the pair dedup — never the embedding arrays.  The raw arrays join
    back by id once per DISTINCT candidate pair, and the exact cosine
    (the same expression the oracle-verified brute-force / IVF paths
    use) is evaluated once per pair.  Spark ML's ``approxSimilarityJoin``
    is avoided deliberately: it dedups on the full row structs
    (shuffling every array) and evaluates its distance UDF plus the
    join condition per raw collision, measured ~5x slower here.

    ``self_pairs=True`` is the SAME-table join (near-dup detection):
    the bucket assignment runs ONCE (checkpointed, not once per side)
    and the ``query_id < neighbor_id`` cut is applied BEFORE the pair
    dedup, so each unordered candidate pair crosses the dedup shuffle
    and the cosine verify once instead of twice.  Candidate set per
    unordered pair is identical to the two-sided join's, so recall is
    unchanged.

    The banding is seeded + model-cached (``_lsh_assignments``), so it
    is deterministic across calls and identical for both sides.

    **Choosing** ``bucket_length`` (measured, SCALING.md §AND-banding):
    candidate mass per extra ``projections_per_band`` shrinks with
    branching factor ≈ projection_sd / bucket_length, so a width far
    above the per-projection spread barely cuts mass — on the dim-64
    decorrelated corpus, sd-matched 0.125 collapsed candidate mass
    ~3.7× per projection where this default 0.5 only ~2×.  For unit
    vectors the projection sd is ≈ 1/sqrt(dim); start at
    ``bucket_length ≈ 1/sqrt(dim)`` and verify recall at the target
    threshold.  Pre-flight BEFORE launching the join — the bucket
    assignment is cheap and the candidate mass is exactly predictable::

        from interlinked_spark.operators.diagnostics import bucket_stats
        a = _lsh_assignments(corpus, num_tables, bucket_length,
                             "vec_id", "embedding", out_id="id")
        bucket_stats(a, ["entry", "bucket"], id_col="id").show()
        # pair_mass = raw candidate pairs the self-join would emit

    A coarse width shows up there as a large ``pair_mass`` long before
    any shuffle is paid; widen only if recall at the pinned
    ``num_hash_tables`` drops below target."""
    if self_pairs and queries is not corpus:
        # Candidates AND the exact-cosine verify arrays both come from
        # ``corpus`` on this path; a distinct ``queries`` frame would be
        # silently ignored (dropping or mis-scoring its pairs).  Fail
        # loudly instead.
        raise ValueError(
            "lsh_similarity_join(self_pairs=True) is a same-table join: "
            "pass the same DataFrame object as corpus and queries, or "
            "use self_pairs=False for a two-sided join."
        )

    # Fit ONCE on the corpus side (the reference distribution) — the
    # queries side may legitimately be empty (a day's batch with no new
    # vectors), which must produce an empty RESULT, not a failed fit.
    corpus_model = _brp_model(
        _lsh_prep(corpus, id_col, vec_col, "neighbor_id"),
        num_hash_tables * max(1, projections_per_band),
        bucket_length,
    )

    def buckets(df, out_id):
        return _lsh_assignments(
            df, num_hash_tables, bucket_length, id_col, vec_col, out_id,
            model=corpus_model, projections_per_band=projections_per_band,
        )

    def cap(assign):
        if max_bucket_size is None:
            return assign
        # Hot-bucket cap (same trade as the MinHash/ngram caps): a
        # bucket of K vectors emits K^2/2 candidates per table; above
        # the cap the bucket is dropped before the join.  Pairs whose
        # every shared bucket is oversized are lost — pre-dedup exact
        # duplicates and size the cap from ``lsh_bucket_assignments`` +
        # ``diagnostics.bucket_stats`` first.
        from ..operators.diagnostics import drop_hot_buckets

        return drop_hot_buckets(assign, ["entry", "bucket"], max_bucket_size)

    if self_pairs:
        assign = cap(buckets(corpus, "neighbor_id")).localCheckpoint(eager=False)
        cand = (
            assign.select("entry", "bucket", F.col("neighbor_id").alias("query_id"))
            .join(assign, ["entry", "bucket"])
            .filter(F.col("query_id") < F.col("neighbor_id"))
            .select("query_id", "neighbor_id")
            .dropDuplicates()
        )
    else:
        cand = (
            cap(buckets(queries, "query_id"))
            .join(cap(buckets(corpus, "neighbor_id")), ["entry", "bucket"])
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id")
            .dropDuplicates()
        )
    # Under self_pairs the guard above pinned queries IS corpus; read
    # the verify arrays from corpus explicitly so the one-table shape is
    # visible in the plan source, not an aliasing accident.
    qside = corpus if self_pairs else queries
    qraw = qside.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    craw = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"))
    cos_min = 1.0 - threshold_distance * threshold_distance / 2.0
    return (
        cand.join(qraw, "query_id")
        .join(craw, "neighbor_id")
        .withColumn("cosine", F.round(cosine_similarity_vec(F.col("__qv"), F.col("__cv")), 6))
        .filter(F.col("cosine") >= cos_min)
        .select("query_id", "neighbor_id", "cosine")
    )


def lsh_bucket_assignments(
    df: DataFrame,
    num_hash_tables: int = 4,
    bucket_length: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    projections_per_band: int = 1,
) -> DataFrame:
    """The ``(id, entry, bucket)`` rows the LSH candidate join shuffles —
    the same banding :func:`lsh_similarity_join` builds internally
    (identical prep, normalizer, seed), exposed for pre-flight skew
    checks: feed this through ``operators/diagnostics.bucket_stats`` on
    a hash sample to size the candidate-pair mass BEFORE launching the
    join at 100 TB.  A hot bucket (e.g. a clique of near-identical
    embeddings, or ``bucket_length`` too coarse for the density) shows
    up here as ``max_bucket``/``pair_mass``, and the fix — smaller
    ``bucket_length``, more tables, or pre-dedup of exact duplicates —
    is chosen from the histogram, not discovered mid-shuffle."""
    return _lsh_assignments(
        df, num_hash_tables, bucket_length, id_col, vec_col, "id",
        projections_per_band=projections_per_band,
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    cosine_threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_hash_tables: int = 6,
    projections_per_band: int = 1,
    bucket_length: float = 0.5,
) -> DataFrame:
    """Embedding-cosine near-duplicate detection: LSH self-join, keep
    pairs above the cosine threshold (left < right).

    The LSH distance gate runs with a small margin and the final filter
    is on the EXACT cosine recomputed from the raw arrays, so the
    result is precisely ``{pairs : cosine(a, b) >= t}`` limited only by
    LSH recall — the boundary is never decided by the noisier
    normalized-euclidean distance.  With ``num_hash_tables`` sized for
    the threshold, recall is measured 100% on the test corpora
    (see catalog ``embedding_near_dups``, oracle-checked).

    **Scale warning — this is the measured-quadratic contrast, not the
    100-TB path.**  Random-hyperplane LSH buckets coarsen as the corpus
    grows, so the candidate mass scales ~n^1.9 (SCALING.md: runtime
    exponent 1.93, zero-output control 1.86).  The 100-TB default is
    :func:`ivf_near_dup_pairs_assigned` (catalog
    ``embedding_near_dups_ivf``), whose probed-list candidate mass is
    ``n * n_probe * list_size`` — measured control exponent 0.74 on the
    same corpus.  Keep this LSH form for small corpora or when the
    quantizer fit is unavailable."""
    import math

    # cos >= t  <=>  dist on unit vectors <= sqrt(2 - 2t); 2% margin so
    # the exact-cosine filter owns the boundary.
    max_dist = math.sqrt(max(0.0, 2.0 - 2.0 * cosine_threshold)) * 1.02 + 1e-6
    pairs = lsh_similarity_join(
        df, df, threshold_distance=max_dist, num_hash_tables=num_hash_tables,
        bucket_length=bucket_length,
        id_col=id_col, vec_col=vec_col, self_pairs=True,
        projections_per_band=projections_per_band,
    )
    return (
        pairs.filter(F.col("query_id") < F.col("neighbor_id"))
        .filter(F.col("cosine") >= cosine_threshold)
        .select(
            F.col("query_id").alias("left_id"),
            F.col("neighbor_id").alias("right_id"),
            "cosine",
        )
    )


def ivf_probe_ranks(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector IVF probe assignments ``(id, __v, __cid, __rk)`` —
    each vector's ``n_probe`` nearest centroids of the deterministic
    Lloyd quantizer (:func:`..embeddings.kmeans_fit`), rank 1 being the
    HOME list (the same 6dp-rounded squared distance + lowest-cid
    tiebreak ``kmeans_assign`` argmins over, so ``__rk = 1`` rows equal
    the inverted-file assignment exactly).

    Scale shape: a narrow NO-SHUFFLE projection — the scored centroid
    array is a broadcast literal sorted row-locally, so the cost is
    ``n * k`` distance folds with zero exchanges.  At very large ``k``
    this term is the known IVF assignment cost (``k ~ sqrt(n)``
    balances it against the candidate-verify mass; see
    :func:`ivf_near_dup_pairs_assigned`)."""
    from .embeddings import _centroid_literal

    n_probe = min(n_probe, len(centroids))
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scored = F.transform(
        _centroid_literal(centroids),
        lambda s: F.struct(
            F.round(
                F.aggregate(
                    F.zip_with(v, s["c"], lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ).alias("d"),
            s["cid"].alias("cid"),
        ),
    )
    return df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("__v"),
        F.posexplode(F.slice(F.array_sort(scored), 1, n_probe)).alias("__pos", "__p"),
    ).select(
        "id",
        "__v",
        F.col("__p.cid").alias("__cid"),
        (F.col("__pos") + 1).cast("int").alias("__rk"),
    )


def ivf_near_dup_pairs_assigned(
    ranked: DataFrame,
    cosine_threshold: float = 0.95,
) -> DataFrame:
    """Near-duplicate pairs from IVF probe assignments: candidates are
    the PROBE rows (``__rk <= n_probe``) equi-joined to the HOME rows
    (``__rk = 1``) on list id, so a pair ``(a, b)`` is generated iff
    ``home(b) in probe(a)`` or ``home(a) in probe(b)`` — the inverted-
    file recall contract, symmetric because both directions are
    generated and canonicalized to ``left_id < right_id``.  Survivors
    are verified on the EXACT cosine (6dp) like every other near-dup
    surface, so approximation lives ONLY in candidate recall.

    Scale shape (the fix for the LSH self-join's measured-quadratic
    candidate mass, SCALING.md): the only wide ops are the equi-join on
    list id and the pair dedup.  With list size capped by growing ``k``
    with the corpus (fixed ``n/k``), candidate mass is
    ``n_probe * (n/k) * n`` — LINEAR in ``n`` — versus the random-
    projection buckets whose occupancy is data-distribution-luck.  The
    crossover where the no-shuffle ``n * k`` assignment term catches up
    is ``k ~ sqrt(n)`` (both terms ``n^1.5``); below ~1e5-row lists the
    fixed-list-size posture wins and is what `scaling_bench.py`
    measures.  ``ranked`` comes from :func:`ivf_probe_ranks` (row-local
    literal, the oracle-unrollable path) or any (id, __v, __cid, __rk)
    frame, e.g. an MLlib-fit quantizer at scaled k."""
    home = ranked.filter(F.col("__rk") == 1)
    cand = (
        ranked.select(F.col("id").alias("__pid"), "__cid")
        .join(home.select(F.col("id").alias("__hid"), "__cid"), "__cid")
        .filter(F.col("__pid") != F.col("__hid"))
        .select(
            F.least("__pid", "__hid").alias("left_id"),
            F.greatest("__pid", "__hid").alias("right_id"),
        )
        .dropDuplicates()
    )
    lvec = home.select(F.col("id").alias("left_id"), F.col("__v").alias("__lv"))
    rvec = home.select(F.col("id").alias("right_id"), F.col("__v").alias("__rv"))
    return (
        cand.join(lvec, "left_id")
        .join(rvec, "right_id")
        .withColumn(
            "cosine", F.round(cosine_similarity_vec(F.col("__lv"), F.col("__rv")), 6)
        )
        .filter(F.col("cosine") >= cosine_threshold)
        .select("left_id", "right_id", "cosine")
    )


def embedding_near_dup_pairs_ivf(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    cosine_threshold: float = 0.95,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-routed embedding near-dup pairs (the scale-safe sibling of
    :func:`embedding_near_dup_pairs`): assign every vector to its home
    inverted list and its ``n_probe`` probed lists row-locally, join
    probe-side to home-side on list id, exact-cosine verify.  Recall is
    bounded by the probe set (``n_probe = k`` is exhaustive within the
    quantizer); the catalog twin ``embedding_near_dups_ivf`` measures
    it in-output against the brute-force exact pair set."""
    ranked = ivf_probe_ranks(
        df, centroids, n_probe=n_probe, id_col=id_col, vec_col=vec_col
    )
    return ivf_near_dup_pairs_assigned(ranked, cosine_threshold=cosine_threshold)


def bounded_fit_sample(
    df: DataFrame,
    key_col: str,
    target_rows: int,
    n_total: int | None = None,
) -> DataFrame:
    """A deterministic ~``target_rows``-row sample for model fitting
    (md5-hash keyed, so reproducible across runs/partitionings).  At
    100 TB a coarse quantizer's centroids stop improving after ~1e5
    training rows — fitting on the full corpus is pure waste.  The
    row count is one column-pruned scan; pass ``n_total`` to skip it."""
    from ..operators.sampling import hash_sample

    n = df.count() if n_total is None else n_total
    if n <= target_rows:
        return df
    return hash_sample(df, key_col, target_rows / n, salt="fit")


def ivf_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    fit_sample_rows: int = 100_000,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: KMeans coarse quantizer
    assigns every corpus vector to a centroid; each query searches only
    its ``n_probe`` nearest centroids' inverted lists.

    The scale shape: corpus is partitioned by centroid id (the inverted
    file), queries broadcast to their probed partitions — a 1000x
    corpus only grows the per-list scan, not the all-pairs product.
    Recall is tunable via ``n_probe`` (= n_clusters -> exact).

    The quantizer fits on a deterministic hash sample capped at
    ``fit_sample_rows`` (floored at ``10 * n_clusters``) — centroid
    quality saturates long before that, and a full-corpus ``KMeans.fit``
    would iterate over all 100 TB per Lloyd round.  Assignment
    (``transform``) still covers the full corpus.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    prep = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        array_to_vector(F.col(vec_col)).alias("features"),
    )
    km = KMeans(k=n_clusters, seed=seed, featuresCol="features", predictionCol="centroid")
    fit_df = bounded_fit_sample(
        prep, "neighbor_id", max(fit_sample_rows, 10 * n_clusters)
    )
    model = km.fit(fit_df)
    assigned = model.transform(prep).select("neighbor_id", "__cv", "centroid")

    # Broadcastable centroid table: (centroid id, centroid vector)
    centroids = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    cdf = corpus.sparkSession.createDataFrame(
        centroids, f"centroid int, cvec array<double>"
    )

    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    # Rank centroids per query, keep the n_probe closest.
    qc = (
        q.join(F.broadcast(cdf), on=F.lit(True))
        .withColumn("cdist", -cosine_similarity(F.col("__qv"), F.col("cvec")))
        .select("query_id", "__qv", "centroid", "cdist")
    )
    from ..operators.windows import top_k_per_group

    probed = top_k_per_group(qc, ["query_id"], [F.col("cdist").asc(), F.col("centroid").asc()], n_probe)

    # Inverted-list search: equi-join on centroid — only probed lists scan.
    scored = (
        assigned.join(probed.select("query_id", "__qv", "centroid"), on="centroid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.round(cosine_similarity_vec(F.col("__qv"), F.col("__cv")), 6))
        .select("query_id", "neighbor_id", "cosine")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return top_k_per_group(
        scored, ["query_id"], [F.col("cosine").desc(), F.col("neighbor_id").asc()], k
    )


def build_vector_index(
    corpus: DataFrame,
    path: str,
    num_hash_tables: int = 6,
    bucket_length: float = 0.5,
    projections_per_band: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_files: int = 32,
) -> None:
    """Materialize the corpus's LSH state as a parquet resource — the
    embedding counterpart of ``dedup.build_shingle_index``: band
    assignments (``assignments/``: id, entry, bucket — hash-clustered
    on (entry, bucket) so a batch's candidate lookup co-locates),
    raw vectors for the exact-cosine verify (``vectors/``: id, vec),
    and a one-row ``meta/`` parquet pinning the banding parameters +
    dim, so the matcher can NEVER band a batch with different
    parameters than the stored corpus (silent recall loss).

    Cross-session determinism: BRP projections depend only on the
    fixed seed and the vector dim (see ``_brp_model``), so assignments
    written today match assignments computed tomorrow — the precondition
    for persisting them at all."""
    from ..sources.writers import write_single_file, write_table

    # Probe dim FIRST: a ZERO-ROW corpus (a freshly-seeded streaming-
    # gate index) skips the banding machinery entirely and writes
    # schema-matched empty frames — seeding a gate index should cost
    # two tiny writes, not an LSH pipeline over zero rows.  The fast
    # path keys on row COUNT, never on the probed dim: a non-empty
    # corpus whose first probed row happens to carry a NULL embedding
    # must still band (writing an empty assignments table for a
    # populated corpus would silently match nothing — the exact failure
    # _check_index_dim exists to prevent).
    dim_row = corpus.select(F.size(vec_col).alias("d")).limit(1).collect()
    dim_val = int(dim_row[0]["d"]) if dim_row and dim_row[0]["d"] else None
    if not dim_row:
        assigns = corpus.select(
            F.col(id_col).alias("id"),
            F.lit(0).cast("int").alias("entry"),
            # bucket is DOUBLE (BRP hash values): the type must match
            # _lsh_assignments exactly or the first real append mixes
            # parquet schemas inside assignments/ and breaks the read.
            F.lit(0).cast("double").alias("bucket"),
        )
        num_files = 1
    else:
        assigns = _lsh_assignments(
            corpus, num_hash_tables, bucket_length, id_col, vec_col, "id",
            projections_per_band=projections_per_band,
        )
    write_table(
        assigns.repartition(num_files, F.col("entry"), F.col("bucket")),
        f"{path}/assignments",
    )
    write_table(
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")),
        f"{path}/vectors",
    )
    # Meta is a driver-built 1-row frame: deriving it FROM the corpus
    # would write zero rows for an empty corpus and break every later
    # read.  Dim is null until the first non-empty build/append probes it.
    meta = corpus.sparkSession.createDataFrame(
        [(num_hash_tables, float(bucket_length), int(projections_per_band), dim_val)],
        "num_hash_tables int, bucket_length double, "
        "projections_per_band int, dim int",
    )
    write_single_file(meta, f"{path}/meta")


# "Caller has not probed the batch dim" sentinel for the gate-shape
# fast paths below: None is a legitimate probe result (empty batch), so
# the skip flag must be a distinct object.
_UNPROBED = object()


def _check_index_dim(meta, batch: DataFrame, vec_col: str, caller: str):
    """Enforce the stored index dim against a batch (one limit(1) probe):
    a dim-mismatched batch would band with DIFFERENT random projections
    (the BRP model is keyed per dim), making its buckets incommensurate
    with the stored assignments — zero candidates, zero matches, and a
    gate that silently accepts every near-dup.  Fails loudly instead.
    Returns the probed batch dim (None for an empty batch)."""
    row = batch.select(F.size(vec_col).alias("d")).limit(1).collect()
    batch_dim = int(row[0]["d"]) if row and row[0]["d"] else None
    if meta.dim is not None and batch_dim is not None and batch_dim != int(meta.dim):
        raise ValueError(
            f"{caller}: batch vectors have dim {batch_dim} but the index "
            f"was built at dim {int(meta.dim)} — a mismatched batch bands "
            "with different projections and silently matches nothing. "
            "Rebuild the index or fix the upstream embedder."
        )
    return batch_dim


def update_vector_index(
    accepted_new: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_files: int = 8,
    assignments: DataFrame | None = None,
    meta=None,
    batch_dim=_UNPROBED,
):
    """Append a processed batch's vectors + band assignments to the
    materialized index (parameters come from the stored meta — callers
    cannot drift them).  Append-only, like the shingle index: the
    caller owns acceptance policy.  Returns the EFFECTIVE meta row
    (the freshly-pinned one when this append pinned the dim), so a
    per-batch caller can carry it instead of re-reading ``meta/``.

    ``assignments``: pre-banded ``(id, entry, bucket)`` rows for this
    exact batch, as returned by :func:`vector_gate_rejections` — pass
    them to skip re-banding when the batch was already banded for
    matching (the streaming gate's shape).  They MUST come from this
    index's stored meta parameters; producing them any other way
    re-introduces the parameter drift the meta exists to prevent.

    ``meta`` / ``batch_dim``: per-batch job economics for the gate
    (its wall clock is job count, not bytes) — pass the preloaded meta
    row to skip the per-batch ``meta/`` read, and the dim already
    probed by the matcher's check to skip the second limit(1) probe of
    the SAME batch."""
    from ..sources.writers import write_single_file, write_table

    spark = accepted_new.sparkSession
    if meta is None:
        meta = spark.read.parquet(f"{path}/meta").first()
    if batch_dim is _UNPROBED:
        batch_dim = _check_index_dim(meta, accepted_new, vec_col, "update_vector_index")
    if meta.dim is None and batch_dim is not None:
        # First non-empty append into an empty-seeded index: pin the dim
        # so every later batch is validated against it.
        meta_df = spark.createDataFrame(
            [
                (
                    int(meta.num_hash_tables),
                    float(meta.bucket_length),
                    int(meta.projections_per_band),
                    batch_dim,
                )
            ],
            "num_hash_tables int, bucket_length double, "
            "projections_per_band int, dim int",
        )
        write_single_file(meta_df, f"{path}/meta")
        meta = meta_df.first()
    assigns = (
        assignments
        if assignments is not None
        else _lsh_assignments(
            accepted_new,
            int(meta.num_hash_tables),
            float(meta.bucket_length),
            id_col,
            vec_col,
            "id",
            projections_per_band=int(meta.projections_per_band),
            dim=batch_dim if isinstance(batch_dim, int) else None,
        )
    )
    write_table(
        assigns.repartition(num_files, F.col("entry"), F.col("bucket")),
        f"{path}/assignments",
        mode="append",
    )
    write_table(
        accepted_new.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")),
        f"{path}/vectors",
        mode="append",
    )
    return meta


def lsh_incremental_matches(
    spark,
    index_path: str,
    new: DataFrame,
    cosine_threshold: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Match a NEW vector batch against the MATERIALIZED corpus index:
    band only the batch (parameters + dim from the stored meta), join
    candidates against the stored assignments on (entry, bucket), and
    verify on the exact cosine from the stored vectors — the corpus is
    never re-banded and its scan prunes to the candidate join columns.
    Returns ``(new_id, match_id, cosine)`` with cosine >= threshold.

    The daily-maintenance shape for embeddings, mirroring
    ``dedup.ngram_jaccard_incremental_indexed``: cost is O(batch
    postings x bucket density), not O(corpus).  Within-batch pairs are
    NOT emitted (use ``embedding_near_dup_pairs`` on the batch for
    that); id collisions between batch and corpus match the dedup
    convention — same id never matches itself."""
    meta = spark.read.parquet(f"{index_path}/meta").first()
    batch_dim = _check_index_dim(meta, new, vec_col, "lsh_incremental_matches")
    new_assigns = _lsh_assignments(
        new,
        int(meta.num_hash_tables),
        float(meta.bucket_length),
        id_col,
        vec_col,
        "new_id",
        projections_per_band=int(meta.projections_per_band),
        # dim probed just above — skip the banding model's own probe job
        dim=batch_dim if isinstance(batch_dim, int) else None,
    )
    corpus_assigns = spark.read.parquet(f"{index_path}/assignments").select(
        F.col("id").alias("match_id"), "entry", "bucket"
    )
    if max_bucket_size is not None:
        from ..operators.diagnostics import drop_hot_buckets

        corpus_assigns = drop_hot_buckets(
            corpus_assigns, ["entry", "bucket"], max_bucket_size
        )
    cand = (
        new_assigns.localCheckpoint(eager=False)
        .join(corpus_assigns, ["entry", "bucket"])
        .filter(F.col("new_id") != F.col("match_id"))
        .select("new_id", "match_id")
        .dropDuplicates()
    )
    qraw = new.select(F.col(id_col).alias("new_id"), F.col(vec_col).alias("__qv"))
    craw = spark.read.parquet(f"{index_path}/vectors").select(
        F.col("id").alias("match_id"), F.col("vec").alias("__cv")
    )
    return (
        cand.join(qraw, "new_id")
        .join(craw, "match_id")
        .withColumn(
            "cosine", F.round(cosine_similarity_vec(F.col("__qv"), F.col("__cv")), 6)
        )
        .filter(F.col("cosine") >= cosine_threshold)
        .select("new_id", "match_id", "cosine")
    )


def vector_gate_rejections(
    spark,
    index_path: str,
    batch: DataFrame,
    cosine_threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = None,
    meta=None,
    batch_dim=_UNPROBED,
) -> tuple[DataFrame, DataFrame]:
    """First-seen-wins rejection set for one gate batch, banding the
    batch ONCE: returns ``(rejected_ids, batch_assignments)`` where
    ``rejected_ids`` (column ``new_id``) are batch vectors within
    ``cosine_threshold`` of ANY earlier-seen vector — any corpus vector
    in the index, or a smaller-``id_col`` vector in the same batch
    (kept or not, matching the oracle's "any smaller id" anti-join).

    This is :func:`lsh_incremental_matches` + the within-batch self-join
    fused over a single banded representation: the streaming gate
    previously banded each micro-batch three times (vs-corpus, within-
    batch, index update) — at 100 TB the banding projection over the
    batch is the dominant per-batch cost, so it must be computed once
    and shared.  The returned ``batch_assignments`` (``id, entry,
    bucket``, banded with the stored meta parameters) feed straight
    into :func:`update_vector_index(assignments=...)`.

    Candidate generation is bucket-equi-join only; the decision boundary
    is always the exact cosine recomputed from raw vectors (same
    contract as every LSH path in this module)."""
    # Gate-shape fast path: the caller may hold the (immutable once
    # dim-pinned) meta row and may have probed this batch's dim already
    # — skip the per-batch meta read / second limit(1) probe then.
    if meta is None:
        meta = spark.read.parquet(f"{index_path}/meta").first()
    if batch_dim is _UNPROBED:
        batch_dim = _check_index_dim(meta, batch, vec_col, "vector_gate_rejections")
    assigns = (
        _lsh_assignments(
            batch,
            int(meta.num_hash_tables),
            float(meta.bucket_length),
            id_col,
            vec_col,
            "id",
            projections_per_band=int(meta.projections_per_band),
            # the gate probed this batch's dim at the top — skip the
            # banding model's own per-batch limit(1) probe job
            dim=batch_dim if isinstance(batch_dim, int) else None,
        )
        .localCheckpoint(eager=False)
    )
    new_side = assigns.select(F.col("id").alias("new_id"), "entry", "bucket")

    corpus_assigns = spark.read.parquet(f"{index_path}/assignments").select(
        F.col("id").alias("match_id"), "entry", "bucket"
    )
    if max_bucket_size is not None:
        from ..operators.diagnostics import drop_hot_buckets

        corpus_assigns = drop_hot_buckets(
            corpus_assigns, ["entry", "bucket"], max_bucket_size
        )
    vs_corpus = (
        new_side.join(corpus_assigns, ["entry", "bucket"])
        .filter(F.col("new_id") != F.col("match_id"))
        .select("new_id", "match_id")
        .dropDuplicates()
    )
    within = (
        new_side.join(
            assigns.select(F.col("id").alias("match_id"), "entry", "bucket"),
            ["entry", "bucket"],
        )
        .filter(F.col("match_id") < F.col("new_id"))
        .select("new_id", "match_id")
        .dropDuplicates()
    )

    corpus_vecs = spark.read.parquet(f"{index_path}/vectors").select(
        F.col("id").alias("match_id"), F.col("vec").alias("__cv")
    )
    batch_vecs = batch.select(
        F.col(id_col).alias("match_id"), F.col(vec_col).alias("__cv")
    )
    cand = vs_corpus.join(corpus_vecs, "match_id").unionByName(
        within.join(batch_vecs, "match_id")
    )
    qraw = batch.select(F.col(id_col).alias("new_id"), F.col(vec_col).alias("__qv"))
    rejected = (
        cand.join(qraw, "new_id")
        .withColumn(
            "cosine", F.round(cosine_similarity_vec(F.col("__qv"), F.col("__cv")), 6)
        )
        .filter(F.col("cosine") >= cosine_threshold)
        .select("new_id")
        .distinct()
    )
    return rejected, assigns


def mmr_select(
    vectors: DataFrame,
    query: DataFrame,
    k: int = 5,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    checkpoint_every: int = 4,
    max_k: int = 64,
) -> DataFrame:
    """Maximal marginal relevance selection (Carbonell & Goldstein
    1998): greedily pick ``k`` vectors maximizing ``lam * rel -
    (1 - lam) * max_sim_to_already_selected`` — the diversity-aware
    top-k behind RAG context packing and eval-set curation, where
    plain cosine top-k returns k near-duplicates of the best hit.

    ``query`` must be a ONE-ROW frame with a ``vec_col`` column (pass
    an ungrouped aggregate so the plan auditor can PROVE it one-row).
    Each greedy round is in-plan: the selected set is a growing
    union of one-row TakeOrdered frames (k is small — that is MMR's
    contract; no driver collect, no UDF), the diversity penalty joins
    candidates against the <= k-row broadcast selected frame.  Scores
    round to ``round_dp`` before every argmax with an id tiebreak, so
    both engines pick identical sets in identical order.

    Plan-growth contract (r13 verdict item 4): each in-plan round
    references the previous ``selected`` lineage twice (anti-join +
    penalty join), so the UNCHECKPOINTED plan tree grows ~3x PER ROUND
    — measured compile times 4/8/23/133 s at k = 2/5/8/10 (sf0.001;
    exponential, k=16 is infeasible).  ``checkpoint_every`` truncates
    the ``selected`` lineage every that-many picks (localCheckpoint of
    a <= k-row frame — the rounds' execution work is not repeated, only
    the analyzer's), bounding per-segment growth and making total
    compile ~linear in k: measured 16-39 s at k=16 and 28-76 s at k=32
    across checkpoint_every in {2..6} (vs 133 s at k=10 unbounded;
    SCALING.md) — ~1-2.4 s per round, the irreducible greedy-argmax
    analysis cost.  The default of 4 never triggers at the catalog's
    demo k=5, so the oracle-unrolled plan is unchanged there.  ``max_k`` is the hard guard — MMR's
    sequential argmax is inherently k round-trips, so far past ~64
    picks a diversity SAMPLER (stratified / cluster-based) is the right
    tool, not a longer greedy chain (the `hard_negative_mining`
    guard-contract pattern).

    Returns ``(rank, vec_id, relevance, mmr_score)``, rank 1..k."""
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    if int(k) > int(max_k):
        raise ValueError(
            f"mmr_select: k={k} exceeds max_k={max_k}.  Greedy MMR is "
            "inherently sequential (one argmax round per pick); for "
            "bulk diverse selection use cluster-stratified sampling "
            "(kmeans_fit + per-cluster top-k) and raise max_k "
            "explicitly only if you accept k driver round-trips."
        )
    if checkpoint_every is not None and int(checkpoint_every) < 1:
        raise ValueError(f"checkpoint_every must be >= 1, got {checkpoint_every}")
    # materialize ONCE: every greedy round reads the scored frame, and
    # without this the relevance scan re-executes k times (measured
    # 5.7s -> the scan dominates at sf0.1)
    scored = (
        vectors.join(
            F.broadcast(query.select(F.col(vec_col).alias("__qv")))
        ).select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("__v"),
            F.round(
                cosine_similarity(F.col(vec_col), F.col("__qv")), round_dp
            ).alias("__rel"),
        )
        .localCheckpoint(eager=False)
    )
    first = (
        scored.orderBy(F.col("__rel").desc(), F.col("id").asc())
        .limit(1)
        .select(
            F.lit(1).alias("rank"),
            "id",
            "__v",
            "__rel",
            (F.lit(float(lam)) * F.col("__rel")).alias("__mmr"),
        )
    )
    selected = first
    for r in range(2, int(k) + 1):
        sel_vecs = F.broadcast(
            selected.select(F.col("id").alias("__sid"), F.col("__v").alias("__sv"))
        )
        cand = (
            scored.join(
                selected.select(F.col("id").alias("__sid")), 
                scored["id"] == F.col("__sid"), "left_anti"
            )
            .join(sel_vecs)
            .select(
                "id",
                "__v",
                "__rel",
                F.round(
                    cosine_similarity(F.col("__v"), F.col("__sv")), round_dp
                ).alias("__sim"),
            )
            .groupBy("id", "__v", "__rel")
            .agg(F.max("__sim").alias("__pen"))
        )
        pick = (
            cand.select(
                F.lit(r).alias("rank"),
                "id",
                "__v",
                "__rel",
                F.round(
                    F.lit(float(lam)) * F.col("__rel")
                    - F.lit(1.0 - float(lam)) * F.col("__pen"),
                    round_dp,
                ).alias("__mmr"),
            )
            .orderBy(F.col("__mmr").desc(), F.col("id").asc())
            .limit(1)
        )
        selected = selected.unionByName(pick)
        # Lineage cut: without this the analyzer cost triples per round
        # (see docstring).  The checkpointed frame is <= r rows; the
        # greedy work done so far executes once here instead of at the
        # end — no repeated computation, only a truncated plan.
        if checkpoint_every and r < int(k) and (r - 1) % int(checkpoint_every) == 0:
            selected = selected.localCheckpoint(eager=False)
    return selected.select(
        "rank",
        F.col("id").alias("vec_id"),
        F.col("__rel").alias("relevance"),
        F.col("__mmr").alias("mmr_score"),
    )


def mmr_sql(
    k: int = 5,
    lam: float = 0.7,
    query_vec_id: int = 0,
    table: str = "embeddings",
) -> str:
    """ANSI-SQL twin of :func:`mmr_select` (oracle parity helper): the
    fixed ``k`` unrolls into a CTE chain of argmax + penalty rounds,
    with the identical round-before-compare / id-tiebreak contract."""
    lam = float(lam)
    parts = [
        f"WITH q AS (SELECT embedding FROM {table} WHERE vec_id = {int(query_vec_id)})",
        (
            "cand AS (SELECT c.vec_id AS id, c.embedding AS v, "
            "ROUND(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS rel "
            f"FROM {table} c, q WHERE c.vec_id != {int(query_vec_id)})"
        ),
        (
            f"sel1 AS (SELECT 1 AS rank, id, v, rel, ROUND({lam!r} * rel, 6) AS mmr "
            "FROM cand ORDER BY rel DESC, id LIMIT 1)"
        ),
    ]
    for r in range(2, int(k) + 1):
        prev = f"sel{r - 1}"
        parts.append(
            f"pen{r} AS (SELECT c.id, c.v, c.rel, "
            "MAX(ROUND(list_cosine_similarity(c.v::DOUBLE[], s.v::DOUBLE[]), 6)) AS pen "
            f"FROM cand c, {prev} s WHERE c.id NOT IN (SELECT id FROM {prev}) "
            "GROUP BY 1, 2, 3)"
        )
        parts.append(
            f"pick{r} AS (SELECT {r} AS rank, id, v, rel, "
            f"ROUND({lam!r} * rel - {1.0 - lam!r} * pen, 6) AS mmr "
            f"FROM pen{r} ORDER BY mmr DESC, id LIMIT 1)"
        )
        parts.append(
            f"sel{r} AS (SELECT * FROM {prev} UNION ALL SELECT * FROM pick{r})"
        )
    chain = ",\n    ".join(parts)
    return (
        f"{chain}\n    SELECT rank, id AS vec_id, rel AS relevance, "
        f"mmr AS mmr_score FROM sel{int(k)}"
    )


def explode_token_vectors(
    df: DataFrame,
    n_slices: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(id, tok, tv)`` — the vector sliced into ``n_slices``
    contiguous sub-vectors, one row per "token vector".  The honest
    multi-vector FIXTURE for the late-interaction operators: real
    ColBERT-style corpora carry one vector per token; this derives a
    deterministic multi-vector view from the single-vector test table
    (the multimodal-stub convention — the PLUMBING is real, the token
    vectors are a documented stand-in).  Row-local explode, no
    shuffle."""
    d_expr = F.size(vec_col)
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(F.sequence(F.lit(0), F.lit(n_slices - 1))).alias("tok"),
        F.slice(
            F.col(vec_col),
            F.col("tok") * (d_expr / n_slices).cast("int") + 1,
            (d_expr / n_slices).cast("int"),
        ).alias("tv"),
    )


def maxsim_top_k(
    corpus_tokens: DataFrame,
    query_tokens: DataFrame,
    k: int = 5,
    round_dp: int = 6,
) -> DataFrame:
    """Late-interaction MaxSim retrieval (Khattab & Zaharia 2020,
    ColBERT): both sides are MULTI-VECTOR ``(id, tok, tv)`` frames and
    ``score(q, d) = sum over q's tokens of max over d's tokens of
    cosine(qt, dt)`` — each query token finds its best-matching doc
    token independently, which is why late interaction beats a single
    pooled vector on multi-aspect queries.

    Shape: the bounded query-token set broadcasts (the cosine_top_k
    rider contract); per-token cosines 6dp-round BEFORE the max (ties
    can't flip the max's value) and the per-(query, doc) sum folds over
    the max aggregate — one broadcast join + two hash aggregates + a
    top-k window, no shuffle on the corpus beyond the aggregate.  At
    production scale the corpus token vectors live PQ-coded in the
    materialized index and MaxSim is the re-rank stage over an ANN
    shortlist (`pq_index.ivfpq_index_search_reranked`'s pattern); the
    brute-force form here is the correctness baseline, like
    ``cosine_top_k``.  Returns ``(query_id, neighbor_id, maxsim)``,
    descending-score top-k with ascending-id ties."""
    from ..operators.windows import top_k_per_group

    q = query_tokens.select(
        F.col("id").alias("query_id"),
        F.col("tok").alias("__qt"),
        F.col("tv").alias("__qv"),
    )
    c = corpus_tokens.select(
        F.col("id").alias("neighbor_id"),
        F.col("tv").alias("__cv"),
    )
    pertok = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "__cos", F.round(cosine_similarity(F.col("__qv"), F.col("__cv")), round_dp)
        )
        .groupBy("query_id", "neighbor_id", "__qt")
        .agg(F.max("__cos").alias("__best"))
    )
    scored = pertok.groupBy("query_id", "neighbor_id").agg(
        F.round(F.sum("__best"), round_dp).alias("maxsim")
    )
    return top_k_per_group(
        scored,
        ["query_id"],
        [F.col("maxsim").desc(), F.col("neighbor_id").asc()],
        k,
    )
