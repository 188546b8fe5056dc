"""Measured scaling curves for the dedup/similarity heavy subset.

The 100-TB posture of the LSH/inverted-index/CC stack rests on plan
arguments (bucketed candidate generation, df caps, payload-free
shuffles) plus unit-level stress pins.  This harness converts those
claims into MEASURED exponents: it scales the real sf0.1 ``documents``
and ``embeddings`` tables by k in {1, 3, 10} via perturbation-
duplication, times each heavy catalog query at every k, records the
OUTPUT row count alongside (near-dup queries are output-bound: a
dataset whose pair density is quadratic makes ANY engine quadratic, so
honesty requires separating input scaling from output scaling), and
fits per-query runtime and output exponents (least-squares slope of
log t vs log k).  Results land in SCALING.json; SCALING.md holds the
narrative table.

Perturbation design (what makes the copies scale-honest):
* documents: copy j != 0 suffixes EVERY whitespace token with ``_cj``,
  so copies share ZERO shingles with each other or the original —
  posting lists grow k-fold in count while per-shingle document
  frequency stays constant, which is how a real corpus grows (near-dups
  are local; boilerplate df grows too, but that hazard is the df cap's
  job and is stress-tested separately).  Within a copy the near-dup
  structure is bit-identical to the original, so true pairs grow
  exactly k-fold.
* embeddings: copy j flips each coordinate's sign by a deterministic
  per-(copy, coordinate) hash.  Sign patterns preserve within-copy
  cosines EXACTLY (cos(s.a, s.b) = cos(a, b)) and decorrelate
  cross-copy cosines to ~N(0, 1/8) at dim 64 — cross-copy pairs above
  the 0.3 threshold still occur at a few-percent rate, mirroring the
  base data's own ~5% pair density at that threshold: this dataset's
  near-dup task is intrinsically output-dense, which is exactly why
  the output exponent is recorded.

Usage: ``python scaling_bench.py`` (env: SPARK_GRAFT_SF_DIR base dir,
default /root/testdata/sf0.1; SPARK_GRAFT_SCALE_KS, default "1,3,10";
SPARK_GRAFT_CPUS as in bench.py).  Prints one JSON line per (query, k)
as it goes, then a final summary line.  ``python scaling_bench.py
greedy-gate-ab`` runs only :func:`greedy_gate_ab` (synthetic graphs, no
input files) and prints one JSON line per graph.
"""

from __future__ import annotations

import json
import os
import sys
import shutil
import tempfile
import time
from pathlib import Path

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent))

from interlinked_spark import catalog  # noqa: E402
from interlinked_spark.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

def _near_dups_t90(spark: SparkSession, sf_dir: str):
    """Zero-output control: same table, same banding, threshold 0.9 —
    which NOTHING in this data passes, so every second measured here is
    candidate generation + verify with an empty result.  Its exponent
    isolates where the 0.3-threshold query's time goes: if it tracks
    the real query's exponent, the cost is candidate mass (the banding
    is the bottleneck); if it stayed flat, the cost would be output."""
    from interlinked_spark.llm.similarity import embedding_near_dup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_near_dup_pairs(emb, cosine_threshold=0.9, num_hash_tables=12)


def _near_dups_banded(spark: SparkSession, sf_dir: str):
    """AND-composition variant of the catalog query: same 0.3 threshold,
    bands of 2 projections (selectivity ~p^2 per band) with more bands
    and a wider bucket to hold recall (28 bands x 1.25 measured missing
    0 of 920/990/14,922 true pairs at sf0.001/0.01/0.1).  Output rows
    must MATCH the baseline run at every k — the empirical 100%-recall
    check — while candidate mass (and so runtime) drops; this is the
    structural knob for density-driven quadratic candidate growth."""
    from interlinked_spark.llm.similarity import embedding_near_dup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_near_dup_pairs(
        emb,
        cosine_threshold=0.3,
        num_hash_tables=28,
        projections_per_band=2,
        bucket_length=1.25,
    )


def _semdedup_scaledk(spark: SparkSession, sf_dir: str):
    """SemDeDup with the PAPER's posture — k scales with n so per-
    cluster population (hence within-cluster pair mass per row) stays
    constant.  The catalog query pins k=8 for oracle unrollability; at
    fixed k the within-cluster quadratic makes the whole query
    quadratic in corpus size, which is exactly the regime this variant
    contrasts: same threshold, same arithmetic, n/k held at the base
    ratio (~250 rows/cluster) -> expected ~linear.

    Quantizer: MLlib KMeans (seeded), NOT the catalog's centroid-literal
    Lloyd — a k*d literal expression is the small-fixed-k oracle path;
    its analysis/codegen cost grows with k, which at scaled k would
    measure the compiler, not the data path.  The pair join under test
    is shared verbatim (`semdedup_keep_assigned`)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from interlinked_spark.llm.embeddings import semdedup_keep_assigned

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    kk = max(8, round(emb.count() / 250))
    prep = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("__v"),
        array_to_vector(F.col("embedding")).alias("features"),
    )
    model = KMeans(
        k=kk, seed=42, featuresCol="features", predictionCol="cluster_id"
    ).fit(prep)
    tagged = model.transform(prep).select("id", "__v", "cluster_id")
    keep = semdedup_keep_assigned(tagged, cosine_threshold=0.3)
    return keep.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("n_kept"),
    )


def _ivf_near_dups_scaledk(threshold: float, n_probe: int = 3):
    """IVF-routed near-dup pairs with the SCALE posture — list size
    held at ~250 rows by growing k with n (the semdedup_scaledk
    contract applied to the near-dup surface, r13 verdict item 1).
    Candidate mass is n_probe * 250 * n — linear — versus the LSH
    self-join's measured 1.93/1.86; the no-shuffle n*k assignment term
    stays negligible until n/250 rivals the verify mass (crossover
    k ~ sqrt(n), SCALING.md).

    Quantizer: MLlib KMeans (seeded) for the same reason as
    _semdedup_scaledk — a scaled-k centroid literal would measure plan
    compilation, not the data path.  Probe ranks come from a broadcast
    centroid-table join + per-id window (the distributed shape when k
    is too big for a literal); the pair join under test is the catalog
    path's `ivf_near_dup_pairs_assigned` verbatim."""

    def run(spark: SparkSession, sf_dir: str):
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector
        from pyspark.sql import Window

        from interlinked_spark.llm.similarity import ivf_near_dup_pairs_assigned

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        kk = max(8, round(emb.count() / 250))
        prep = emb.select(
            F.col("vec_id").alias("id"),
            F.col("embedding").alias("__v"),
            array_to_vector(F.col("embedding")).alias("features"),
        )
        model = KMeans(
            k=kk, seed=42, featuresCol="features", predictionCol="__c"
        ).fit(prep)
        cents = [
            (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
        ]
        cdf = spark.createDataFrame(cents, "cid int, cvec array<double>")
        scored = prep.select("id", "__v").crossJoin(F.broadcast(cdf)).withColumn(
            "__d",
            F.aggregate(
                F.zip_with(
                    "__v",
                    "cvec",
                    lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        w = Window.partitionBy("id").orderBy(F.col("__d").asc(), F.col("cid").asc())
        ranked = (
            scored.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= n_probe)
            .select("id", "__v", F.col("cid").alias("__cid"), "__rk")
        )
        return ivf_near_dup_pairs_assigned(ranked, cosine_threshold=threshold)

    return run


# (name, runner) — runner(spark, sf_dir) -> DataFrame; None = catalog query
HEAVY = [
    ("dedup_minhash_pairs", None),
    ("dedup_ngram_jaccard", None),
    ("dedup_clusters", None),
    ("dedup_kept_corpus", None),
    ("dedup_incremental_matches", None),
    ("dedup_incremental_indexed", None),
    ("embedding_near_dups", None),
    ("embedding_near_dups_t90", _near_dups_t90),
    ("embedding_near_dups_banded", _near_dups_banded),
    # round 14 (r13 verdict item 1): the IVF-routed pairs surface —
    # same exact-cosine verify, candidates from probed inverted lists
    # with list size pinned at ~250 by scaling k with n.  The t90
    # zero-output control is the honesty row: its exponent is pure
    # candidate generation + verify, directly comparable to the LSH
    # control's 1.86.
    ("embedding_near_dups_ivf_pairs", _ivf_near_dups_scaledk(0.3)),
    ("embedding_near_dups_ivf_t90", _ivf_near_dups_scaledk(0.9)),
    # round 14 (r13 verdict item 2): exact duplicate-span dedup —
    # detection (positional-3-gram posting join + diagonal stitch) and
    # the removal surgery.  Copies share ZERO k-grams with each other
    # or the original (every token suffixed), so postings grow k-fold
    # at constant per-gram df and true runs grow exactly k-fold: the
    # design claim is ~linear, like the Jaccard family.
    ("doc_duplicate_spans", None),
    ("doc_span_dedup_corpus", None),
    # round 8b: the concat-split packer — two-phase prefix sum + explode
    # should be LINEAR in corpus tokens (copies shift doc_id by the
    # stride, so bucket counts grow k-fold while bucket width stays put)
    ("doc_pack_sequences", None),
    # round 9: the r8b/8c additions the r8 verdict flagged as unmeasured.
    # trade_pagerank / events_hll scale off id-shifted lineitem/orders/
    # events copies (k disjoint subgraphs / k-fold distinct users);
    # embedding_semdedup holds the catalog's k=8 (expected ~quadratic —
    # fixed cluster count means per-cluster population grows with n),
    # with _semdedup_scaledk as the paper-posture contrast.
    ("trade_pagerank", None),
    ("events_hll_state_distinct", None),
    ("embedding_kmeans_clusters", None),
    ("embedding_semdedup", None),
    ("embedding_semdedup_scaledk", _semdedup_scaledk),
    # round 9b: triangle counting (disjoint co-supply subgraphs -> the
    # wedge join should scale ~linearly in k) and the one-pass profiler
    # (single scan + fixed-width partial aggs -> linear, the contrast
    # row that shows what exponent ~1.0 looks like).
    ("supplier_triangles", None),
    ("orders_profile", None),
    # round 9b: BPE training — rounds aggregate the vocab-sized symbol
    # table; scaled docs suffix every token per copy, so the vocabulary
    # grows ~k-fold and the exponent measures the per-round aggregate.
    ("doc_bpe_merges", None),
    # round 9b: the streaming text near-dup gate end-to-end (4 id-ordered
    # micro-batches, shared-postings banding, materialized index) — the
    # per-batch work grows with batch size and index postings, so the
    # design claim is ~linear; staging + per-batch fixed job overhead
    # dominates at small k.
    ("stream_dedup_neardup", None),
    # round 11: budget-prefix selection — the budget is FIXED while the
    # corpus grows k-fold, so bucket-level offset pruning should keep
    # the row-level exchange ~constant and the exponent should track
    # the scan+phase-1 aggregate (sublinear at these sizes), NOT the
    # corpus-sized window a naive global cumsum would pay.
    ("corpus_budget_prefix", None),
    # round 11: the streaming twin — 4 staged micro-batches through the
    # budget gate; admissions are budget-bounded, so per-batch work
    # beyond the batch scan (residual aggregate over committed
    # admissions, batch-partition rewrite) should stay ~flat while the
    # corpus grows k-fold.
    ("stream_budget_admissions", None),
    # round 12 (r11 verdict item 5): the entity-resolution fuzzy join.
    # Scaled part copies shift p_partkey and suffix every p_name token
    # per copy (zero shared grams across copies, same design as
    # documents) while brands stay shared — so per-(brand, gram)
    # document frequency is constant and both posting volume and true
    # pairs grow exactly k-fold: the posting-join design claim is
    # ~linear, NOT the quadratic a within-brand cartesian would show.
    ("part_name_fuzzy_pairs", None),
    # round 13 (r12 verdict item 3): the edit-distance join, on the
    # same case-stable alphabet-remapped part copies as the fuzzy join
    # (within-copy edit distances preserved exactly, cross-copy gram
    # sets disjoint, brands shared -> per-brand population grows
    # k-fold while true pairs grow exactly k-fold).
    ("part_name_edit_pairs", None),
    # round 14 (r13 verdict item 6): the sorted-neighborhood family —
    # the only join operators without measured exponents.  SNM pairs
    # each row with its next-w sort neighbors, so candidates are
    # O(n·w) BY CONSTRUCTION; on the case-stable alphabet-remapped
    # copies the sort interleaves copies (remapped names sort into
    # disjoint ranges), keeping within-window true-pair density
    # comparable while n grows k-fold: both claims are ~linear.  The
    # JW row additionally prices the vectorized Pandas-UDF verify over
    # the blocked pairs (the documented Arrow-tier cost).
    ("part_name_sorted_neighbors", None),
    ("part_name_jw_pairs", None),
    # round 14: the remaining new heavies.  corpus_dsir_select's LMs
    # are dim-bounded aggregates (expected ~linear in the scan);
    # part_golden_records adds the CC loop + vote windows on top of
    # the fuzzy posting join (~linear, pairs grow exactly k-fold);
    # stream_span_dedup is staging-dominated at these sizes like the
    # other streaming gates (~linear beyond fixed per-batch cost).
    ("corpus_dsir_select", None),
    ("part_golden_records", None),
    ("stream_span_dedup", None),
    # round 15 (r14 verdict item 6): the quantization trilogy + the
    # materialized-index path.  embedding_pq_codes is the fit+encode
    # (2*pq_iters+1 jobs per subspace batch over n rows -> ~linear);
    # similarity_pq_adc scores 5 full-precision queries against ALL n
    # coded vectors (~linear in n, the ADC fold per candidate is
    # constant); similarity_ivfpq_probed prunes the same scoring to
    # n_probe=3 of coarse_k=8 lists (~linear with a ~3/8 constant —
    # the catalog pins coarse_k for the oracle, so per-list size grows
    # with n; the scaled-coarse_k posture is measured separately by
    # embedding_near_dups_ivf_*).  similarity_ivfpq_indexed adds the
    # build/append/persist lifecycle per run (4 parquet writes — a
    # harness artifact the production loop amortizes, same caveat as
    # similarity_incremental_indexed).  stream_vector_neardup_pq is
    # deliberately NOT row-ed: its candidate mass is analytically
    # batch x n_probe x list_size with the oracle-pinned FIXED
    # coarse_k=8 (quadratic in n — ~2e10 ADC folds at k=10, unrunnable
    # here and not the claim); the measured scale posture for
    # gate-shaped probed matching is the scaled-coarse_k
    # embedding_near_dups_ivf_* pair above, and the gate itself is
    # timed end-to-end in bench.py secondaries.
    ("embedding_pq_codes", None),
    ("similarity_pq_adc", None),
    ("similarity_ivfpq_probed", None),
    ("similarity_ivfpq_indexed", None),
    # round 16 (r15 verdict item 3): the round-15 surface that shipped
    # without exponents.  similarity_maxsim_topk is the brute-force
    # late-interaction broadcast: corpus tokens grow k-fold (4 per
    # scaled embedding) against a FIXED 20-token query side, so the
    # candidate mass |q_toks| x |c_toks| grows exactly k-fold and the
    # claim is ~linear — the row exists to price that mass honestly
    # against the indexed twin below.  similarity_maxsim_reranked
    # rebuilds its token index per run (the per-run-build harness
    # caveat of similarity_ivfpq_indexed applies) and then pays probed
    # token-ADC + a shortlist-sized exact re-rank.  embedding_pq_rotated
    # is the rotated fit+encode (~linear like embedding_pq_codes; the
    # rotation itself is a row-local matvec).  doc_overlap_chunks /
    # lineitem_month_proration are the map-job confirmations (expect
    # output exponent ~1.0, runtime ≪ shuffle-bound rows).
    # hourly_value_stl / hourly_value_interp / click_position_attribution
    # scale off id-shifted events: k-fold rows over the SAME time range,
    # so the STL/interp grid is constant-size per event_type and the
    # cost beyond the scan is the (keys x hours) window frame;
    # attribution's per-user windows grow with k-fold distinct users.
    # customer_balance_quantile_norm scales off id-shifted customers
    # with UNCHANGED balances: rows grow k-fold while the distinct-value
    # CELLS frame stays ~constant — the row exists to show the cells
    # shape absorbing row growth (the ks_two_sample design argument).
    ("similarity_maxsim_topk", None),
    ("similarity_maxsim_reranked", None),
    ("embedding_pq_rotated", None),
    ("doc_overlap_chunks", None),
    ("lineitem_month_proration", None),
    ("hourly_value_stl", None),
    ("hourly_value_interp", None),
    ("click_position_attribution", None),
    ("customer_balance_quantile_norm", None),
]


def _run(name: str, runner, spark: SparkSession, sf_dir: str):
    if runner is None:
        return catalog.run_query(name, spark, sf_dir)
    return runner(spark, sf_dir)

ID_STRIDE = 10_000_000  # copy j shifts ids by j * stride (collision-free)


def scaled_documents(spark: SparkSession, base: str, k: int):
    docs = spark.read.parquet(f"{base}/documents.parquet")
    parts = []
    for j in range(k):
        if j == 0:
            parts.append(docs)
            continue
        parts.append(
            docs.select(
                (F.col("doc_id") + F.lit(j * ID_STRIDE)).alias("doc_id"),
                # every token suffixed -> zero shared shingles across copies
                F.regexp_replace("text", r"(\S+)", rf"$1_c{j}").alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def scaled_embeddings(spark: SparkSession, base: str, k: int):
    emb = spark.read.parquet(f"{base}/embeddings.parquet")
    parts = []
    for j in range(k):
        if j == 0:
            parts.append(emb)
            continue
        flipped = F.transform(
            "embedding",
            lambda x, i: F.when(
                F.pmod(F.xxhash64(F.lit(j), i), F.lit(2)) == 0, x
            ).otherwise(-x),
        ).cast("array<float>")
        parts.append(
            emb.select(
                (F.col("vec_id") + F.lit(j * ID_STRIDE)).alias("vec_id"),
                flipped.alias("embedding"),
                "label",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _copy_alphabets(n_copies: int) -> list[str]:
    """Per-copy 26-letter private alphabets, CASE-STABLE under the
    queries' ``lower()`` normalization (r12 ADVICE): scan Unicode from
    U+03B1 keeping only category-Ll letters with ``c == c.lower()``,
    then chunk 26 per copy.  The r12 layout (``0x3B1 + 0x80*j``) put
    copy 2 on U+04B1..U+04CA, which ALTERNATES lower/UPPER Cyrillic —
    ``lower()`` collapsed 13 letter pairs, so copy 2's map was no
    longer bijective after normalization and its within-copy fuzzy
    pairs inflated ~22% (SCALING.json k=10 showed 9*207593 + 254260).
    Lowercase-stable letters are fixed points of both Python's and the
    JVM's simple lowercase map, so distinct stays distinct."""
    import unicodedata

    letters: list[str] = []
    cp = 0x3B1
    while len(letters) < 26 * n_copies:
        c = chr(cp)
        if unicodedata.category(c) == "Ll" and c == c.lower():
            letters.append(c)
        cp += 1
    out = ["".join(letters[26 * j : 26 * (j + 1)]) for j in range(n_copies)]
    for a in out:
        assert len(set(a.lower())) == 26, f"copy alphabet not case-stable: {a}"
    return out


def scaled_part(spark: SparkSession, base: str, k: int):
    """k-fold part copies: shifted p_partkey, p_name mapped through a
    PER-COPY DISJOINT alphabet (a-z -> 26 case-stable private letters
    per copy, :func:`_copy_alphabets`), brands SHARED across copies
    (the blocking key's per-brand population grows k-fold, which is
    the honest stress: brand-disjoint copies would hand the join k
    independent problems).

    Why alphabet remapping and not the documents-style ``_cj`` token
    suffix: the fuzzy/edit joins shingle CHARACTERS, and a suffixed
    token ("small_c1" vs "small_c2") still shares most of its 3-grams
    — the first measured run scored a bogus exponent 2.08 because
    every copy's names were cross-copy similar at J >= 0.5.  A
    bijective character map preserves within-copy gram Jaccard and
    edit distance EXACTLY while making cross-copy gram sets disjoint
    (every letter is copy-private; spaces survive but every 3-gram
    contains a letter), so per-(brand, gram) df stays constant and
    true pairs grow exactly k-fold."""
    part = spark.read.parquet(f"{base}/part.parquet")
    src = "abcdefghijklmnopqrstuvwxyz"
    alphabets = _copy_alphabets(max(k - 1, 0))
    parts = [part]
    for j in range(1, k):
        dst = alphabets[j - 1]
        parts.append(
            part.select(
                *[
                    (F.col("p_partkey") + F.lit(j * ID_STRIDE)).alias("p_partkey")
                    if c == "p_partkey"
                    else F.translate(F.lower("p_name"), src, dst).alias("p_name")
                    if c == "p_name"
                    else F.col(c)
                    for c in part.columns
                ]
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def scaled_id_shift(
    spark: SparkSession, base: str, table: str, id_cols: list[str], k: int
):
    """k-fold copy with the listed id columns shifted by j*ID_STRIDE —
    copies are key-disjoint, so joins/groupings scale as k independent
    instances of the base table (disjoint trade subgraphs for pagerank,
    k-fold distinct users for the HLL state)."""
    df = spark.read.parquet(f"{base}/{table}.parquet")
    out = df
    for j in range(1, k):
        out = out.unionByName(
            df.select(
                *[
                    (F.col(c) + F.lit(j * ID_STRIDE)).alias(c)
                    if c in id_cols
                    else F.col(c)
                    for c in df.columns
                ]
            )
        )
    return out


SHIFTED = {
    "events": ["event_id", "user_id"],
    "orders": ["o_orderkey", "o_custkey"],
    # l_partkey shifts too: supplier_triangles projects suppliers over
    # shared parts, and un-shifted part keys would DENSIFY the co-supply
    # graph (k^2 pairs per part) instead of growing it as k disjoint
    # subgraphs.  Nothing in the heavy set joins lineitem to part.
    "lineitem": ["l_orderkey", "l_suppkey", "l_partkey"],
    # round 16: key-shifted customers with UNCHANGED balances — rows
    # grow k-fold while the distinct-balance CELLS frame stays put,
    # which is exactly the claim customer_balance_quantile_norm's row
    # exists to measure.  (No heavy-set query joins customer to the
    # shifted orders' o_custkey, so the dangling keys are inert.)
    "customer": ["c_custkey"],
}


def build_scaled_dir(spark: SparkSession, base: str, k: int) -> str:
    """Materialize a k-scaled sf dir: scaled documents/embeddings
    parquet plus id-shifted events/orders/lineitem copies, everything
    else symlinked from the base dir (the heavy subset never touches
    those, but the catalog's table provider must be able to resolve
    them).  Set SPARK_GRAFT_SCALE_CACHE=<dir> to build each k once and
    reuse across partial (SPARK_GRAFT_SCALE_ONLY) runs."""
    cache = os.environ.get("SPARK_GRAFT_SCALE_CACHE")
    if cache:
        out = os.path.join(cache, f"x{k}")
        # versioned marker: bumping it invalidates cache dirs built
        # under an older SHIFTED/perturbation layout
        if os.path.exists(os.path.join(out, "_DONE_v6")):
            return out
        if os.path.exists(out):  # stale (old-layout or partial) build
            shutil.rmtree(out)
        os.makedirs(out, exist_ok=True)
    else:
        out = tempfile.mkdtemp(prefix=f"scaled_x{k}_")
    scaled_documents(spark, base, k).repartition(8).write.parquet(
        f"{out}/documents.parquet"
    )
    scaled_embeddings(spark, base, k).repartition(4).write.parquet(
        f"{out}/embeddings.parquet"
    )
    scaled_part(spark, base, k).repartition(4).write.parquet(
        f"{out}/part.parquet"
    )
    for t, id_cols in SHIFTED.items():
        scaled_id_shift(spark, base, t, id_cols, k).repartition(8).write.parquet(
            f"{out}/{t}.parquet"
        )
    for t in TABLES:
        if t in ("documents", "embeddings", "part", *SHIFTED):
            continue
        os.symlink(f"{base}/{t}.parquet", f"{out}/{t}.parquet")
    if cache:
        Path(out, "_DONE_v6").touch()
    return out


def decorrelated_embeddings(spark: SparkSession, n: int, d: int = 64):
    """Deterministic pseudo-random direction vectors (xxhash64-derived
    uniform coordinates; no RNG, reproducible) — the realistic large-
    corpus regime where random-pair cosines concentrate near 0
    (dim 64: sd ~ 1/8), unlike the sign-flip scaled corpus whose
    cross-copy density is deliberately adversarial."""
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(d - 1)),
            lambda i: (
                F.pmod(F.xxhash64(F.lit("decor"), F.col("id"), i), F.lit(1_000_000))
                / 500_000.0
                - 1.0
            ).cast("float"),
        ).alias("embedding"),
    )


def ivf_neardup_recall_sweep(
    spark: SparkSession, dirs: dict[int, str], ks: list[int]
) -> dict:
    """Measured in-output recall for the IVF-routed near-dup pairs at
    growing corpus size (r14 verdict item 7 — the SCALING.md:54 output-
    exponent footnote promoted to a measured curve, the treatment
    ``similarity_ivf_probed`` already has).

    Exact reference on a SAMPLED probe set (~500 vectors, stride-
    sampled so every copy contributes): brute-force exact-cosine pairs
    probe x corpus at the 0.3 threshold — n_true is exact for those
    probes, and the brute-force cost stays |probes| * n instead of the
    n^2 a full reference would need at k=10.  The IVF side is the same
    scaled-coarse_k runner the exponent rows measure
    (``_ivf_near_dups_scaledk``); recall = found/true over pairs
    touching a probe.  The IVF verify is the exact cosine, so every
    found pair is true — recall is the ONLY quality axis."""
    from interlinked_spark.llm.similarity import cosine_similarity

    def one(sf_dir: str, n_probe: int) -> dict:
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        n = emb.count()
        stride = max(1, n // 500)
        probes = emb.filter(F.col("vec_id") % stride == 0).select(
            F.col("vec_id").alias("pid"), F.col("embedding").alias("pv")
        )
        exact = (
            F.broadcast(probes)
            .join(
                emb.select(
                    F.col("vec_id").alias("oid"), F.col("embedding").alias("ov")
                ),
                F.col("pid") != F.col("oid"),
            )
            .withColumn(
                "cos", F.round(cosine_similarity(F.col("pv"), F.col("ov")), 6)
            )
            .filter(F.col("cos") >= 0.3)
            .select(
                F.least("pid", "oid").alias("a"), F.greatest("pid", "oid").alias("b")
            )
            .distinct()
        )
        n_true = exact.count()
        start = time.perf_counter()
        ivf = _ivf_near_dups_scaledk(0.3, n_probe=n_probe)(spark, sf_dir).filter(
            (F.col("left_id") % stride == 0) | (F.col("right_id") % stride == 0)
        )
        n_found = (
            ivf.select(
                F.least("left_id", "right_id").alias("a"),
                F.greatest("left_id", "right_id").alias("b"),
            )
            .distinct()
            .join(exact, ["a", "b"], "left_semi")
            .count()
        )
        return {
            "n_vectors": n,
            "n_probe": n_probe,
            "n_probes": n // stride if stride > 1 else n,
            "n_true_pairs": n_true,
            "n_found_pairs": n_found,
            "recall": round(n_found / n_true, 4) if n_true else None,
            "ivf_sec": round(time.perf_counter() - start, 3),
        }

    out: dict[str, dict] = {}
    for k in ks:
        out[str(k)] = one(dirs[k], 3)
        print(
            json.dumps({"ivf_neardup_recall": {str(k): out[str(k)]}},
                       separators=(",", ":")),
            flush=True,
        )
    # The n_probe dial at the LARGEST corpus: recall decays at fixed
    # n_probe=3 while lists proliferate (kk = n/250) — probing a fixed
    # FRACTION of lists is the standard recovery, and its price is the
    # proportional candidate-mass (runtime) growth measured alongside.
    dial: dict[str, dict] = {}
    for n_probe in (9, 27):
        r = one(dirs[ks[-1]], n_probe)
        dial[str(n_probe)] = r
        print(
            json.dumps({"ivf_neardup_recall_nprobe": {str(n_probe): r}},
                       separators=(",", ":")),
            flush=True,
        )
    out["nprobe_dial_at_max_k"] = dial
    return out


def candidate_mass_sweep(spark: SparkSession, n: int) -> dict:
    """Raw LSH candidate-pair mass (pre-flight ``bucket_stats``, no join
    launched) for the AND-banding r sweep on the DECORRELATED corpus —
    the r8 verdict's missing scaling point: on realistic data each extra
    projection per band multiplies effective bucket space, so mass
    collapses in r even at FIXED band count, where the dense corpus
    (SCALING.md round-8 table) only traded mass against recall."""
    from interlinked_spark.llm.similarity import lsh_bucket_assignments
    from interlinked_spark.operators.diagnostics import bucket_stats

    emb = decorrelated_embeddings(spark, n).cache()
    emb.count()
    out = {"n_vectors": n}
    # Two widths: the catalog's 0.5 (coarse vs the decorrelated
    # projection sd of ~1/8 at dim 64 -> ~2 occupied buckets per
    # projection, so mass halves per extra r) and a width MATCHED to
    # that sd (0.125 -> ~4x collapse per extra r) — the branching
    # factor of the exponential is range/bucket_length, which is the
    # tuning story: match the width to the data's projection spread.
    for name, tables, bl, r in [
        ("r1_12x0.5", 12, 0.5, 1),
        ("r2_12x0.5", 12, 0.5, 2),
        ("r3_12x0.5", 12, 0.5, 3),
        ("r1_12x0.125", 12, 0.125, 1),
        ("r2_12x0.125", 12, 0.125, 2),
        ("r3_12x0.125", 12, 0.125, 3),
    ]:
        asg = lsh_bucket_assignments(
            emb, num_hash_tables=tables, bucket_length=bl, projections_per_band=r
        )
        row = bucket_stats(asg, ["entry", "bucket"], "id").collect()[0]
        out[name] = {
            "pair_mass": int(row.pair_mass),
            "max_bucket": int(row.max_bucket),
            "n_buckets": int(row.n_buckets),
        }
    emb.unpersist()
    return out


def _rerank_index(spark: SparkSession, sf_dir: str) -> tuple[str, object]:
    """One stored IVF-PQ index over the base embeddings (catalog
    geometry: base-subset fit, held-out fifth appended) shared by the
    two round-16 stored-index sweeps."""
    from interlinked_spark.llm.pq_index import (
        append_ivfpq_index,
        build_ivfpq_index,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = tempfile.mkdtemp(prefix="scale_rrk_idx_")
    build_ivfpq_index(
        e.filter(F.col("vec_id") % 5 != 0), path,
        coarse_k=8, m=8, k=16, num_files=2,
    )
    append_ivfpq_index(
        e.filter(F.col("vec_id") % 5 == 0), path, num_files=1, stats=False
    )
    return path, e


def ivfpq_rerank_c_sweep(spark: SparkSession, sf_dir: str) -> dict:
    """Shortlist-width dial for the two-stage re-rank (r15 verdict
    items 3/7): for c in {5, 20, 50}, time the stored-index re-ranked
    search and measure in-run recall@5 against the EXACT squared-L2
    top-5 (computed brute-force over the full corpus, self excluded).
    What c buys: the re-rank recovers ADC-ordering error INSIDE the
    probed lists — a neighbor whose home list was never probed is a
    stage-0 miss no shortlist width recovers (that dial is n_probe,
    measured by the recall sweep's probe axis).  So recall should rise
    with c and saturate at the probe ceiling, while cost grows with
    the |q| x c exact reads."""
    from pyspark.sql import Window

    from interlinked_spark.llm.pq_index import ivfpq_index_search_reranked

    path, e = _rerank_index(spark, sf_dir)
    qs = e.filter(F.col("vec_id") < 5)
    q = qs.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("__q"))
    c_ = e.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("__n"))
    l2 = F.round(
        F.aggregate(
            F.zip_with(
                "__q", "__n",
                lambda a, b: (a.cast("double") - b.cast("double"))
                * (a.cast("double") - b.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    exact = (
        c_.join(F.broadcast(q), F.col("qid") != F.col("nid"))
        .withColumn("__l2", l2)
        .withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(F.col("__l2").asc(), F.col("nid").asc())
            ),
        )
        .filter(F.col("__rk") <= 5)
        .select("qid", "nid")
        .collect()
    )
    truth: dict[int, set] = {}
    for r in exact:
        truth.setdefault(r.qid, set()).add(r.nid)
    out: dict[str, dict] = {}
    for c in (5, 20, 50):
        start = time.perf_counter()
        got = ivfpq_index_search_reranked(
            spark, path, qs, e, k=5, c=c, n_probe=3
        ).collect()
        sec = round(time.perf_counter() - start, 3)
        by_q: dict[int, set] = {}
        for r in got:
            by_q.setdefault(r.query_id, set()).add(r.neighbor_id)
        recall = round(
            sum(len(by_q.get(qid, set()) & t) / len(t) for qid, t in truth.items())
            / max(len(truth), 1),
            3,
        )
        out[str(c)] = {"sec": sec, "recall_at_5": recall}
        print(
            json.dumps(
                {"rerank_c": c, "sec": sec, "recall_at_5": recall},
                separators=(",", ":"),
            ),
            flush=True,
        )
    shutil.rmtree(path, ignore_errors=True)
    return out


def ivfpq_filter_selectivity_sweep(spark: SparkSession, sf_dir: str) -> dict:
    """Selectivity dial for filtered ANN (r15 verdict item 3): the
    ``allowed`` predicate semi-joins the CODES side BEFORE scoring, so
    the ADC candidate mass — counted directly from the scored frame,
    pre-top-k — should track the filter's selectivity ~proportionally
    (the design claim: excluded vectors never cost an ADC fold).
    Sweeps label % m == 0 for m in {1, 2, 10} (~100/50/10% of the
    corpus) and records selectivity, candidate mass, and search time."""
    from interlinked_spark.llm.pq_index import (
        _adc_scored,
        _probed_queries,
        ivfpq_index_search,
        load_ivfpq_index,
    )

    path, e = _rerank_index(spark, sf_dir)
    n_corpus = e.count()
    qs = e.filter(F.col("vec_id") < 5)
    coarse, books, _meta = load_ivfpq_index(spark, path)
    out: dict[str, dict] = {}
    for m in (1, 2, 10):
        allowed = e.filter(F.col("label") % m == 0)
        sel = round(allowed.count() / n_corpus, 3)
        coded = spark.read.parquet(f"{path}/codes").join(
            allowed.select(F.col("vec_id").alias("id")), "id", "semi"
        )
        probed = _probed_queries(qs, coarse, 3, "vec_id", "embedding")
        mass = _adc_scored(coded, probed, coarse, books).count()
        start = time.perf_counter()
        ivfpq_index_search(
            spark, path, qs, k=5, n_probe=3, allowed=allowed
        ).write.format("noop").mode("overwrite").save()
        sec = round(time.perf_counter() - start, 3)
        out[str(m)] = {
            "selectivity": sel, "adc_candidates": mass, "sec": sec
        }
        print(
            json.dumps(
                {"filter_mod": m, "selectivity": sel,
                 "adc_candidates": mass, "sec": sec},
                separators=(",", ":"),
            ),
            flush=True,
        )
    shutil.rmtree(path, ignore_errors=True)
    return out


def greedy_gate_ab(spark: SparkSession, n_edges: int = 650_000, reps: int = 5) -> dict:
    """A/B of ``greedy_first_fit``'s two paths at the top of its driver
    gate: ``n_edges`` long-id edges estimate 16 bytes each, so the
    default 650k sit just under the default 10 MB broadcast threshold.
    The arms alternate within one session, the distributed rounds with
    ``spark.sql.autoBroadcastJoinThreshold=-1``; each timing is build +
    noop write, and both arms must return the same kept set.  Graphs:
    ``chains`` is disjoint 11-vertex paths (one vertex resolves per
    round, so 11 rounds); ``random`` is hashed uniform pairs over
    ``2 * n_edges`` vertices."""
    from interlinked_spark.operators.graph import greedy_first_fit

    key = "spark.sql.autoBroadcastJoinThreshold"
    n_chains = n_edges // 10
    graphs = {
        "chains": (
            spark.range(n_chains * 11)
            .filter(F.col("id") % 11 != 10)
            .select(F.col("id").alias("left_id"), (F.col("id") + 1).alias("right_id")),
            spark.range(n_chains * 11).withColumnRenamed("id", "vertex"),
        ),
        "random": (
            spark.range(n_edges).select(
                F.pmod(F.xxhash64("id", F.lit(1)), F.lit(2 * n_edges)).alias("left_id"),
                F.pmod(F.xxhash64("id", F.lit(2)), F.lit(2 * n_edges)).alias("right_id"),
            ),
            spark.range(2 * n_edges).withColumnRenamed("id", "vertex"),
        ),
    }
    old = spark.conf.get(key)
    out = {}
    try:
        for name, (edges, verts) in graphs.items():
            secs = {"driver": [], "distributed": []}
            digests = set()
            for rep in range(reps + 1):  # rep 0 warms both arms, untimed
                for arm, thresh in (("driver", old), ("distributed", "-1")):
                    spark.conf.set(key, thresh)
                    start = time.perf_counter()
                    kept = greedy_first_fit(edges, verts)
                    kept.write.format("noop").mode("overwrite").save()
                    if rep:
                        secs[arm].append(round(time.perf_counter() - start, 3))
                    row = kept.agg(
                        F.sum(F.col("kept").cast("long")).alias("n"),
                        F.bit_xor(F.xxhash64("vertex", "kept")).alias("h"),
                    ).first()
                    digests.add((row.n, row.h))
            if len(digests) != 1:
                raise AssertionError(f"greedy_gate_ab {name}: arms disagree {digests}")
            out[name] = {
                "secs": secs,
                "median": {a: sorted(t)[len(t) // 2] for a, t in secs.items()},
                "driver_won": sum(d < r for d, r in zip(secs["driver"], secs["distributed"])),
                "kept": digests.pop()[0],
            }
            print(json.dumps({name: out[name]}, separators=(",", ":")), flush=True)
    finally:
        spark.conf.set(key, old)
    return out


def fit_exponent(points: list[tuple[float, float]]) -> float:
    """Least-squares slope of log(y) on log(x)."""
    import math

    xs = [math.log(x) for x, _ in points]
    ys = [math.log(max(y, 1e-9)) for _, y in points]
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    denom = sum((x - mx) ** 2 for x in xs)
    if denom == 0:
        return float("nan")
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / denom


def main() -> None:
    base = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    ks = [
        int(x)
        for x in os.environ.get("SPARK_GRAFT_SCALE_KS", "1,3,10").split(",")
    ]
    reps = max(1, int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "2")))
    only = os.environ.get("SPARK_GRAFT_SCALE_ONLY")
    heavy = [
        (n, r) for n, r in HEAVY if not only or n in only.split(",")
    ]
    spark = get_spark("scaling-bench")
    spark.sparkContext.setLogLevel("ERROR")

    dirs = {k: build_scaled_dir(spark, base, k) for k in ks}
    results: dict[str, dict] = {name: {"secs": {}, "rows": {}} for name, _ in heavy}

    # Warm sweep at the smallest k, outside the measured window: JVM
    # codegen + ML model fits otherwise land entirely inside the first
    # measured query (observed 5.8s -> 1.0s on dedup_minhash_pairs).
    for name, runner in heavy:
        _run(name, runner, spark, dirs[ks[0]]).write.format("noop").mode(
            "overwrite"
        ).save()

    for k in ks:  # k-major order: per-k JVM/load drift spreads over queries
        for name, runner in heavy:
            times = []
            for _ in range(reps):
                start = time.perf_counter()
                _run(name, runner, spark, dirs[k]).write.format("noop").mode(
                    "overwrite"
                ).save()
                times.append(time.perf_counter() - start)
            rows = _run(name, runner, spark, dirs[k]).count()
            best = round(min(times), 3)
            results[name]["secs"][k] = best
            results[name]["rows"][k] = rows
            print(
                json.dumps(
                    {"query": name, "k": k, "sec": best, "rows": rows},
                    separators=(",", ":"),
                ),
                flush=True,
            )

    summary = {}
    for name, _runner in heavy:
        secs, rows = results[name]["secs"], results[name]["rows"]
        t_exp = fit_exponent([(k, secs[k]) for k in ks])
        r_exp = fit_exponent([(k, max(rows[k], 1)) for k in ks])
        summary[name] = {
            "secs": {str(k): secs[k] for k in ks},
            "rows": {str(k): rows[k] for k in ks},
            "runtime_exponent": round(t_exp, 2),
            "output_exponent": round(r_exp, 2),
        }
        if len(ks) >= 2:
            # Marginal exponent over the top two scales: at seconds-long
            # absolute times the fixed per-job overhead (~1-2s of task
            # scheduling) deflates the full fit; the marginal slope is
            # the one that predicts the NEXT 10x.
            import math

            k1, k2 = ks[-2], ks[-1]
            summary[name]["marginal_exponent"] = round(
                math.log(secs[k2] / secs[k1]) / math.log(k2 / k1), 2
            )
    mass = None
    if not os.environ.get("SPARK_GRAFT_SCALE_SKIP_MASS"):
        mass = candidate_mass_sweep(spark, n=2000 * max(ks))
        print(
            json.dumps(
                {"decorrelated_candidate_mass": mass}, separators=(",", ":")
            ),
            flush=True,
        )
    ivf_recall = None
    if not os.environ.get("SPARK_GRAFT_SCALE_SKIP_IVF_RECALL"):
        ivf_recall = ivf_neardup_recall_sweep(spark, dirs, ks)
    rerank_c = None
    if not os.environ.get("SPARK_GRAFT_SCALE_SKIP_RERANK_C"):
        rerank_c = ivfpq_rerank_c_sweep(spark, base)
    filter_sel = None
    if not os.environ.get("SPARK_GRAFT_SCALE_SKIP_FILTER_SEL"):
        filter_sel = ivfpq_filter_selectivity_sweep(spark, base)

    out_file = Path(__file__).resolve().parent / "SCALING.json"
    if only and out_file.exists():
        # Partial (SPARK_GRAFT_SCALE_ONLY) runs merge into the existing
        # artifact instead of clobbering the other queries' curves.
        try:
            payload = json.loads(out_file.read_text())
            payload["queries"].update(summary)
            # Per-query curves carry their own k axis (the secs/rows
            # keys); the top-level ks/reps describe the LATEST writer,
            # so refresh them or merged entries get read against a
            # stale axis.
            payload["ks"] = ks
            payload["reps"] = reps
            payload["base_sf_dir"] = base
            if mass is not None:
                payload["decorrelated_candidate_mass"] = mass
            if ivf_recall is not None:
                payload["ivf_neardup_recall"] = ivf_recall
            if rerank_c is not None:
                payload["ivfpq_rerank_c"] = rerank_c
            if filter_sel is not None:
                payload["ivfpq_filter_selectivity"] = filter_sel
        except (json.JSONDecodeError, OSError, KeyError):
            payload = {
                "metric": "scaling_exponents",
                "base_sf_dir": base,
                "ks": ks,
                "reps": reps,
                "queries": summary,
            }
    else:
        payload = {
            "metric": "scaling_exponents",
            "base_sf_dir": base,
            "ks": ks,
            "reps": reps,
            "queries": summary,
        }
        if mass is not None:
            payload["decorrelated_candidate_mass"] = mass
        if ivf_recall is not None:
            payload["ivf_neardup_recall"] = ivf_recall
        if rerank_c is not None:
            payload["ivfpq_rerank_c"] = rerank_c
        if filter_sel is not None:
            payload["ivfpq_filter_selectivity"] = filter_sel
    out_file.write_text(json.dumps(payload, indent=1) + "\n")
    print(json.dumps(payload, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    if sys.argv[1:] == ["greedy-gate-ab"]:
        greedy_gate_ab(get_spark("greedy-gate-ab"))
    else:
        main()
