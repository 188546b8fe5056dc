"""Skew salting + bucketed co-located joins — correctness AND the plan
properties that make them worth using."""

import pytest
from pyspark.sql import functions as F

from interlinked_spark.operators.skew import salted_group_agg, salted_join
from interlinked_spark.plans import physical_plan

SF = "/root/testdata/sf0.001"


def test_salted_join_matches_plain_join(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey", "l_quantity")
    orders = spark.read.parquet(f"{SF}/orders.parquet").select("o_orderkey", "o_orderstatus")
    plain = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("q"))
    )
    salted = (
        salted_join(
            li.withColumnRenamed("l_orderkey", "k"),
            orders.withColumnRenamed("o_orderkey", "k"),
            on=["k"],
            salt_buckets=8,
        )
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("q"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_group_agg_matches_plain(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    plain = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("total"),
        F.count("*").alias("n"),
        F.round(F.max("l_extendedprice"), 2).alias("mx"),
    )
    salted = salted_group_agg(
        li,
        ["l_returnflag"],
        {
            "total": ("sum", F.round(F.sum("l_quantity"), 2)),
            "n": ("count", F.count("*")),
            "mx": ("max", F.round(F.max("l_extendedprice"), 2)),
        },
        salt_buckets=8,
    )
    # sums of rounded partials can differ in the last decimals; compare rounded
    p = {r.l_returnflag: (round(r.total, 1), r.n, r.mx) for r in plain.collect()}
    s = {r.l_returnflag: (round(r.total, 1), r.n, r.mx) for r in salted.collect()}
    assert p == s


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    from interlinked_spark.sources.writers import write_bucketed

    # (warehouse dir is a static conf; managed tables land in
    # ./spark-warehouse and are dropped below)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force non-broadcast
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey", "l_quantity")
    orders = spark.read.parquet(f"{SF}/orders.parquet").select("o_orderkey", "o_totalprice")
    write_bucketed(li, "li_b", ["l_orderkey"], num_buckets=8)
    write_bucketed(orders, "orders_b", ["o_orderkey"], num_buckets=8)
    try:
        joined = spark.table("li_b").join(
            spark.table("orders_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = physical_plan(joined)
        # co-located: the sort-merge join reads bucketed scans directly —
        # no Exchange on either side
        assert "SortMergeJoin" in plan and "Exchange" not in plan, plan
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS orders_b")


# ---------------------------------------------------------------------------
# 100-TB skew stress (VERDICT r6 item 2): synthetic corpus at ~10x sf0.1
# (50k docs / 20k vectors vs sf0.1's 5k/2k) with a viral shingle in EVERY
# document plus a hot identical-duplicate clique.  These make the scale
# claims executable: the pre-flight diagnostics must DETECT the hot bucket
# and QUANTIFY the candidate-pair mass, the caps must BOUND it, and the
# joins must still return exactly the planted duplicates.
# ---------------------------------------------------------------------------

STRESS_DOCS = 50_000  # ~10x sf0.1 documents.parquet (5,000 rows)
STRESS_VECS = 20_000  # ~10x sf0.1 embeddings.parquet (2,000 rows)
DOC_DUP_EVERY = 250  # -> 200-doc identical clique
VEC_DUP_EVERY = 100  # -> 200-vector identical clique
N_DOC_DUPS = STRESS_DOCS // DOC_DUP_EVERY
N_VEC_DUPS = STRESS_VECS // VEC_DUP_EVERY


def _stress_docs(spark, n=STRESS_DOCS):
    """n docs: every non-clique doc = one shared VIRAL 3-gram ("common web
    boilerplate", df ~ n) + 12 unique 8-hex words; ids divisible by
    DOC_DUP_EVERY form an identical-duplicate clique.  Pairwise Jaccard
    between distinct non-clique docs ~ 1/25 — far below any threshold —
    so the ONLY true near-dups are the clique pairs."""
    words = [
        F.substring(
            F.md5(F.concat(F.col("id").cast("string"), F.lit(f"w{i}"))), 1, 8
        )
        for i in range(12)
    ]
    unique_text = F.concat(F.lit("common web boilerplate "), F.concat_ws(" ", *words))
    dup_text = " ".join(f"dupword{i}" for i in range(14))
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % DOC_DUP_EVERY == 0, F.lit(dup_text))
        .otherwise(unique_text)
        .alias("text"),
    )


def _stress_vectors(spark, n=STRESS_VECS, dim=16):
    """n vectors, uniform-ish in [-1,1)^dim from id hashes; ids divisible
    by VEC_DUP_EVERY are an identical clique (the hot LSH bucket)."""
    rand = F.array(
        *[
            (F.pmod(F.xxhash64(F.col("id"), F.lit(i)), F.lit(1000)) / 500.0 - 1.0).cast(
                "double"
            )
            for i in range(dim)
        ]
    )
    clique = F.array(*[F.lit(float(v)) for v in ([0.7, -0.3] * (dim // 2))])
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.when(F.col("id") % VEC_DUP_EVERY == 0, clique).otherwise(rand).alias(
            "embedding"
        ),
    )


def test_minhash_viral_shingle_bounded_and_clique_exact(spark):
    """The §2b-K minhash scale claim, executed: a shingle shared by ALL
    50k documents must NOT induce quadratic candidate mass (signatures
    barely move, buckets collect ids), while the 200-doc identical clique
    both (a) shows up in the pre-flight bucket stats and (b) comes back
    EXACTLY from the full join."""
    from interlinked_spark.llm.dedup import (
        minhash_near_dup_pairs,
        minhash_signature_bands,
    )
    from interlinked_spark.operators.diagnostics import bucket_stats

    docs = _stress_docs(spark)
    _sig, banded = minhash_signature_bands(docs)
    stats = bucket_stats(banded, ["band", "bucket"], "id").collect()[0]

    clique_pairs = N_DOC_DUPS * (N_DOC_DUPS - 1) // 2  # 19,900
    bands = 8
    # Pre-flight detects the hot bucket: the clique collides in EVERY band.
    assert stats.max_bucket >= N_DOC_DUPS
    assert stats.pair_mass >= bands * clique_pairs
    # The viral shingle does NOT go quadratic: total candidate mass stays
    # within a small multiple of the clique's own (vs ~1.25e9 all-pairs).
    assert stats.pair_mass <= bands * clique_pairs + 500_000, stats.pair_mass

    pairs = minhash_near_dup_pairs(docs).collect()
    assert len(pairs) == clique_pairs
    assert all(abs(p.jaccard - 1.0) < 1e-9 for p in pairs)
    assert all(
        p.left_id % DOC_DUP_EVERY == 0 and p.right_id % DOC_DUP_EVERY == 0
        for p in pairs
    )


def test_ngram_viral_shingle_cap_bounds_inverted_index(spark):
    """The inverted-index quadratic hazard, measured then bounded: the
    UNCAPPED postings list for the viral shingle carries ~1.2e9 candidate
    pairs (diagnosed via groupBy — never materialized); the default
    ``max_shingle_df`` cap removes it, and the capped join still returns
    exactly the identical clique."""
    from interlinked_spark.llm.dedup import _with_shingles, ngram_jaccard_pairs
    from interlinked_spark.operators.diagnostics import bucket_stats

    docs = _stress_docs(spark)
    postings = _with_shingles(docs, "text", "doc_id", 3).select(
        "id", F.explode("sh").alias("s")
    )
    uncapped = bucket_stats(postings, ["s"], "id").collect()[0]
    n_unique = STRESS_DOCS - N_DOC_DUPS
    # the viral 3-gram appears in every non-clique doc -> ~1.2e9 pairs
    assert uncapped.max_bucket == n_unique
    assert uncapped.pair_mass >= n_unique * (n_unique - 1) // 2

    cap = 1000
    capped = postings.withColumn(
        "__df", F.count("*").over(__import__("pyspark").sql.Window.partitionBy("s"))
    ).filter(F.col("__df") <= cap)
    capped_stats = bucket_stats(capped, ["s"], "id").collect()[0]
    assert capped_stats.max_bucket <= cap
    # bounded: clique shingles (df=200) dominate what's left
    assert capped_stats.pair_mass < 5_000_000

    clique_pairs = N_DOC_DUPS * (N_DOC_DUPS - 1) // 2
    got = ngram_jaccard_pairs(docs, max_shingle_df=cap).collect()
    assert len(got) == clique_pairs
    assert all(abs(p.jaccard - 1.0) < 1e-9 for p in got)


def test_lsh_hot_bucket_preflight_and_exact_prededup_fix(spark):
    """Random-projection LSH pre-flight at 20k vectors: the identical
    200-vector clique is a guaranteed hot bucket in every hash table; the
    documented fix (exact pre-dedup of identical embeddings BEFORE the
    LSH join, reattaching dup ids afterwards) must remove at least the
    clique's pair mass from every table."""
    from interlinked_spark.llm.similarity import lsh_bucket_assignments
    from interlinked_spark.operators.diagnostics import bucket_histogram, bucket_stats

    vecs = _stress_vectors(spark)
    tables = 4
    assignments = lsh_bucket_assignments(vecs, num_hash_tables=tables).localCheckpoint()
    before = bucket_stats(assignments, ["entry", "bucket"], "id").collect()[0]
    clique_mass = N_VEC_DUPS * (N_VEC_DUPS - 1) // 2
    assert before.max_bucket >= N_VEC_DUPS
    assert before.pair_mass >= tables * clique_mass

    # Histogram shows at least one bucket per table at >= clique size
    hist = bucket_histogram(assignments, ["entry", "bucket"], "id").collect()
    assert sum(r.n_buckets for r in hist if r.bucket_size >= N_VEC_DUPS) >= tables

    # The fix: collapse exact-duplicate embeddings to one representative.
    deduped = vecs.groupBy("embedding").agg(F.min("vec_id").alias("vec_id"))
    after = bucket_stats(
        lsh_bucket_assignments(deduped, num_hash_tables=tables),
        ["entry", "bucket"],
        "id",
    ).collect()[0]
    assert after.total_rows == before.total_rows - tables * (N_VEC_DUPS - 1)
    # removing n-1 rows from a bucket of size B >= n drops its mass by at
    # least the clique's own pairs — per table.
    assert before.pair_mass - after.pair_mass >= tables * clique_mass


def test_minhash_max_bucket_size_cap(spark):
    """The band-join twin of max_shingle_df: with the cap below the
    200-doc clique's bucket size, the clique's (identical-signature)
    buckets are dropped in EVERY band and no pairs survive; with the
    cap above it, the full clique comes back.  This is the guard a
    production run sets after exact dedup, sized from the
    minhash_signature_bands + bucket_stats pre-flight."""
    from interlinked_spark.llm.dedup import minhash_near_dup_pairs

    docs = _stress_docs(spark, n=5_000)  # 20-doc clique at this size
    n_dups = 5_000 // DOC_DUP_EVERY
    clique_pairs = n_dups * (n_dups - 1) // 2

    capped = minhash_near_dup_pairs(docs, max_bucket_size=n_dups - 1)
    assert capped.count() == 0

    roomy = minhash_near_dup_pairs(docs, max_bucket_size=n_dups + 50)
    assert roomy.count() == clique_pairs


def test_lsh_max_bucket_size_cap(spark):
    """Same guard on the embedding LSH join: the identical-vector clique
    sits in one bucket per table; a cap below its size removes exactly
    those candidates (and with this synthetic corpus, all pairs)."""
    from interlinked_spark.llm.similarity import lsh_similarity_join
    import pyspark.sql.functions as F

    vecs = _stress_vectors(spark, n=2_000)
    n_dups = 2_000 // VEC_DUP_EVERY
    clique_pairs = n_dups * (n_dups - 1) // 2

    full = lsh_similarity_join(
        vecs, vecs, threshold_distance=0.1, num_hash_tables=4, self_pairs=True
    ).filter(F.col("cosine") >= 0.999)
    assert full.count() == clique_pairs

    capped = lsh_similarity_join(
        vecs, vecs, threshold_distance=0.1, num_hash_tables=4,
        self_pairs=True, max_bucket_size=n_dups - 1,
    ).filter(F.col("cosine") >= 0.999)
    assert capped.count() == 0


def test_cdc_chunking_shift_resilience(spark):
    """The property content-defined chunking exists for: inserting text
    near the head of a document disturbs only the chunk(s) around the
    edit — every boundary after it re-aligns, so downstream chunk-level
    dedup still matches the unchanged tail.  Also pins determinism and
    full coverage (chunk lengths sum to the doc length)."""
    from interlinked_spark.llm.chunking import content_chunks, shared_chunks

    base_text = " ".join(f"tok{i:04d} payload" for i in range(60))
    edited = "INSERTED NEW HEADER " + base_text
    df = spark.createDataFrame(
        [(1, base_text), (2, edited)], "doc_id long, text string"
    )
    ch = content_chunks(df, "text", "doc_id").collect()
    by_doc = {1: [], 2: []}
    for r in ch:
        by_doc[r.id].append((r.chunk_idx, r.chunk_len, r.chunk_md5))
    for d, rows in by_doc.items():
        rows.sort()
        assert sum(l for _, l, _ in rows) == len(base_text) + (
            20 if d == 2 else 0
        )
    h1 = {h for _, _, h in by_doc[1]}
    h2 = {h for _, _, h in by_doc[2]}
    shared = h1 & h2
    # all but the head chunk(s) of each version re-align and match
    assert len(shared) >= len(h1) - 2, (len(shared), len(h1))

    sh = shared_chunks(df, "text", "doc_id").collect()
    assert all(r.n_docs == 2 for r in sh)
    assert {r.chunk_md5 for r in sh} == shared


def test_stream_join_state_evicts_to_watermark_horizon(spark):
    """The §2b-J bounded-state claim, executed: after the availableNow
    replay of the stream-stream interval join, the state store retains
    ONLY rows whose join window is still open under the final watermark
    — everything else was evicted (numRowsRemoved).  On unbounded
    streams this is what keeps state ~watermark+interval sized instead
    of growing with the stream."""
    import datetime

    from interlinked_spark.streaming.ops import (
        foreach_batch_into,
        stream_from_parquet,
        stream_stream_join,
    )

    base = "/root/testdata/sf0.001"
    clicks = (
        stream_from_parquet(spark, f"{base}/events.parquet")
        .filter(F.col("event_type") == "click")
        .select("user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts"))
    )
    errors = (
        stream_from_parquet(spark, f"{base}/events.parquet")
        .filter(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("user_id"),
            F.col("event_id").alias("error_id"),
            F.col("ts").alias("error_ts"),
        )
    )
    j = stream_stream_join(clicks, errors, ["user_id"], "click_ts", "error_ts", 0, 300)
    q = foreach_batch_into(
        j.select("user_id", "click_id", "error_id"),
        lambda df, i: df.count(),
        output_mode="append",
    )
    progresses = [p for p in q.recentProgress if p.get("stateOperators")]
    assert progresses, "no state-operator progress recorded"
    final = progresses[-1]["stateOperators"][0]
    ingested = progresses[0]["stateOperators"][0]["numRowsTotal"]

    ev = spark.read.parquet(f"{base}/events.parquet")
    c = ev.filter(F.col("event_type") == "click").select("user_id", F.col("ts").alias("cts"))
    e = ev.filter(F.col("event_type") == "error").select("user_id", F.col("ts").alias("ets"))
    maxc = c.agg(F.max("cts")).collect()[0][0]
    maxe = e.agg(F.max("ets")).collect()[0][0]
    horizon = min(maxc, maxe) - datetime.timedelta(seconds=600)
    still_open = (
        c.filter(F.expr(f"cts + INTERVAL 300 SECONDS >= TIMESTAMP '{horizon}'")).count()
        + e.filter(F.expr(f"ets >= TIMESTAMP '{horizon}'")).count()
    )
    assert final["numRowsRemoved"] > 0
    assert final["numRowsTotal"] == still_open, (final, still_open)
    assert final["numRowsTotal"] < ingested


def test_partitioning_invariance(spark):
    """Determinism across physical partitionings, executed: a cluster
    resize (different shuffle-partition count) must not change any
    result row.  Pinned over a representative slice of the catalog —
    hash sampling, minhash banding, CDC chunking, split bands, window
    ranking, set ops — at shuffle=7 vs the default 32."""
    from interlinked_spark import catalog

    names = [
        "customer_hash_sample",
        "doc_dataset_splits",
        "dedup_minhash_pairs",
        "doc_cdc_chunks",
        "nation_top3_customers",
        "seg_union",
        "dedup_exact_docs",
        "doc_fingerprints",
    ]
    sf = "/root/testdata/sf0.001"
    old = spark.conf.get("spark.sql.shuffle.partitions")

    def run_all():
        return {
            n: sorted(map(tuple, catalog.run_query(n, spark, sf).collect()), key=str)
            for n in names
        }

    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        a = run_all()
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        b = run_all()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for n in names:
        assert a[n] == b[n], f"{n} changed under repartitioning"


def test_connected_components_fractional_vertex_ids(spark):
    """Review-caught regression: the decimal(38,0) checksum rounds
    fractional labels to integers, masking sub-integer label changes —
    double vertex ids must use the join-based convergence check and
    still converge fully."""
    from interlinked_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1.2, 1.4), (1.4, 1.3), (9.5, 9.9)], "src double, dst double"
    )
    got = {r.vertex: r.component for r in connected_components(edges).collect()}
    assert got == {1.2: 1.2, 1.3: 1.2, 1.4: 1.2, 9.5: 9.5, 9.9: 9.5}, got


def test_int8_quantization_invariants(spark):
    """Quantization guarantees, pinned directly: codes fit int8-range
    [0, 255], reconstruction error never exceeds half a quantization
    step (scale/2), and constant vectors degrade gracefully to scale 0
    with exact reconstruction."""
    from interlinked_spark.llm.embeddings import quantize_int8

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = quantize_int8(e).collect()
    assert len(rows) == e.count()
    for r in rows:
        assert all(0 <= c <= 255 for c in r.codes), r.id
        # rounding of the metrics adds <= 5e-7 slack
        assert r.max_abs_err <= r.q_scale / 2 + 1e-6, (r.id, r.max_abs_err, r.q_scale)

    const = spark.createDataFrame(
        [(1, [0.5] * 8)], "vec_id long, embedding array<double>"
    )
    c = quantize_int8(const).collect()[0]
    assert c.q_scale == 0.0 and c.max_abs_err == 0.0
    assert all(code == 0 for code in c.codes)


def test_indexed_incremental_dedup_never_rescans_corpus(spark, tmp_path):
    """The materialized-index path must (a) reproduce the recompute
    path's matches exactly and (b) never touch the corpus documents
    again: the corpus parquet is DELETED after the index build, so any
    lingering scan would fail the job, and the matcher's file sources
    are pinned to index + nothing (the new batch is in-memory)."""
    import shutil

    from interlinked_spark.llm.dedup import (
        build_shingle_index,
        ngram_jaccard_incremental,
        ngram_jaccard_incremental_indexed,
    )

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),
        (3, "one two three four five six seven eight nine"),
        (5, "unrelated corpus text with its own shingles entirely"),
    ]
    corpus_path = str(tmp_path / "corpus")
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(corpus_path)
    corpus = spark.read.parquet(corpus_path)
    new = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta eta theta"),  # dup of 1
            (11, "totally novel content nothing shared with corpus"),
            (12, "alpha beta gamma delta epsilon zeta eta theta x"),  # near 1+10
        ],
        ["doc_id", "text"],
    )
    want = sorted(
        map(tuple, ngram_jaccard_incremental(corpus, new, threshold=0.2).collect())
    )

    idx = str(tmp_path / "idx")
    build_shingle_index(corpus, idx, num_files=4)
    # Prove zero corpus re-scans: the source data is GONE.
    shutil.rmtree(corpus_path)
    got_df = ngram_jaccard_incremental_indexed(spark, idx, new, threshold=0.2)
    assert sorted(map(tuple, got_df.collect())) == want
    assert any(r[0] == 10 and r[1] == 1 for r in want)  # the dup was found


def test_update_shingle_index_appends_accepted_batch(spark, tmp_path):
    """After appending a processed batch's accepted docs, the index
    matches a full rebuild over corpus+batch — the daily loop's state
    update is exact, and the NEXT batch matches against batch-1 docs."""
    from interlinked_spark.llm.dedup import (
        build_shingle_index,
        ngram_jaccard_incremental_indexed,
        shingle_postings,
        update_shingle_index,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], ["doc_id", "text"]
    )
    batch1 = spark.createDataFrame(
        [(10, "one two three four five six seven")], ["doc_id", "text"]
    )
    idx = str(tmp_path / "idx")
    build_shingle_index(corpus, idx, num_files=2)
    update_shingle_index(batch1, idx, num_files=2)

    stored = sorted(
        map(tuple, spark.read.parquet(idx).select("id", "nsh", "s").collect())
    )
    rebuilt = sorted(
        map(
            tuple,
            shingle_postings(corpus.unionByName(batch1)).collect(),
        )
    )
    assert stored == rebuilt

    # batch 2 duplicates a batch-1 doc: the updated index must catch it.
    batch2 = spark.createDataFrame(
        [(20, "one two three four five six seven")], ["doc_id", "text"]
    )
    got = ngram_jaccard_incremental_indexed(spark, idx, batch2, threshold=0.5)
    assert [(r.new_id, r.match_id) for r in got.collect()] == [(20, 10)]


def test_streaming_neardup_gate_first_seen_wins(spark, tmp_path):
    """The streaming gate's semantics, pinned on a hand case: within- and
    cross-batch near-dups are rejected, a doc matching only a REJECTED
    earlier doc is still rejected (first-seen-wins chain rule), and the
    final accepted set is identical whether the same id-ordered docs
    arrive as 1 batch or 3."""
    import glob
    import os
    import shutil
    import time

    from interlinked_spark.streaming.ops import (
        run_neardup_gate_into_parquet,
        stream_from_parquet,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = [
        (1, base),                      # accepted (first)
        (2, base + " lambda"),          # rejected: near 1 (same batch)
        (3, "one two three four five six seven eight nine ten"),  # accepted
        (4, base + " lambda mu"),       # rejected: near 2 (itself rejected!)
        (5, "completely different text body nothing shared anywhere"),  # accepted
        (6, base),                      # rejected: exact dup of 1, later batch
    ]

    def run_gate(n_files):
        staged = str(tmp_path / f"staged_{n_files}")
        os.makedirs(staged)
        per = (len(docs) + n_files - 1) // n_files
        t0 = time.time() - 100
        for i in range(n_files):
            chunk = docs[i * per:(i + 1) * per]
            if not chunk:
                continue
            tmp = str(tmp_path / f"part_{n_files}_{i}")
            spark.createDataFrame(chunk, ["doc_id", "text"]).coalesce(1)\
                .write.mode("overwrite").parquet(tmp)
            dest = os.path.join(staged, f"{i:04d}.parquet")
            shutil.move(glob.glob(os.path.join(tmp, "part-*.parquet"))[0], dest)
            os.utime(dest, (t0 + 2 * i, t0 + 2 * i))
        stream = stream_from_parquet(spark, staged)
        accepted_path, idx = run_neardup_gate_into_parquet(stream, threshold=0.5)
        got = sorted(r.doc_id for r in spark.read.parquet(accepted_path).collect())
        return got, idx

    got3, idx = run_gate(3)
    assert got3 == [1, 3, 5]
    # Doc 4's only matches (1, 2) precede it; 2 was rejected yet still
    # gates 4 — the documented chain rule.
    got1, _ = run_gate(1)
    assert got1 == got3  # batch-boundary invariance on id-ordered input
    # The index holds ALL seen docs' postings (the comparison universe).
    assert sorted(
        set(r.id for r in spark.read.parquet(idx).select("id").collect())
    ) == [1, 2, 3, 4, 5, 6]


def test_lsh_and_banding_reproduces_r1_pairs(spark):
    """AND-composition banding (projections_per_band=2, compensating
    width) must reproduce the r=1 pair set exactly at the catalog's
    0.3 threshold — recall is an output-equality contract here, not a
    statistic.  Also pins that a band key agrees only when ALL of its
    projections agree: with an absurdly tight bucket the banded join
    returns a SUBSET of the r=1 candidates (never a superset)."""
    from interlinked_spark.llm.similarity import embedding_near_dup_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    base = embedding_near_dup_pairs(
        emb, cosine_threshold=0.3, num_hash_tables=12
    ).select("left_id", "right_id")
    banded = embedding_near_dup_pairs(
        emb, cosine_threshold=0.3, num_hash_tables=28,
        projections_per_band=2, bucket_length=1.25,
    ).select("left_id", "right_id")
    assert base.exceptAll(banded).count() == 0
    assert banded.exceptAll(base).count() == 0  # exact verify owns the boundary

    tight = embedding_near_dup_pairs(
        emb, cosine_threshold=0.3, num_hash_tables=4,
        projections_per_band=4, bucket_length=0.05,
    ).select("left_id", "right_id")
    assert tight.exceptAll(base).count() == 0


def test_vector_index_never_rebands_corpus_and_appends_exactly(spark, tmp_path):
    """The materialized vector index must (a) reproduce the brute-force
    new-vs-corpus matches with the corpus parquet DELETED after the
    build (zero corpus re-scans/re-bandings), (b) append a batch so the
    stored assignments equal a full rebuild (cross-session banding
    determinism), and (c) pin banding params in meta so the matcher
    can't drift them."""
    import shutil

    from interlinked_spark.llm.similarity import (
        build_vector_index,
        cosine_similarity,
        lsh_incremental_matches,
        update_vector_index,
    )

    def vecs(ids_and_seeds):
        rows = []
        for vid, seed in ids_and_seeds:
            base = [float((seed * 31 + i * 7) % 13 - 6) for i in range(8)]
            rows.append((vid, base))
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    corpus = vecs([(1, 3), (2, 5), (3, 9), (4, 11)])
    corpus_path = str(tmp_path / "corpus")
    corpus.write.parquet(corpus_path)
    stored = spark.read.parquet(corpus_path)

    idx = str(tmp_path / "vidx")
    build_vector_index(stored, idx, num_hash_tables=8, bucket_length=1.0)
    shutil.rmtree(corpus_path)  # prove: never touched again

    new = vecs([(10, 3), (11, 777)])  # 10 duplicates corpus vec 1
    got = {
        (r.new_id, r.match_id)
        for r in lsh_incremental_matches(
            spark, idx, new, cosine_threshold=0.999
        ).collect()
    }
    assert (10, 1) in got
    assert all(m != 11 for _, m in got) or (11, 1) not in got

    # Brute-force twin on the same frames (corpus vectors FROM the index).
    cv = spark.read.parquet(f"{idx}/vectors")
    brute = {
        (r.new_id, r.match_id)
        for r in new.alias("n")
        .crossJoin(cv.alias("c"))
        .select(
            F.col("n.vec_id").alias("new_id"),
            F.col("c.id").alias("match_id"),
            cosine_similarity(F.col("n.embedding"), F.col("c.vec")).alias("cos"),
        )
        .filter(F.col("cos") >= 0.999)
        .collect()
    }
    assert got == brute

    # Append == rebuild: assignments for the batch must equal what a
    # fresh build over corpus+batch would store for those ids.
    update_vector_index(new, idx)
    idx2 = str(tmp_path / "vidx2")
    rebuilt_input = cv.select(
        F.col("id").alias("vec_id"), F.col("vec").alias("embedding")
    ).unionByName(new)
    build_vector_index(rebuilt_input, idx2, num_hash_tables=8, bucket_length=1.0)
    a1 = sorted(map(tuple, spark.read.parquet(f"{idx}/assignments").collect()))
    a2 = sorted(map(tuple, spark.read.parquet(f"{idx2}/assignments").collect()))
    assert a1 == a2

    meta = spark.read.parquet(f"{idx}/meta").first()
    assert (meta.num_hash_tables, meta.bucket_length, meta.dim) == (8, 1.0, 8)


def test_greedy_first_fit_normalizes_edge_orientation(spark):
    """'Earlier' is id order, not column position: a mis-oriented edge
    (7, 3) must mean 3 gates 7, and a pair present in both orientations
    must not deadlock the rounds (driver-side sweep)."""
    _check_greedy_orientation(spark)


def test_greedy_first_fit_normalizes_edge_orientation_distributed(
    spark, no_auto_broadcast
):
    """The same orientation rule on the distributed rounds."""
    _check_greedy_orientation(spark)


def _check_greedy_orientation(spark):
    from interlinked_spark.operators.graph import greedy_first_fit

    edges = spark.createDataFrame(
        [(7, 3), (3, 7), (5, 5)], ["left_id", "right_id"]  # + self-loop noise
    )
    verts = spark.createDataFrame([(3,), (5,), (7,)], ["vertex"])
    got = {r.vertex: r.kept for r in greedy_first_fit(edges, verts).collect()}
    assert got == {3: True, 5: True, 7: False}


@pytest.mark.parametrize("path", ["driver", "distributed"])
def test_greedy_first_fit_input_shapes(spark, request, path):
    """Both resolution paths agree on duplicate vertex rows, vertices
    absent from every edge and string ids; one row per distinct vertex
    comes out."""
    from interlinked_spark.operators.graph import greedy_first_fit

    if path == "distributed":
        request.getfixturevalue("no_auto_broadcast")
    # 1~2~3 chain keeps 1 and 3; 9 touches no edge; 2 and 9 repeat.
    edges = spark.createDataFrame([(1, 2), (3, 2)], ["left_id", "right_id"])
    verts = spark.createDataFrame([(1,), (2,), (2,), (3,), (9,), (9,)], ["vertex"])
    out = greedy_first_fit(edges, verts)
    assert ("__rej" in physical_plan(out)) == (path == "driver")
    assert sorted(map(tuple, out.collect())) == [
        (1, True), (2, False), (3, True), (9, True)
    ]

    # String ids: "a" gates "b" and "d"; "c" survives its rejected "b".
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("a", "d")], ["left_id", "right_id"]
    )
    verts = spark.createDataFrame([(v,) for v in "abcde"], ["doc"])
    out = greedy_first_fit(edges, verts, v_col="doc")
    assert dict(map(tuple, out.collect())) == {
        "a": True, "b": False, "c": True, "d": False, "e": True
    }


@pytest.mark.parametrize(
    "operator, budget",
    [("near_dup_keep_greedy", 6), ("near_dup_clusters", 17)],
    ids=["near_dup_keep_greedy", "near_dup_clusters"],
)
def test_near_dup_keep_greedy_job_budget(spark, operator, budget):
    """Build job budgets of the dedup loop operators on the test
    documents.  First-fit builds in <= 6 jobs: the near-dup graph is
    small enough to resolve on the driver instead of by rounds of join +
    aggregate jobs (17 jobs).  The connected-components rounds of
    ``near_dup_clusters`` take 17: the edge count and every round's
    convergence checksum ride the checkpoint jobs (Observation)."""
    from interlinked_spark.llm import dedup

    sc = spark.sparkContext
    group = f"test:{operator}_job_budget"
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sc.setJobGroup(group, "job budget")
    try:
        getattr(dedup, operator)(docs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= budget


def test_shingle_udf_evaluated_once(spark):
    """Exploding the shingle array must not duplicate the Python UDF:
    the size/not-null filter Spark infers under the explode stays above
    the UDF projection instead of re-evaluating it below."""
    from interlinked_spark.llm.dedup import _with_shingles

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    postings = _with_shingles(docs, "text", "doc_id", 3).select(F.explode("sh"))
    assert physical_plan(postings).count("ArrowEvalPython") == 1


def test_compact_table_recovers_from_crash_residue(spark, tmp_path):
    """Leftover __compact_old residue must not wedge the next compaction:
    with the table present the stale backup is discarded; with the table
    MISSING (kill between the two renames) the backup is restored."""
    import os

    from interlinked_spark.sources.writers import compact_table

    path = str(tmp_path / "t")
    spark.range(100).repartition(6).write.parquet(path)
    rows = lambda: spark.read.parquet(path).count()  # noqa: E731

    os.makedirs(path + ".__compact_old")  # stale backup, table present
    before, after = compact_table(spark, path, num_files=2)
    assert before >= 6 and after <= 2 and rows() == 100

    os.rename(path, path + ".__compact_old")  # killed between renames
    before, after = compact_table(spark, path, num_files=2)
    assert rows() == 100


def _crash_on(monkeypatch, module, name: str, hit) -> None:
    """Patch ``module.name`` to raise on the first call ``hit(n, args)``
    selects (``n`` counts calls from 1); other calls go through."""
    real = getattr(module, name)
    calls = []

    def patched(*args, **kwargs):
        calls.append(args)
        if hit(len(calls), args):
            raise OSError(f"simulated crash in {name}{args}")
        return real(*args, **kwargs)

    monkeypatch.setattr(module, name, patched)


def _swap_residue(path: str) -> tuple[bool, bool, bool]:
    import os

    return tuple(
        os.path.exists(p)
        for p in (path, path + ".__compact_tmp", path + ".__compact_old")
    )


def test_compact_swap_killed_between_renames_restores_table(spark, tmp_path, monkeypatch):
    """A crash on the second rename of ``_swap_in`` leaves the table only
    as ``__compact_old`` (plus the staged copy); the next compaction
    restores it and keeps every row."""
    import os

    from interlinked_spark.sources.writers import compact_table

    path = str(tmp_path / "t")
    spark.range(100).repartition(6).write.parquet(path)
    with monkeypatch.context() as m:
        _crash_on(m, os, "rename", lambda n, args: n == 2)
        with pytest.raises(OSError, match="simulated crash"):
            compact_table(spark, path, num_files=2)
    assert _swap_residue(path) == (False, True, True)

    compact_table(spark, path, num_files=2)
    assert _swap_residue(path) == (True, False, False)
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == list(range(100))


def test_compact_swap_leftover_backup_is_removed(spark, tmp_path, monkeypatch):
    """A swap that completed both renames but died before deleting its
    backup leaves ``__compact_old`` next to the new table; the next
    compaction removes it."""
    import shutil

    from interlinked_spark.sources.writers import compact_table

    path = str(tmp_path / "t")
    spark.range(100).repartition(6).write.parquet(path)
    with monkeypatch.context() as m:
        _crash_on(m, shutil, "rmtree", lambda n, args: args[0].endswith(".__compact_old"))
        with pytest.raises(OSError, match="simulated crash"):
            compact_table(spark, path, num_files=2)
    assert _swap_residue(path) == (True, False, True)

    compact_table(spark, path, num_files=2)
    assert _swap_residue(path) == (True, False, False)
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == list(range(100))


def test_compact_swap_stale_staging_dir_is_removed(spark, tmp_path, monkeypatch):
    """A crash after the staged write but before the first rename leaves
    a stale ``__compact_tmp``; recovery deletes it and leaves the table
    as it was."""
    import os

    from interlinked_spark.sources.writers import _recover_swap_residue, compact_table

    path = str(tmp_path / "t")
    spark.range(100).repartition(6).write.parquet(path)
    with monkeypatch.context() as m:
        _crash_on(m, os, "rename", lambda n, args: n == 1)
        with pytest.raises(OSError, match="simulated crash"):
            compact_table(spark, path, num_files=2)
    assert _swap_residue(path) == (True, True, False)

    _recover_swap_residue(path)
    assert _swap_residue(path) == (True, False, False)
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == list(range(100))


def test_vector_index_rejects_dim_mismatch(spark, tmp_path):
    """A batch whose vectors have a different dim than the stored index
    must fail loudly (a mismatched batch bands with different
    projections and would silently match nothing)."""
    import pytest as _pytest

    from interlinked_spark.llm.similarity import (
        build_vector_index,
        lsh_incremental_matches,
        update_vector_index,
    )

    corpus = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0])], "vec_id long, embedding array<float>"
    )
    idx = str(tmp_path / "vidx")
    build_vector_index(corpus, idx, num_hash_tables=4)
    bad = spark.createDataFrame(
        [(9, [1.0, 2.0])], "vec_id long, embedding array<float>"
    )
    with _pytest.raises(ValueError, match="dim 2 .* dim 4"):
        lsh_incremental_matches(spark, idx, bad, cosine_threshold=0.5)
    with _pytest.raises(ValueError, match="dim 2 .* dim 4"):
        update_vector_index(bad, idx)

    # Empty-seeded index pins its dim on the first non-empty append.
    idx2 = str(tmp_path / "vidx2")
    build_vector_index(corpus.limit(0), idx2, num_hash_tables=4)
    assert spark.read.parquet(f"{idx2}/meta").first().dim is None
    update_vector_index(corpus, idx2)
    assert spark.read.parquet(f"{idx2}/meta").first().dim == 4
    with _pytest.raises(ValueError):
        update_vector_index(bad, idx2)


def test_sketch_state_batching_invariant_and_precision_pinned(spark, tmp_path):
    """HLL sketch state: (a) union of per-batch sketches == one-shot
    sketch EXACTLY for any batch split (register-wise max), (b) updates
    inherit the build's lg_k from meta — a caller cannot drift
    precision, (c) estimates track exact counts within the rse bound."""
    from interlinked_spark.operators.sketches import (
        build_sketch_state,
        sketch_distinct_state,
        sketch_state_estimates,
        update_sketch_state,
    )

    df = spark.range(5000).select(
        (F.col("id") % 7).alias("g"), (F.col("id") % 1300).alias("v")
    )
    path = str(tmp_path / "hll")
    build_sketch_state(df.filter(F.col("id") % 4 == 0), ["g"], "v", path, lg_k=13)
    for r in (1, 2, 3):
        update_sketch_state(df.filter(F.col("id") % 4 == r), ["g"], "v", path)

    merged = {
        r.g: r.n_distinct_est
        for r in sketch_state_estimates(spark, path, ["g"]).collect()
    }
    oneshot = {
        r.g: r.one
        for r in sketch_distinct_state(df, ["g"], "v", lg_k=13)
        .select("g", F.hll_sketch_estimate("sketch").alias("one"))
        .collect()
    }
    assert merged == oneshot  # exact equality, not approximate

    exact = {r.g: r.n for r in df.groupBy("g").agg(F.countDistinct("v").alias("n")).collect()}
    for g, est in merged.items():
        assert abs(est - exact[g]) / exact[g] <= 0.04  # 3x rse at lg_k=13

    meta = spark.read.parquet(f"{path}/meta").first()
    assert meta.lg_k == 13


def test_delete_rows_takedown_purges_index_state(spark, tmp_path):
    """Right-to-erasure over persisted state: delete_rows removes a
    document's rows from BOTH the accepted table and the shingle index
    (anti-join + staged swap, same crash contract as compact_table);
    afterwards no match references the deleted id and a re-sent copy of
    the deleted text is ACCEPTED again — no ghost postings."""
    from interlinked_spark.llm.dedup import (
        build_shingle_index,
        ngram_jaccard_incremental_indexed,
    )
    from interlinked_spark.sources.writers import compact_table, delete_rows

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta"),
            (2, "one two three four five six seven eight"),
        ],
        ["doc_id", "text"],
    )
    accepted = str(tmp_path / "accepted")
    corpus.write.parquet(accepted)
    idx = str(tmp_path / "idx")
    build_shingle_index(corpus, idx, num_files=2)

    probe = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta eta")], ["doc_id", "text"]
    )
    assert ngram_jaccard_incremental_indexed(spark, idx, probe, threshold=0.5).count() == 1

    takedown = spark.createDataFrame([(1,)], ["doc_id"])
    b, a = delete_rows(spark, accepted, takedown, on=["doc_id"], report=True)
    assert (b, a) == (2, 1)
    # Default path: no report tuple, hence no extra before/after scans.
    assert delete_rows(spark, accepted, takedown.filter("doc_id < 0"), on=["doc_id"]) is None
    delete_rows(spark, idx, takedown.withColumnRenamed("doc_id", "id"), on=["id"])

    # Deleted doc no longer gates anything; unrelated postings intact.
    assert ngram_jaccard_incremental_indexed(spark, idx, probe, threshold=0.5).count() == 0
    other = spark.createDataFrame(
        [(11, "one two three four five six seven eight")], ["doc_id", "text"]
    )
    got = ngram_jaccard_incremental_indexed(spark, idx, other, threshold=0.5).collect()
    assert [(r.new_id, r.match_id) for r in got] == [(11, 2)]

    # Swap machinery composes: compaction after deletion keeps results.
    compact_table(spark, idx, num_files=1, cluster_cols=["s"])
    assert ngram_jaccard_incremental_indexed(spark, idx, probe, threshold=0.5).count() == 0


def test_cms_estimate_unseen_and_partial_buckets_return_zero(spark):
    """ADVICE r8 (medium): `est = min_j counter[j][h_j(v)]` must hold for
    ANY queried value — an unseen value has all-empty buckets, so est=0
    (a row, not a silent drop); a value sharing SOME buckets with seen
    values still takes the min over the empty (0) counters."""
    import pyspark.sql.functions as F

    from interlinked_spark.operators.sketches import cms_build, cms_estimate, cms_merge

    seen = spark.createDataFrame([("a",), ("a",), ("b",)], ["w"])
    state = cms_build(seen, "w", depth=4, hex_chars=3)
    probes = spark.createDataFrame([("a",), ("never-seen-value",)], ["w"])
    est = {r.value: r.est for r in cms_estimate(state, probes, "w", depth=4, hex_chars=3).collect()}
    assert est["a"] >= 2  # CMS is an upper bound
    assert est["never-seen-value"] == 0  # row present, zero estimate

    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least one state"):
        cms_merge()
    # Merged state preserves the unseen-value contract.
    merged = cms_merge(state, cms_build(seen.filter(F.col("w") == "b"), "w"))
    est2 = {r.value: r.est for r in cms_estimate(merged, probes, "w").collect()}
    assert est2["never-seen-value"] == 0


def test_bloom_null_key_reports_null_not_false(spark):
    """ADVICE r8 (low): NULL key -> NULL __bloom_hit (engine convention,
    matching Spark's native might_contain); unseen non-null -> False;
    seen -> True."""
    from interlinked_spark.operators.sketches import bloom_build, bloom_might_contain

    keys = spark.createDataFrame([(1,), (2,)], ["k"])
    bloom = bloom_build(keys, "k")
    probe = spark.createDataFrame([(1,), (999999,), (None,)], "k int")
    got = {r.k: r["__bloom_hit"] for r in bloom_might_contain(probe, "k", bloom).collect()}
    assert got[1] is True
    assert got[999999] is False
    assert got[None] is None


def test_and_banding_mass_collapse_on_decorrelated_corpus(spark):
    """r8 verdict item 5: on a DECORRELATED corpus (random directions —
    the realistic large-corpus regime) AND-composition collapses raw
    candidate mass exponentially in projections-per-band at FIXED band
    count, with branching factor ~ range/bucket_length.  Pinned at the
    sd-matched width (0.125 ~ the dim-64 projection spread): each extra
    projection must cut mass at least ~2.5x (measured ~3.7x)."""
    import sys

    sys.path.insert(0, "/root/repo")
    from scaling_bench import decorrelated_embeddings

    from interlinked_spark.llm.similarity import lsh_bucket_assignments
    from interlinked_spark.operators.diagnostics import bucket_stats

    emb = decorrelated_embeddings(spark, 2000).cache()
    emb.count()
    mass = {}
    for r in (1, 2, 3):
        asg = lsh_bucket_assignments(
            emb, num_hash_tables=12, bucket_length=0.125, projections_per_band=r
        )
        mass[r] = bucket_stats(asg, ["entry", "bucket"], "id").collect()[0].pair_mass
    emb.unpersist()
    assert mass[2] < mass[1] / 2.5
    assert mass[3] < mass[2] / 2.5


def test_qhist_state_batching_invariant_and_bound(spark, tmp_path):
    """Quantile-histogram state: (a) sum of per-batch histograms ==
    one-shot histogram EXACTLY for any batch split (integer bins), (b)
    quantile estimate obeys 0 <= est - exact_disc <= bin_width, (c)
    appends inherit the pinned grid."""
    import pyspark.sql.functions as F

    from interlinked_spark.operators.sketches import (
        qhist_bins,
        qhist_build,
        qhist_quantiles,
        qhist_update,
    )

    df = spark.range(1000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") % 97).cast("double").alias("v"),
    )
    path = str(tmp_path / "qh")
    qhist_build(df.filter(F.col("id") % 4 == 0), ["g"], "v", path, 0.0, 100.0, 50)
    for r in (1, 2, 3):
        qhist_update(df.filter(F.col("id") % 4 == r), ["g"], "v", path)

    summed = {
        (r.g, r.bin): r.c
        for r in spark.read.parquet(f"{path}/state")
        .groupBy("g", "bin")
        .agg(F.sum("c").alias("c"))
        .collect()
    }
    oneshot = {
        (r.g, r.bin): r.c
        for r in qhist_bins(df, ["g"], "v", 0.0, 100.0, 50).collect()
    }
    assert summed == oneshot

    import math

    est = {(r.g, r.q): r.est for r in qhist_quantiles(spark, path, ["g"], [0.5, 0.9]).collect()}
    vals = sorted(r.v for r in df.filter(F.col("g") == "0").collect())
    for q in (0.5, 0.9):
        exact = vals[max(1, math.ceil(q * len(vals))) - 1]
        assert 0 <= est[("0", q)] - exact <= 2.0  # bin width = 100/50


def test_weighted_sample_deterministic_and_weight_rules(spark):
    """A-ES sampler: zero/negative/NULL weights excluded, result is
    partitioning-invariant (hash randomness, not Spark's seeded
    sample), and distinct salts draw different samples."""
    import pyspark.sql.functions as F

    from interlinked_spark.operators.sampling import weighted_sample_topn

    df = spark.range(500).select(
        F.col("id"),
        F.when(F.col("id") % 50 == 0, F.lit(0.0))
        .when(F.col("id") % 50 == 1, F.lit(-1.0))
        .otherwise((F.col("id") % 7 + 1).cast("double"))
        .alias("w"),
    )
    a = {r.id for r in weighted_sample_topn(df, "id", "w", 30).collect()}
    b = {r.id for r in weighted_sample_topn(df.repartition(13), "id", "w", 30).collect()}
    assert a == b and len(a) == 30
    assert all(i % 50 not in (0, 1) for i in a)
    c = {r.id for r in weighted_sample_topn(df, "id", "w", 30, salt="other").collect()}
    assert c != a


def test_stream_qhist_full_replay_is_idempotent(spark, tmp_path):
    """The streaming quantile-state gate's exactly-once claim, executed:
    a FULL second replay into the same state dir re-emits the same
    batch ids, which overwrite their own `batch=<id>` partitions —
    state row count and quantile answers are unchanged (an additive
    state without the per-batch-dir overwrite would double-count)."""
    import pyspark.sql.functions as F

    from interlinked_spark.operators.sketches import qhist_quantiles
    from interlinked_spark.streaming.ops import run_qhist_into_state, stream_from_parquet

    src = str(tmp_path / "src")
    spark.range(2000).select(
        (F.col("id") % 4).cast("string").alias("g"),
        (F.col("id") % 83).cast("double").alias("v"),
    ).repartition(4).write.parquet(src)

    state = str(tmp_path / "state")
    run_qhist_into_state(
        stream_from_parquet(spark, src), ["g"], "v", lo=0.0, hi=100.0, bins=50,
        state_path=state,
    )
    first = sorted(
        map(tuple, qhist_quantiles(spark, state, ["g"], [0.5, 0.9]).collect())
    )
    n_rows = spark.read.parquet(f"{state}/state").count()

    # Fresh checkpoint -> the whole source replays as the same batch ids.
    run_qhist_into_state(
        stream_from_parquet(spark, src), ["g"], "v", lo=0.0, hi=100.0, bins=50,
        state_path=state,
    )
    again = sorted(
        map(tuple, qhist_quantiles(spark, state, ["g"], [0.5, 0.9]).collect())
    )
    assert again == first
    assert spark.read.parquet(f"{state}/state").count() == n_rows


def test_stream_hll_full_replay_is_idempotent(spark, tmp_path):
    """The streaming HLL gate's replay protection: a full second replay
    into the same state dir overwrites its own batch partitions —
    state row count and estimates unchanged."""
    import pyspark.sql.functions as F

    from interlinked_spark.operators.sketches import sketch_state_estimates
    from interlinked_spark.streaming.ops import run_hll_into_state, stream_from_parquet

    src = str(tmp_path / "src")
    spark.range(3000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") % 500).alias("v"),
    ).repartition(4).write.parquet(src)

    state = str(tmp_path / "state")
    run_hll_into_state(stream_from_parquet(spark, src), ["g"], "v", state_path=state)
    first = sorted(
        map(tuple, sketch_state_estimates(spark, state, ["g"]).collect())
    )
    n_rows = spark.read.parquet(f"{state}/state").count()

    run_hll_into_state(stream_from_parquet(spark, src), ["g"], "v", state_path=state)
    assert sorted(
        map(tuple, sketch_state_estimates(spark, state, ["g"]).collect())
    ) == first
    assert spark.read.parquet(f"{state}/state").count() == n_rows


def test_nb_classifier_learns_when_signal_exists(spark):
    """The NB train/score machinery on a corpus WITH label signal
    (distinct vocabularies per label + shared noise): perfect held-out
    accuracy, and prior-only fallback for OOV-only docs (the catalog
    corpus is signal-free by construction, so its query pins the
    machinery, not the learning — this pins the learning)."""
    import pyspark.sql.functions as F

    from interlinked_spark.llm.classify import nb_predict, nb_train

    def text_for(i):
        label = ("alpha", "beta", "gamma")[i % 3]
        words = [f"{label}word{j}" for j in range(6)] + ["shared", "noise"]
        return " ".join(words[(i + j) % len(words)] for j in range(12))

    rows = [(i, ("a", "b", "c")[i % 3], text_for(i)) for i in range(120)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 2 == 1)

    priors, loglik = nb_train(train, "lang", vocab_size=64)
    pred = nb_predict(test, priors, loglik)
    got = {r.id: r.pred_label for r in pred.collect()}
    assert all(got[i] == ("a", "b", "c")[i % 3] for i in got)
    assert len(got) == test.count()

    # OOV-only doc: falls back to the prior argmax (every doc scored).
    oov = spark.createDataFrame(
        [(999, "zzz qqq www")], "doc_id long, text string"
    )
    fallback = nb_predict(oov, priors, loglik).collect()
    assert len(fallback) == 1 and fallback[0].pred_label == "a"  # uniform priors: lowest label


def test_triangle_counts_hand_graph_and_orientation_bound(spark):
    """K4 + pendant: every K4 vertex sits in 3 triangles; the degree-4
    articulation vertex has clustering 0.5; the pendant 0.  Directed
    duplicates and self-loops in the input must not change anything
    (canonicalized to undirected simple edges first)."""
    from pyspark.sql import functions as F

    from interlinked_spark.operators.graph import triangle_counts

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 5)],
        "a long, b long",
    )
    got = {
        r["vertex"]: (r["degree"], r["triangles"], r["clustering"])
        for r in triangle_counts(edges).collect()
    }
    assert got == {
        1: (3, 3, 1.0),
        2: (3, 3, 1.0),
        3: (3, 3, 1.0),
        4: (4, 3, 0.5),
        5: (1, 0, 0.0),
    }
    # Orientation bound: the oriented out-degree of the hub in a star
    # is 0 (hub has the highest degree, so every edge points AT it) —
    # a star has no triangles and generates ZERO wedge rows.
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 8)], "a long, b long"
    )
    rows = triangle_counts(star).collect()
    assert all(r["triangles"] == 0 for r in rows)
    assert {r["degree"] for r in rows} == {7, 1}


def test_vector_index_bands_corpus_with_null_first_row(spark, tmp_path):
    """The empty-seed fast path keys on row COUNT, not the probed dim:
    a populated corpus whose first row carries a NULL embedding must
    still write real band assignments (an empty assignments table would
    silently match nothing — review-caught regression guard)."""
    from pyspark.sql import functions as F

    from interlinked_spark.llm.similarity import (
        build_vector_index,
        lsh_incremental_matches,
    )

    import pytest

    base = [(0, None)] + [(i, [float(i % 3), 1.0, 0.0, 2.0]) for i in range(1, 9)]
    corpus = spark.createDataFrame(
        base, "vec_id long, embedding array<float>"
    ).orderBy("vec_id")
    idx = str(tmp_path / "nullfirst_idx")
    # raw null-bearing corpus: the banding path runs (NOT the empty fast
    # path) and fails LOUDLY on the null vector — never a silent empty
    # assignments table.  Callers drop nulls explicitly, which works:
    with pytest.raises(Exception, match="FAILED_EXECUTE_UDF|null"):
        build_vector_index(corpus, idx, num_hash_tables=4, bucket_length=0.5)
    build_vector_index(corpus.filter(F.col("embedding").isNotNull()), idx,
                       num_hash_tables=4, bucket_length=0.5)
    assigns = spark.read.parquet(f"{idx}/assignments")
    assert assigns.count() > 0  # banded, not the empty fast path
    # and the index actually matches: an identical probe vector hits
    probe = spark.createDataFrame(
        [(100, [1.0, 1.0, 0.0, 2.0])], "vec_id long, embedding array<float>"
    )
    hits = lsh_incremental_matches(spark, idx, probe, cosine_threshold=0.99)
    assert hits.count() > 0
