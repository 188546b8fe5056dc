"""Round-16 operator tests: the multi-vector (token) index + MaxSim
re-rank production composition (r15 verdict item 4), index takedown
deletion (item 5), the append drift monitor (item 6), and the three
ADVICE r15 library guards (prorate precondition, quantile-normalize
NULL abstain, positional-filter x hot-gram-cap warning)."""

import pyspark.sql.functions as F
import pytest

from .conftest import SF_SMOKE as SF


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def toks(spark, emb):
    from interlinked_spark.llm.similarity import explode_token_vectors

    return explode_token_vectors(emb, 4)


@pytest.fixture(scope="module")
def token_index(spark, toks, tmp_path_factory):
    from interlinked_spark.llm.pq_index import build_ivfpq_token_index

    path = str(tmp_path_factory.mktemp("t16_tokidx_"))
    build_ivfpq_token_index(
        toks, path, n_slices=4, coarse_k=8, m=2, k=16, num_files=2
    )
    return path


# ---------- multi-vector index + MaxSim re-rank ----------


def test_token_index_layout_and_meta(spark, token_index):
    """Same coarse/books/codes/meta layout, n_slices pinned alongside."""
    meta = spark.read.parquet(f"{token_index}/meta").first()
    assert (int(meta.dim), int(meta.m), int(meta.dsub)) == (16, 2, 8)
    mt = spark.read.parquet(f"{token_index}/meta_tokens").first()
    assert int(mt.n_slices) == 4
    codes = spark.read.parquet(f"{token_index}/codes")
    assert set(codes.columns) == {"id", "list", "c0", "c1"}


def test_maxsim_reranked_excludes_query_doc(spark, toks, token_index):
    """Self-matches are excluded at DOC granularity — a query must not
    retrieve its own document through a different token."""
    from interlinked_spark.llm.pq_index import maxsim_index_search_reranked

    top = maxsim_index_search_reranked(
        spark, token_index, toks.filter(F.col("id") < 5), toks, k=5
    ).collect()
    assert top, "sf0.001 corpus must produce matches"
    for r in top:
        assert r.query_id != r.neighbor_id


def test_maxsim_reranked_scores_are_exact_maxsim(spark, toks, token_index):
    """Stage 2 is EXACT MaxSim: every returned (q, d) score must equal
    the brute-force ``maxsim_top_k`` score for that same pair."""
    from interlinked_spark.llm.pq_index import maxsim_index_search_reranked
    from interlinked_spark.llm.similarity import maxsim_top_k

    top = maxsim_index_search_reranked(
        spark, token_index, toks.filter(F.col("id") < 5), toks, k=5
    ).collect()
    n_corpus = toks.select("id").distinct().count()
    brute = {
        (r.query_id, r.neighbor_id): r.maxsim
        for r in maxsim_top_k(
            toks, toks.filter(F.col("id") < 5), k=n_corpus
        ).collect()
    }
    assert top
    for r in top:
        assert brute[(r.query_id, r.neighbor_id)] == pytest.approx(
            r.maxsim, abs=1e-9
        )


def test_maxsim_reranked_deterministic(spark, toks, token_index):
    a = _maxsim_rows(spark, toks, token_index)
    b = _maxsim_rows(spark, toks, token_index)
    assert a == b


def _maxsim_rows(spark, toks, token_index):
    from interlinked_spark.llm.pq_index import maxsim_index_search_reranked

    return sorted(
        (r.query_id, r.neighbor_id, r.maxsim)
        for r in maxsim_index_search_reranked(
            spark, token_index, toks.filter(F.col("id") < 5), toks, k=5
        ).collect()
    )


# ---------- takedown deletion ----------


def test_delete_from_index_end_to_end(spark, emb, tmp_path):
    """Deleted ids vanish from codes AND search; codebooks stay frozen;
    append still works after the delete+compact."""
    from interlinked_spark.llm.pq_index import (
        append_ivfpq_index,
        build_ivfpq_index,
        delete_from_ivfpq_index,
        ivfpq_index_search,
        load_ivfpq_index,
    )

    path = str(tmp_path)
    base = emb.filter(F.col("vec_id") % 5 != 0)
    build_ivfpq_index(base, path, coarse_k=8, m=8, k=16, num_files=2)
    books_before = load_ivfpq_index(spark, path)[:2]
    gone = emb.filter(F.col("vec_id") % 7 == 0)
    gone_ids = {r.vec_id for r in gone.select("vec_id").collect()}
    delete_from_ivfpq_index(spark, path, gone, compact=True, num_files=2)
    left = {r.id for r in spark.read.parquet(f"{path}/codes").collect()}
    assert left.isdisjoint(gone_ids)
    assert load_ivfpq_index(spark, path)[:2] == books_before
    # append survives the delete+compact (against frozen codebooks)
    appended = emb.filter(
        (F.col("vec_id") % 5 == 0) & (F.col("vec_id") % 7 != 0)
    )
    append_ivfpq_index(appended, path, num_files=1)
    top = ivfpq_index_search(
        spark, path, emb.filter(F.col("vec_id") < 5), k=5, n_probe=8
    ).collect()
    assert top
    assert gone_ids.isdisjoint({r.neighbor_id for r in top})


# ---------- append drift monitor ----------


def test_append_stats_trend_on_drifted_batch(spark, emb, tmp_path):
    """The drift monitor's whole point: a batch the frozen codebooks
    no longer fit shows a HIGHER reconstruction error than a batch
    from the fit distribution, visible as a trend in append_stats."""
    from interlinked_spark.llm.pq_index import append_ivfpq_index, build_ivfpq_index

    path = str(tmp_path)
    build_ivfpq_index(
        emb.filter(F.col("vec_id") % 5 != 0), path,
        coarse_k=8, m=8, k=16, num_files=2,
    )
    same_dist = emb.filter(F.col("vec_id") % 5 == 0)
    s0 = append_ivfpq_index(same_dist, path, num_files=1)
    drifted = same_dist.select(
        (F.col("vec_id") + 10_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 3.0 + 2.0).alias("embedding"),
    )
    s1 = append_ivfpq_index(drifted, path, num_files=1)
    assert s0["batch_seq"] == 0 and s1["batch_seq"] == 1
    assert s1["mean_err"] > s0["mean_err"] * 2
    assert s1["p95_err"] > s0["p95_err"]
    stats = (
        spark.read.parquet(f"{path}/append_stats")
        .orderBy("batch_seq")
        .collect()
    )
    assert [r.batch_seq for r in stats] == [0, 1]
    assert stats[0].n == stats[1].n == same_dist.count()
    assert 0.0 < stats[0].max_list_frac <= 1.0
    assert 1 <= stats[0].n_lists_hit <= 8


def test_append_stats_opt_out_writes_nothing(spark, emb, tmp_path):
    import os

    from interlinked_spark.llm.pq_index import append_ivfpq_index, build_ivfpq_index

    path = str(tmp_path)
    build_ivfpq_index(
        emb.filter(F.col("vec_id") % 5 != 0), path,
        coarse_k=8, m=8, k=16, num_files=2,
    )
    out = append_ivfpq_index(
        emb.filter(F.col("vec_id") % 5 == 0), path,
        num_files=1, stats=False,
    )
    assert out is None
    assert not os.path.exists(f"{path}/append_stats")


# ---------- ADVICE r15 library guards ----------


def test_prorate_drops_degenerate_intervals(spark):
    """end <= start rows are dropped deterministically instead of
    blowing up the month sequence / dividing by zero (ADVICE r15)."""
    from interlinked_spark.operators.timeseries import prorate_by_month

    rows = spark.createDataFrame(
        [
            (1, "2024-01-15", "2024-03-10", 100.0),   # valid, spans 3 months
            (2, "2024-02-01", "2024-02-01", 50.0),    # zero-length
            (3, "2024-03-10", "2024-01-15", 75.0),    # inverted
        ],
        "id int, s string, e string, v double",
    ).select("id", F.to_date("s").alias("s"), F.to_date("e").alias("e"), "v")
    out = prorate_by_month(rows, "s", "e", "v", ["id"]).collect()
    assert {r.id for r in out} == {1}
    assert sum(r.days_in_month for r in out) == out[0].total_days
    assert sum(r.prorated for r in out) == pytest.approx(100.0, abs=1e-4)


def test_quantile_normalize_null_abstain(spark):
    """NULLs abstain (ADVICE r15): q over non-NULL rows only, and no
    NULL cell appears in the output."""
    from interlinked_spark.operators.aggregates import quantile_normalize

    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("a", 2.0), ("a", 2.0), ("a", None)],
        "g string, v double",
    )
    out = {r.v: (r.n_ties, r.q) for r in quantile_normalize(df, ["g"], "v").collect()}
    assert None not in out
    # n = 3 non-NULL rows: q(1.0) = (0*2+1)/6, q(2.0) = (1*2+2)/6
    assert out[1.0] == (1, pytest.approx(1 / 6, abs=1e-6))
    assert out[2.0] == (2, pytest.approx(4 / 6, abs=1e-6))


def test_positional_filter_warns_with_hot_gram_cap(spark):
    """positional_filter + max_qgram_df is allowed but must WARN: the
    exactness argument needs every prefix posting present."""
    import warnings

    from interlinked_spark.operators.joins import fuzzy_candidate_stats

    p = spark.read.parquet(f"{SF}/part.parquet").limit(50)
    l = p.select(F.col("p_partkey").alias("l_id"), F.col("p_name").alias("l_name"))
    r = p.select(F.col("p_partkey").alias("r_id"), F.col("p_name").alias("r_name"))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        fuzzy_candidate_stats(
            l, r, "l_name", "r_name", "l_id", "r_id",
            threshold=0.5, dedupe_self=True,
            positional_filter=True, max_qgram_df=100,
        )
    assert any("max_qgram_df" in str(w.message) for w in caught)


# ---------- DDSketch relative-error quantile state ----------


def test_ddsketch_merge_is_batching_invariant(spark, tmp_path):
    """Bucket-wise integer sums: build + 2 appends == one-shot, exactly."""
    from interlinked_spark.operators.sketches import (
        ddsketch_buckets,
        ddsketch_build,
        ddsketch_update,
    )

    o = spark.read.parquet(f"{SF}/orders.parquet")
    path = str(tmp_path)
    ddsketch_build(
        o.filter(F.col("o_orderkey") % 3 == 0),
        ["o_orderpriority"], "o_totalprice", path,
    )
    for r in (1, 2):
        ddsketch_update(
            o.filter(F.col("o_orderkey") % 3 == r),
            ["o_orderpriority"], "o_totalprice", path,
        )
    merged = {
        (r.o_orderpriority, r.bucket): r.cnt
        for r in spark.read.parquet(f"{path}/state")
        .groupBy("o_orderpriority", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    }
    oneshot = {
        (r.o_orderpriority, r.bucket): r.cnt
        for r in ddsketch_buckets(
            o, ["o_orderpriority"], "o_totalprice"
        ).collect()
    }
    assert merged == oneshot


def test_ddsketch_alpha_guarantee_long_tail(spark, tmp_path):
    """The relative-error contract on a nine-decade long tail — the
    regime the fixed-grid qhist cannot cover without huge bins."""
    import math

    from interlinked_spark.operators.sketches import (
        ddsketch_build,
        ddsketch_quantiles,
    )

    alpha = 0.02
    vals = [(0, 10 ** (i / 40.0)) for i in range(361)]  # 1 .. 1e9
    df = spark.createDataFrame(vals, "g int, v double")
    path = str(tmp_path)
    ddsketch_build(df, ["g"], "v", path, alpha=alpha)
    qs = [0.01, 0.5, 0.99]
    out = {r.q: r for r in ddsketch_quantiles(spark, path, ["g"], qs).collect()}
    svals = sorted(v for _, v in vals)
    for q in qs:
        exact = svals[max(math.ceil(q * len(svals)), 1) - 1]
        got = out[q].est
        assert abs(got - exact) / exact <= alpha + 1e-6, (q, got, exact)
        assert out[q].n == len(svals)


def test_ddsketch_abstains_on_null_and_nonpositive(spark):
    from interlinked_spark.operators.sketches import ddsketch_buckets

    df = spark.createDataFrame(
        [(0, 5.0), (0, None), (0, 0.0), (0, -3.0), (0, 7.0)],
        "g int, v double",
    )
    total = (
        ddsketch_buckets(df, ["g"], "v").agg(F.sum("cnt")).first()[0]
    )
    assert total == 2  # only the two positive values count


def test_ddsketch_alpha_validation():
    import pytest as _pytest

    from interlinked_spark.operators.sketches import ddsketch_gamma

    for bad in (0.0, 1.0, -0.1, 2.0):
        with _pytest.raises(ValueError):
            ddsketch_gamma(bad)


# ---------- deterministic epoch shuffle ----------


def test_epoch_shuffle_matches_global_sort(spark):
    """Two-phase bucketed rank == the naive single global sort."""
    import hashlib

    from interlinked_spark.operators.sampling import epoch_shuffle

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id")
    got = {
        r.doc_id: r.shuffle_rank
        for r in epoch_shuffle(d, "doc_id", 3).collect()
    }
    ids = sorted(got)
    expected_order = sorted(
        ids, key=lambda i: (hashlib.md5(f"shuffle-e3:{i}".encode()).hexdigest(), i)
    )
    expected = {i: rank for rank, i in enumerate(expected_order, 1)}
    assert got == expected
    assert sorted(got.values()) == list(range(1, len(ids) + 1))  # dense 1..n


def test_epoch_shuffle_epochs_are_independent_permutations(spark):
    from interlinked_spark.operators.sampling import epoch_shuffle

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id")
    e0 = {r.doc_id: r.shuffle_rank for r in epoch_shuffle(d, "doc_id", 0).collect()}
    e1 = {r.doc_id: r.shuffle_rank for r in epoch_shuffle(d, "doc_id", 1).collect()}
    assert set(e0) == set(e1)
    assert sorted(e0.values()) == sorted(e1.values())
    assert e0 != e1, "different epochs must yield different permutations"


# ---- gate job-economy fast paths (optimization round 16) -------------


def test_update_vector_index_returns_pinned_meta_and_fast_path_matches(
    spark, tmp_path
):
    """The per-batch gate economics contract: (a) ``update_vector_index``
    RETURNS the effective meta row, and the first non-empty append into
    an empty-seeded index returns the freshly dim-PINNED row (so a gate
    can carry meta across batches instead of re-reading ``meta/``);
    (b) the ``meta=``/``batch_dim=`` fast path stores byte-identical
    state to the probe path; (c) ``vector_gate_rejections`` with the
    carried meta + pre-probed dim returns the same rejection set."""
    from interlinked_spark.llm.similarity import (
        _check_index_dim,
        build_vector_index,
        update_vector_index,
        vector_gate_rejections,
    )

    def vecs(ids_and_seeds):
        rows = []
        for vid, seed in ids_and_seeds:
            rows.append(
                (vid, [float((seed * 31 + i * 7) % 13 - 6) for i in range(8)])
            )
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    batch0 = vecs([(1, 3), (2, 5)])
    empty = spark.createDataFrame([], batch0.schema)

    # Probe path (reference).
    idx_a = str(tmp_path / "a")
    build_vector_index(empty, idx_a, num_hash_tables=4, num_files=1)
    meta_a0 = spark.read.parquet(f"{idx_a}/meta").first()
    assert meta_a0.dim is None
    meta_a1 = update_vector_index(batch0, idx_a)
    assert int(meta_a1.dim) == 8, "first append must return the PINNED meta"
    assert int(spark.read.parquet(f"{idx_a}/meta").first().dim) == 8

    # Fast path: carried meta + caller-probed dim; same stored state.
    idx_b = str(tmp_path / "b")
    build_vector_index(empty, idx_b, num_hash_tables=4, num_files=1)
    meta_b0 = spark.read.parquet(f"{idx_b}/meta").first()
    dim = _check_index_dim(meta_b0, batch0, "embedding", "test")
    meta_b1 = update_vector_index(
        batch0, idx_b, meta=meta_b0, batch_dim=dim
    )
    assert int(meta_b1.dim) == 8
    for sub in ("assignments", "vectors", "meta"):
        ra = sorted(map(tuple, spark.read.parquet(f"{idx_a}/{sub}").collect()))
        rb = sorted(map(tuple, spark.read.parquet(f"{idx_b}/{sub}").collect()))
        assert ra == rb, f"fast-path {sub} diverged from probe path"

    # Rejections: carried meta + pre-probed dim == per-call reads.
    batch1 = vecs([(10, 3), (11, 777)])  # 10 duplicates vec 1
    dim1 = _check_index_dim(meta_a1, batch1, "embedding", "test")
    slow, _ = vector_gate_rejections(
        spark, idx_a, batch1, cosine_threshold=0.999
    )
    fast, _ = vector_gate_rejections(
        spark, idx_b, batch1, cosine_threshold=0.999,
        meta=meta_b1, batch_dim=dim1,
    )
    assert sorted(r.new_id for r in slow.collect()) == sorted(
        r.new_id for r in fast.collect()
    )

    # Dim mismatch still fails loudly through the fast path's probe.
    bad = spark.createDataFrame(
        [(99, [1.0] * 5)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="dim"):
        _check_index_dim(meta_a1, bad, "embedding", "test")
