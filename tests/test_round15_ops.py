"""Round-15 operator tests: the materialized IVF-PQ index lifecycle
(build / frozen-codebook append / stored-codes search / range match)
and the PQ-state streaming vector gate (r14 verdict item 3).

Threshold provenance for ``catalog.VEC_PQ_GATE_ADC_T = 1.0``: the
residual-ADC distribution over earlier-seen candidate pairs at sf0.001
is min 0.72 / p5 1.13 / median 1.41 / max 2.14 (measured via the
oracle's own adc CTE), so T=1.0 sits below p5 — the gate rejects a
real majority-but-not-all of the streamed fifth (64/100 at sf0.001,
54/100 at sf0.01; both embeddings tables are 500-vector draws), the
expected first-seen-wins behavior on a corpus that is dense in cosine
space (cf. the cos>=0.3 LSH gate)."""

import shutil

import pyspark.sql.functions as F
import pytest

from .conftest import SF_SMOKE as SF


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def built_index(spark, emb, tmp_path_factory):
    """Index built on the base subset, held-out fifth appended against
    the frozen codebooks — the catalog resource's exact lifecycle."""
    from interlinked_spark.llm.pq_index import append_ivfpq_index, build_ivfpq_index

    path = str(tmp_path_factory.mktemp("t15_ivfpq_"))
    base = emb.filter(F.col("vec_id") % 5 != 0)
    build_ivfpq_index(base, path, coarse_k=8, m=8, k=16, num_files=2)
    append_ivfpq_index(emb.filter(F.col("vec_id") % 5 == 0), path, num_files=1)
    return path


def test_append_freezes_codebooks(spark, emb, built_index):
    """Append must NEVER refit: the stored codebooks equal a fresh fit
    of the base subset alone, byte-for-byte, after the append."""
    from interlinked_spark.llm.embeddings import ivfpq_fit
    from interlinked_spark.llm.pq_index import load_ivfpq_index

    coarse, books, meta = load_ivfpq_index(spark, built_index)
    fit_coarse, fit_books = ivfpq_fit(
        emb.filter(F.col("vec_id") % 5 != 0), coarse_k=8, m=8, k=16
    )
    assert coarse == [(cid, list(c)) for cid, c in fit_coarse]
    assert books == [[(cid, list(c)) for cid, c in b] for b in fit_books]
    assert (int(meta.coarse_k), int(meta.m), int(meta.k)) == (8, 8, 16)


def test_appended_codes_equal_one_shot_encode(spark, emb, built_index):
    """Build-then-append must equal encoding the whole corpus in one
    pass against the same codebooks (the oracle's formulation)."""
    from interlinked_spark.llm.pq_index import ivfpq_index_codes, load_ivfpq_index

    coarse, books, _ = load_ivfpq_index(spark, built_index)
    stored = spark.read.parquet(f"{built_index}/codes")
    oneshot = ivfpq_index_codes(emb, coarse, books)
    assert stored.count() == emb.count()
    assert (
        stored.exceptAll(oneshot).count() == 0
        and oneshot.exceptAll(stored).count() == 0
    )


def test_index_search_matches_in_query_trilogy(spark, emb, tmp_path):
    """Search through a full-corpus index == ``ivfpq_probed_top_k``
    (the in-query form) with the same fit — persistence must not move
    a single neighbor or distance."""
    from interlinked_spark.llm.embeddings import ivfpq_fit, ivfpq_probed_top_k
    from interlinked_spark.llm.pq_index import build_ivfpq_index, ivfpq_index_search

    path = str(tmp_path)
    build_ivfpq_index(emb, path, coarse_k=8, m=8, k=16, num_files=2)
    qs = emb.filter(F.col("vec_id") < 5)
    got = {
        (r.query_id, r.neighbor_id, r.adc)
        for r in ivfpq_index_search(spark, path, qs, k=5, n_probe=3).collect()
    }
    coarse, books = ivfpq_fit(emb, coarse_k=8, m=8, k=16)
    want = {
        (r.query_id, r.neighbor_id, r.adc)
        for r in ivfpq_probed_top_k(emb, qs, coarse, books, k=5, n_probe=3).collect()
    }
    assert got == want and len(got) == 25


def test_build_refuses_empty_corpus(spark, emb, tmp_path):
    from interlinked_spark.llm.pq_index import build_ivfpq_index

    with pytest.raises(ValueError, match="empty"):
        build_ivfpq_index(emb.filter(F.lit(False)), str(tmp_path))


def test_append_and_search_check_dim(spark, emb, built_index):
    from interlinked_spark.llm.pq_index import append_ivfpq_index, ivfpq_index_search

    bad = emb.select("vec_id", F.slice("embedding", 1, 8).alias("embedding"))
    with pytest.raises(ValueError, match="dim"):
        append_ivfpq_index(bad, built_index)
    with pytest.raises(ValueError, match="dim"):
        ivfpq_index_search(spark, built_index, bad).collect()


def test_index_matches_within_batch_id_order(spark, emb, built_index):
    """``coded_extra`` + ``extra_id_lt`` yields only smaller-id matches
    from the extra side — the streaming gate's within-batch rule."""
    from interlinked_spark.llm.pq_index import (
        ivfpq_index_codes,
        ivfpq_index_matches,
        load_ivfpq_index,
    )

    coarse, books, _ = load_ivfpq_index(spark, built_index)
    # Shift the batch ids DISJOINT from the stored corpus (ADVICE r15:
    # with overlapping ids the extra-side matches were masked by the
    # stored-index matches and the order rule was never asserted) —
    # any match whose match_id is in the shifted range can only have
    # come from coded_extra, so extra_id_lt is directly observable.
    shift = 1_000_000
    batch = emb.filter(F.col("vec_id") % 97 == 0).select(
        (F.col("vec_id") + shift).alias("vec_id"), "embedding"
    )
    codes = ivfpq_index_codes(batch, coarse, books)
    m = ivfpq_index_matches(
        spark, built_index, batch, adc_threshold=10.0, n_probe=8,
        coded_extra=codes, extra_id_lt=True,
    )
    rows = m.collect()
    assert rows, "radius 10 with probe-all must match something"
    extra_side = [r for r in rows if r.match_id >= shift]
    assert extra_side, "within-batch pairs must surface at radius 10"
    for r in extra_side:
        assert r.match_id < r.new_id, "extra_id_lt: smaller id wins"
    for r in rows:
        assert r.new_id != r.match_id
        assert r.adc <= 10.0


def test_pq_gate_batch_boundary_invariance(spark, emb):
    """First-seen-wins replay-exactness: the accepted set must be
    identical for 1 vs 3 id-ordered micro-batches (the docstring's
    contract, and why the catalog oracle can be a single anti-join)."""
    from interlinked_spark.catalog import _stage_id_ordered_files
    from interlinked_spark.streaming import replay_shuffle_partitions
    from interlinked_spark.streaming.ops import (
        run_vector_neardup_pq_gate_into_parquet,
        stream_from_parquet,
    )

    base = emb.filter(F.col("vec_id") % 5 != 0)
    new = emb.filter(F.col("vec_id") % 5 == 0).select("vec_id", "embedding")
    got = {}
    for n_files in (1, 3):
        staged = _stage_id_ordered_files(new, "vec_id", n_files)
        stream = stream_from_parquet(spark, staged)
        with replay_shuffle_partitions(spark, 4):
            accepted, idx = run_vector_neardup_pq_gate_into_parquet(
                stream, base, adc_threshold=1.0, n_probe=3,
            )
        got[n_files] = {r.vec_id for r in spark.read.parquet(accepted).collect()}
        for p in (accepted, idx, staged):
            shutil.rmtree(p, ignore_errors=True)
    assert got[1] == got[3]
    assert 0 < len(got[1]) < new.count()


def test_ks_null_side_abstains(spark):
    """ADVICE r14: rows whose side expression is NULL join NEITHER
    cohort — operator and SQL-twin convention now agree explicitly."""
    from interlinked_spark.operators.aggregates import ks_two_sample

    df = spark.createDataFrame(
        [(True, 1.0), (True, 2.0), (False, 2.0), (False, 3.0), (None, 9.0)],
        "s boolean, v double",
    )
    row = ks_two_sample(df, "s", "v").first()
    # the NULL-side row must appear in neither n_a nor n_b
    assert (row.n_a, row.n_b) == (2, 2)
    # and must not shift the sup: D = |1/2 - 0/2| at v=1 -> 0.5
    assert abs(row.d_stat - 0.5) < 1e-9 and row.d_at == 1.0


def test_span_gate_warns_on_cap_crossing(spark):
    """ADVICE r14: a k-gram crossing max_kgram_df mid-stream breaks
    batch/stream equality — the gate must say so, not stay silent."""
    import warnings

    from interlinked_spark.catalog import _stage_id_ordered_files
    from interlinked_spark.streaming.ops import (
        run_span_dedup_into_state,
        stream_from_parquet,
    )

    # one shared 3-gram ("x y z") in every doc: prefix df 2 after batch
    # 1 (under cap 3, pairs emitted), 4 after batch 2 (crossed).
    docs = spark.createDataFrame(
        [(i, f"x y z tail{i} a{i} b{i} c{i} d{i} e{i}") for i in range(4)],
        "doc_id bigint, text string",
    )
    staged = _stage_id_ordered_files(docs, "doc_id", 2)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        state = run_span_dedup_into_state(
            stream_from_parquet(spark, staged), k=3, min_len=1, max_kgram_df=3
        )
    msgs = [str(w.message) for w in caught if "max_kgram_df" in str(w.message)]
    assert msgs and "crossed" in msgs[0]
    shutil.rmtree(state, ignore_errors=True)
    shutil.rmtree(staged, ignore_errors=True)


def test_pq_index_codes_compaction_preserves_search(spark, emb, built_index):
    """compact_table on codes/ (the documented maintenance path) must
    not move a single neighbor or distance — and must shrink the file
    count an append-per-batch regime accumulates."""
    from interlinked_spark.llm.pq_index import ivfpq_index_search
    from interlinked_spark.sources.writers import compact_table

    qs = emb.filter(F.col("vec_id") < 5)
    before_rows = {
        (r.query_id, r.neighbor_id, r.adc)
        for r in ivfpq_index_search(spark, built_index, qs, k=5, n_probe=3).collect()
    }
    nb, na = compact_table(
        spark, f"{built_index}/codes", num_files=1, cluster_cols=["list"]
    )
    assert na <= nb and na == 1
    after_rows = {
        (r.query_id, r.neighbor_id, r.adc)
        for r in ivfpq_index_search(spark, built_index, qs, k=5, n_probe=3).collect()
    }
    assert after_rows == before_rows and len(after_rows) == 25


def test_filtered_search_only_allowed_neighbors(spark, emb, built_index):
    """The allowed semi-join is a PRE-filter: every returned neighbor
    satisfies the predicate, and the top-k is taken over eligible
    candidates (full k rows, not a post-filtered short list)."""
    from interlinked_spark.llm.pq_index import ivfpq_index_search

    allowed = emb.filter(F.col("label") % 2 == 0)
    qs = emb.filter(F.col("vec_id") < 5)
    rows = ivfpq_index_search(
        spark, built_index, qs, k=5, n_probe=3, allowed=allowed
    ).collect()
    even_ids = {r.vec_id for r in allowed.select("vec_id").collect()}
    assert len(rows) == 25
    assert all(r.neighbor_id in even_ids for r in rows)


def test_reranked_probe_all_big_c_equals_exact_topk(spark, emb, tmp_path):
    """With probe-all and c >= corpus size the ADC stage is a complete
    candidate generator, so the exact-L2 re-rank must equal brute-force
    exact top-k — pinning that approximation lives ONLY in the
    shortlist, never in the re-rank arithmetic."""
    from interlinked_spark.llm.pq_index import (
        build_ivfpq_index,
        ivfpq_index_search_reranked,
    )
    from interlinked_spark.operators.windows import top_k_per_group

    path = str(tmp_path)
    build_ivfpq_index(emb, path, coarse_k=8, m=8, k=16, num_files=1)
    qs = emb.filter(F.col("vec_id") < 5)
    n = emb.count()
    got = {
        (r.query_id, r.neighbor_id, r.l2)
        for r in ivfpq_index_search_reranked(
            spark, path, qs, emb, k=5, c=n, n_probe=8
        ).collect()
    }
    q = qs.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv"))
    v = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__nv"))
    l2 = F.round(
        F.aggregate(
            F.zip_with(
                F.col("__qv"),
                F.col("__nv"),
                lambda a, b: (a.cast("double") - b.cast("double"))
                * (a.cast("double") - b.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    exact = top_k_per_group(
        v.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("l2", l2)
        .select("query_id", "neighbor_id", "l2"),
        ["query_id"],
        [F.col("l2").asc(), F.col("neighbor_id").asc()],
        5,
    )
    want = {(r.query_id, r.neighbor_id, r.l2) for r in exact.collect()}
    assert got == want and len(got) == 25


def test_hd_rotation_is_orthogonal_and_guarded():
    """R R^T = I exactly-ish (entries are +-1/8, sums of 64 such
    products) and the power-of-two guard fires."""
    import pytest as _pytest

    from interlinked_spark.llm.embeddings import hd_rotation_matrix

    d = 16
    r = hd_rotation_matrix(d)
    for i in range(d):
        for j in range(d):
            dot = sum(r[i][t] * r[j][t] for t in range(d))
            assert abs(dot - (1.0 if i == j else 0.0)) < 1e-12
    with _pytest.raises(ValueError, match="power-of-two"):
        hd_rotation_matrix(48)


def test_structured_rotation_preserves_norms(spark, emb):
    """Orthogonality on the engine side: rotated L2 norms equal the
    originals (the reason rotated-space MSE is the true reconstruction
    MSE)."""
    from interlinked_spark.llm.embeddings import structured_rotation

    sq = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    row = (
        emb.select(
            F.max(
                F.abs(
                    sq(F.col("embedding"))
                    - sq(structured_rotation("embedding", 64))
                )
            ).alias("dmax")
        ).first()
    )
    assert row.dmax < 1e-9


def test_sliding_chunks_cover_and_overlap(spark):
    """Lattice invariants: every token covered, consecutive chunks
    overlap by window - stride, only the last chunk is short, and a
    short doc yields exactly one chunk.  Plus the stride guard."""
    from interlinked_spark.llm.text import sliding_token_chunks

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(150))), (2, "a b c")],
        "doc_id bigint, text string",
    )
    rows = sorted(
        sliding_token_chunks(docs, window=64, stride=48).collect(),
        key=lambda r: (r.id, r.chunk_id),
    )
    d1 = [r for r in rows if r.id == 1]
    # 150 tokens -> C = 1 + ceil(86/48) = 3 chunks at 0, 48, 96
    assert [r.start_tok for r in d1] == [0, 48, 96]
    assert [r.n_tokens for r in d1] == [64, 64, 54]
    # coverage: last chunk reaches token 149; overlap = 16
    assert d1[-1].start_tok + d1[-1].n_tokens == 150
    assert d1[0].start_tok + 64 - d1[1].start_tok == 16
    # overlapping region text matches between consecutive chunks
    assert d1[0].chunk_text.split()[48:] == d1[1].chunk_text.split()[:16]
    d2 = [r for r in rows if r.id == 2]
    assert len(d2) == 1 and d2[0].n_tokens == 3 and d2[0].chunk_text == "a b c"
    with pytest.raises(ValueError, match="stride"):
        sliding_token_chunks(docs, window=8, stride=9)


def test_linear_interp_reference(spark):
    """Hand-checked interpolation: gap between (t=0, 1.0) and (t=4,
    5.0) fills 2.0/3.0/4.0; leading/trailing gaps take the nearest
    neighbor; observed cells pass through exactly."""
    from interlinked_spark.operators.timeseries import linear_interp_fill

    df = spark.createDataFrame(
        [("k", -1, None), ("k", 0, 1.0), ("k", 1, None), ("k", 2, None),
         ("k", 3, None), ("k", 4, 5.0), ("k", 5, None)],
        "k string, t long, v double",
    )
    got = {
        r.t: r.v_li
        for r in linear_interp_fill(df, ["k"], "t", "v").collect()
    }
    assert got == {-1: 1.0, 0: 1.0, 1: 2.0, 2: 3.0, 3: 4.0, 4: 5.0, 5: 5.0}


def test_maxsim_degenerates_to_cosine_on_one_slice(spark, emb):
    """With n_slices=1 MaxSim IS plain cosine top-k (one token per
    side: the max is over one candidate, the sum over one term) — the
    invariant that pins the aggregate plumbing to a known-green
    operator."""
    from interlinked_spark.llm.similarity import (
        cosine_top_k,
        explode_token_vectors,
        maxsim_top_k,
    )

    toks = explode_token_vectors(emb, 1)
    got = {
        (r.query_id, r.neighbor_id, r.maxsim)
        for r in maxsim_top_k(toks, toks.filter(F.col("id") < 5), k=5).collect()
    }
    want = {
        (r.query_id, r.neighbor_id, r.cosine)
        for r in cosine_top_k(emb, emb.filter(F.col("vec_id") < 5), k=5).collect()
    }
    assert got == want and len(got) == 25


def test_maxsim_rewards_covering_every_aspect(spark):
    """The late-interaction property: each query token matches its best
    doc token INDEPENDENTLY, so a doc covering both orthogonal query
    aspects with separate tokens (MaxSim 1+1=2) outranks a doc that
    doubles down on one aspect (1+0=1) — a single pooled vector cannot
    see the difference (both docs pool to the same direction-sum
    geometry)."""
    from interlinked_spark.llm.similarity import maxsim_top_k

    rows = [
        (0, 0, [1.0, 0.0]), (0, 1, [0.0, 1.0]),  # query aspects A, B
        (1, 0, [1.0, 0.0]), (1, 1, [0.0, 1.0]),  # covers A and B
        (2, 0, [1.0, 0.0]), (2, 1, [1.0, 0.0]),  # A twice, B never
    ]
    toks = spark.createDataFrame(rows, "id bigint, tok int, tv array<double>")
    out = maxsim_top_k(toks, toks.filter(F.col("id") == 0), k=2).collect()
    scores = {r.neighbor_id: r.maxsim for r in out}
    assert scores[1] == 2.0 and scores[2] == 1.0


def test_seasonal_decompose_recovers_planted_cycle(spark):
    """Plant value = 100 + phase (period 4) on a long series: the
    moving-average trend (full 5-row windows, half_window=2 with
    period-4 seasonality... use half_window=2 -> 5-row window over a
    4-cycle is NOT seasonal-balanced, so use a period that divides the
    window: period 5, window 5) recovers the level exactly, the
    seasonal means recover the planted offsets (centered), and
    residuals vanish."""
    from interlinked_spark.operators.timeseries import seasonal_decompose

    period, n = 5, 40
    rows = [
        ("k", t, (100 + (t % period)) * 100, t % period) for t in range(n)
    ]
    df = spark.createDataFrame(rows, "k string, t long, c long, phase int")
    out = {r.t: r for r in seasonal_decompose(
        df, ["k"], "t", "c", "phase", half_window=2
    ).collect()}
    # interior rows: trend = mean of one full cycle = 102; seasonal =
    # phase offset - 2; residual = 0
    for t in range(2, n - 2):
        r = out[t]
        assert r.trend == 102.0, (t, r)
        assert r.seasonal is not None
        assert abs(r.v - r.trend - r.seasonal - (r.resid or 0.0)) < 1e-9
        assert abs((r.resid or 0.0)) < 0.02  # edge rows tilt the means
    # edge rows: no full window -> NULL trend and resid
    assert out[0].trend is None and out[0].resid is None
    assert out[n - 1].trend is None and out[n - 1].resid is None


def test_position_attribution_reference(spark):
    """Hand-checked U-shape: 3 touches -> 40/20/40; a touch after the
    last purchase credits nothing; windows partition at the previous
    purchase; credit always sums to 1 per converted purchase."""
    from interlinked_spark.operators.timeseries import position_attribution

    rows = [
        # user 1: c1 c2 c3 -> P(100) ; c4 (after last purchase, dropped)
        (1, 1, "2024-01-01 00:01:00", "click", 0.0),
        (2, 1, "2024-01-01 00:02:00", "click", 0.0),
        (3, 1, "2024-01-01 00:03:00", "click", 0.0),
        (4, 1, "2024-01-01 00:04:00", "purchase", 100.0),
        (5, 1, "2024-01-01 00:05:00", "click", 0.0),
        # user 2: c6 -> P7(50) ; c8 -> P9(80): windows partition
        (6, 2, "2024-01-01 01:00:00", "click", 0.0),
        (7, 2, "2024-01-01 01:10:00", "purchase", 50.0),
        (8, 2, "2024-01-01 01:20:00", "click", 0.0),
        (9, 2, "2024-01-01 01:30:00", "purchase", 80.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts string, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {r.click_id: r for r in position_attribution(ev).collect()}
    assert set(out) == {1, 2, 3, 6, 8}
    assert (out[1].credit_share, out[2].credit_share, out[3].credit_share) == (0.4, 0.2, 0.4)
    assert out[1].credited_value == 40.0 and out[2].credited_value == 20.0
    assert out[6].purchase_id == 7 and out[6].credit_share == 1.0 and out[6].credited_value == 50.0
    assert out[8].purchase_id == 9 and out[8].credited_value == 80.0
    # per-purchase shares sum to 1
    from collections import defaultdict
    sums = defaultdict(float)
    for r in out.values():
        sums[r.purchase_id] += r.credit_share
    assert all(abs(s - 1.0) < 1e-9 for s in sums.values())


def test_quantile_normalize_reference(spark):
    """Hand-checked tie-averaged midpoints: values 1,2,2,3 -> q =
    0.125, 0.5 (both ties), 0.875; symmetric and strictly in (0,1)."""
    from interlinked_spark.operators.aggregates import quantile_normalize

    df = spark.createDataFrame(
        [("k", 1.0), ("k", 2.0), ("k", 2.0), ("k", 3.0)], "k string, v double"
    )
    got = {r.v: (r.n_ties, r.q) for r in quantile_normalize(df, ["k"], "v").collect()}
    assert got == {1.0: (1, 0.125), 2.0: (2, 0.5), 3.0: (1, 0.875)}


def test_proration_days_and_value_reconstruct(spark):
    """Per-interval invariants: month day-counts sum to total_days
    exactly, prorated values reconstruct the price to rounding, and a
    within-month interval yields exactly one full-share row."""
    from interlinked_spark.operators.timeseries import prorate_by_month

    df = spark.createDataFrame(
        [(1, "2024-01-20", "2024-03-05", 100.0),   # spans 3 months
         (2, "2024-02-03", "2024-02-10", 70.0)],   # within one month
        "id bigint, s string, e string, v double",
    ).select("id", F.to_date("s").alias("s"), F.to_date("e").alias("e"), "v")
    rows = prorate_by_month(df, "s", "e", "v", ["id"]).collect()
    one = [r for r in rows if r.id == 1]
    assert [str(r.month) for r in sorted(one, key=lambda r: str(r.month))] == [
        "2024-01-01", "2024-02-01", "2024-03-01"
    ]
    assert sum(r.days_in_month for r in one) == one[0].total_days == 45
    assert abs(sum(r.prorated for r in one) - 100.0) < 1e-4
    # Jan: 12 days of 45 -> 100*12/45
    jan = next(r for r in one if str(r.month) == "2024-01-01")
    assert jan.days_in_month == 12 and abs(jan.prorated - 100 * 12 / 45) < 1e-6
    two = [r for r in rows if r.id == 2]
    assert len(two) == 1 and two[0].days_in_month == two[0].total_days == 7
    assert two[0].prorated == 70.0
