"""Round-2 operator units: connected components, sessionization,
deterministic hash sampling, reshape ops.  (The catalog oracle mirror
covers end-to-end correctness; these pin operator-level semantics on
hand-computed fixtures.)"""

import datetime as dt

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_connected_components_hand_graph(spark):
    # Components: {1,2,3,4 chain}, {10,11}, singleton vertices absent
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "src long, dst long"
    )
    from interlinked_spark.operators.graph import connected_components

    got = {
        (r.vertex, r.component) for r in connected_components(edges, "src", "dst").collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}


def test_connected_components_string_ids_hand_graph(spark):
    """String-id graphs take the same single-aggregate hash-checksum
    convergence path as integral ids (r8 verdict nit) — correctness
    pinned on a chain + pair + lexicographic-min representative."""
    edges = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y")], "src string, dst string"
    )
    from interlinked_spark.operators.graph import connected_components

    got = {
        (r.vertex, r.component) for r in connected_components(edges, "src", "dst").collect()
    }
    assert got == {("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")}


def test_connected_components_exact_convergence_string_ids(spark):
    """exact_convergence=True swaps the probabilistic xxhash checksum
    for a join-based label diff on non-integral ids (ADVICE r9) — same
    result, guaranteed change detection for adversarial id sets."""
    edges = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y")], "src string, dst string"
    )
    from interlinked_spark.operators.graph import connected_components

    got = {
        (r.vertex, r.component)
        for r in connected_components(
            edges, "src", "dst", exact_convergence=True
        ).collect()
    }
    assert got == {("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")}


def test_connected_components_raises_without_convergence(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    from interlinked_spark.operators.graph import connected_components

    with pytest.raises(RuntimeError, match="converge"):
        connected_components(edges, "src", "dst", max_iterations=1)


def test_sessionize_hand_events(spark):
    from interlinked_spark.operators.windows import sessionize

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        (1, t0),
        (1, t0 + dt.timedelta(seconds=100)),     # same session
        (1, t0 + dt.timedelta(seconds=2000)),    # gap > 1800 -> session 2
        (2, t0),                                  # other key -> own session 1
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = sorted(
        (r.user_id, int(r.ts.timestamp()), r.session_id)
        for r in sessionize(df, ["user_id"], "ts", 1800).collect()
    )
    base = int(t0.replace(tzinfo=dt.timezone.utc).timestamp())
    assert [g[2] for g in sorted(got)] == [1, 1, 2, 1]


def test_hash_sample_deterministic_and_join_consistent(spark):
    from interlinked_spark.operators.sampling import hash_sample

    c = spark.read.parquet(f"{SF}/customer.parquet")
    o = spark.read.parquet(f"{SF}/orders.parquet")
    a = sorted(r.c_custkey for r in hash_sample(c, "c_custkey", 0.2).select("c_custkey").collect())
    b = sorted(r.c_custkey for r in hash_sample(c, "c_custkey", 0.2).select("c_custkey").collect())
    assert a == b and 0.05 < len(a) / c.count() < 0.4
    # Join-consistency: sampling orders on the SAME key keeps exactly
    # the orders of sampled customers.
    so = {r.o_custkey for r in hash_sample(o, "o_custkey", 0.2).select("o_custkey").collect()}
    assert so == {k for k in (r.o_custkey for r in o.select("o_custkey").distinct().collect()) if k in set(a)}


def test_hash_sample_rejects_bad_fraction(spark):
    from interlinked_spark.operators.sampling import hash_sample

    df = spark.range(5)
    with pytest.raises(ValueError):
        hash_sample(df, "id", 1.5)


def test_grouping_sets_matches_union_of_aggregates(spark):
    from interlinked_spark.operators.reshape import grouping_sets_agg

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    g = grouping_sets_agg(
        li, [["l_returnflag"], []], {"n": F.count("*")}
    )
    got = {(r.l_returnflag, r.n) for r in g.collect()}
    per_flag = {(r.l_returnflag, r.n) for r in li.groupBy("l_returnflag").agg(F.count("*").alias("n")).collect()}
    assert got == per_flag | {(None, li.count())}


def test_unpivot_round_trips_pivot(spark):
    from interlinked_spark.operators.reshape import pivot_agg, unpivot_metrics

    o = spark.read.parquet(f"{SF}/orders.parquet")
    p = pivot_agg(o, ["o_orderpriority"], "o_orderstatus", ["F", "O"], {"n": F.count(F.lit(1))})
    p = p.select("o_orderpriority", F.coalesce("F", F.lit(0)).alias("F"), F.coalesce("O", F.lit(0)).alias("O"))
    u = unpivot_metrics(p, ["o_orderpriority"], ["F", "O"], "status", "n")
    back = {(r.o_orderpriority, r.status): r.n for r in u.collect()}
    direct = {
        (r.o_orderpriority, r.o_orderstatus): r.n
        for r in o.filter(F.col("o_orderstatus").isin("F", "O"))
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for k, v in direct.items():
        assert back[k] == v


def test_pca_project_properties(spark):
    """Pin the algebra: distributed covariance-method PCA must match
    full-batch numpy PCA (up to the fixed sign), with decreasing
    component variance and orthogonal loadings."""
    import numpy as np

    from interlinked_spark.llm.embeddings import pca_project

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    k = 4
    got = {r.id: np.array(r.pc) for r in pca_project(e, k=k).collect()}
    rows = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in e.collect()}
    X = np.vstack([rows[i] for i in sorted(rows)])
    mu = X.mean(axis=0)
    cov = np.cov(X, rowvar=False, ddof=1)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order]
    for j in range(k):
        if comps[np.argmax(np.abs(comps[:, j])), j] < 0:
            comps[:, j] = -comps[:, j]
    expected = (X - mu) @ comps
    got_m = np.vstack([got[i] for i in sorted(rows)])
    assert np.allclose(got_m, expected, atol=1e-6)
    variances = got_m.var(axis=0, ddof=1)
    assert all(variances[i] >= variances[i + 1] - 1e-9 for i in range(k - 1))


def test_pca_project_input_validation(spark):
    from interlinked_spark.llm.embeddings import pca_project

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    with pytest.raises(ValueError):
        pca_project(e, k=0)
    with pytest.raises(ValueError):
        pca_project(e.limit(1), k=2)


def test_merge_upsert_version_wins(spark):
    from interlinked_spark.operators.merge import merge_upsert

    current = spark.createDataFrame([(1, "a", 1), (2, "b", 5)], "k long, v string, ver long")
    updates = spark.createDataFrame([(1, "a2", 2), (2, "old", 1), (3, "c", 1)], "k long, v string, ver long")
    got = {(r.k, r.v, r.ver) for r in merge_upsert(current, updates, ["k"], version_col="ver").collect()}
    # k=1: update has higher version; k=2: current keeps higher version;
    # k=3: pure insert.
    assert got == {(1, "a2", 2), (2, "b", 5), (3, "c", 1)}


def test_time_grid_fill_dense_and_zero_filled(spark):
    import datetime as dt

    from interlinked_spark.operators.timeseries import time_grid_fill

    t0 = dt.datetime(2026, 1, 1, 0, 30)
    rows = [("a", t0), ("a", t0 + dt.timedelta(hours=3)), ("b", t0)]
    df = spark.createDataFrame(rows, "k string, ts timestamp")
    out = {(r.k, r.bucket.hour, r.n) for r in time_grid_fill(df, ["k"], "ts", "hour").collect()}
    assert out == {("a", 0, 1), ("a", 1, 0), ("a", 2, 0), ("a", 3, 1), ("b", 0, 1)}


def test_change_intervals_collapses_runs(spark):
    import datetime as dt

    from interlinked_spark.operators.windows import change_intervals

    t0 = dt.datetime(2026, 1, 1)
    rows = [
        (1, "x", t0, 1),
        (1, "x", t0 + dt.timedelta(seconds=10), 2),
        (1, "y", t0 + dt.timedelta(seconds=20), 3),
        (1, "x", t0 + dt.timedelta(seconds=30), 4),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp, event_id long")
    out = sorted(
        (r.event_type, r.n_events)
        for r in change_intervals(df, ["user_id"], "ts", "event_type", "event_id").collect()
    )
    # x-run of 2, then y, then x again (NOT merged with the first x-run)
    assert out == [("x", 1), ("x", 2), ("y", 1)]


def test_round2_plan_pins(spark):
    """100-TB plan posture for the round-2 operators, pinned:
    grouping sets = ONE Expand + ONE shuffle (not a union of re-scans);
    change_intervals = ONE shuffle (window and island aggregate share
    the key partitioning); time_grid_fill joins on (keys, bucket) with
    no cartesian/nested-loop."""
    import re

    from interlinked_spark.operators.reshape import grouping_sets_agg
    from interlinked_spark.operators.timeseries import time_grid_fill
    from interlinked_spark.operators.windows import change_intervals
    from interlinked_spark.sources.readers import normalize_nanos

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    g = grouping_sets_agg(li, [["l_returnflag"], ["l_linestatus"], []], {"n": F.count("*")})
    plan = g._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Expand") == 1 and plan.count("Exchange") == 1

    ev = normalize_nanos(spark.read.parquet(f"{SF}/events.parquet"))
    ci = change_intervals(ev, ["user_id"], "ts", "event_type", "event_id")
    plan = ci._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1

    tg = time_grid_fill(ev, ["event_type"], "ts", "hour", {"n": F.count("*")})
    plan = tg._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "NestedLoop" not in plan


def test_hash_sample_fractions_nest(spark):
    """Threshold-prefix sampling makes samples NESTED: sample(0.05) is
    a subset of sample(0.2) — the property that makes progressive
    sampling cheap (seeded df.sample does not have it)."""
    from interlinked_spark.operators.sampling import hash_sample

    c = spark.read.parquet(f"{SF}/customer.parquet")
    small = {r.c_custkey for r in hash_sample(c, "c_custkey", 0.05).select("c_custkey").collect()}
    big = {r.c_custkey for r in hash_sample(c, "c_custkey", 0.2).select("c_custkey").collect()}
    assert small and small <= big


def test_text_sink_round_trips(spark, tmp_path):
    """csv/json/orc sinks round-trip through the matching readers with
    explicit schemas (§2b-A: schema inference is an extra full pass at
    scale, so the read side always declares)."""
    from interlinked_spark.sources import read_table
    from interlinked_spark.sources.writers import write_table

    src = spark.read.parquet(f"{SF}/nation.parquet").select("n_nationkey", "n_name")
    expect = sorted(map(tuple, src.collect()))
    schema = "n_nationkey bigint, n_name string"
    for fmt, opts in [("csv", {"header": "true"}), ("json", {}), ("orc", {})]:
        path = str(tmp_path / fmt)
        write_table(src, path, fmt=fmt, **opts)
        back = read_table(spark, path, fmt=fmt, schema=None if fmt == "orc" else schema, **opts)
        assert sorted(map(tuple, back.collect())) == expect, fmt


def test_observed_metrics_single_pass(spark):
    from interlinked_spark.plans.inspect import observed

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    df, obs = observed(li, "li_metrics", {"rows": F.count(F.lit(1)), "qty": F.sum("l_quantity")})
    df.write.format("noop").mode("overwrite").save()
    got = obs.get
    assert got["rows"] == li.count()
    assert abs(got["qty"] - li.agg(F.sum("l_quantity")).first()[0]) < 1e-6


def test_hash_sample_invariant_to_partitioning(spark):
    """The claim that distinguishes hash_sample from seeded df.sample:
    the drawn ids do NOT change when the partition layout changes."""
    from interlinked_spark.operators.sampling import hash_sample

    c = spark.read.parquet(f"{SF}/customer.parquet")
    base = sorted(r.c_custkey for r in hash_sample(c, "c_custkey", 0.3).select("c_custkey").collect())
    for layout in (c.repartition(17), c.repartition(1), c.coalesce(2)):
        again = sorted(r.c_custkey for r in hash_sample(layout, "c_custkey", 0.3).select("c_custkey").collect())
        assert again == base


def test_merge_upsert_idempotent(spark):
    from interlinked_spark.operators.merge import merge_upsert

    current = spark.read.parquet(f"{SF}/orders.parquet").select("o_orderkey", "o_totalprice")
    updates = current.limit(50).withColumn("o_totalprice", F.col("o_totalprice") + 1)
    once = merge_upsert(current, updates, ["o_orderkey"])
    twice = merge_upsert(once, updates, ["o_orderkey"])
    a = sorted(map(tuple, once.collect()))
    b = sorted(map(tuple, twice.collect()))
    assert a == b and len(a) == current.count()


def test_stream_checkpoint_incremental_processing(spark, tmp_path):
    """Exactly-once incremental replay: a second drain against the SAME
    checkpoint processes only newly-arrived files — the contract that
    makes the parquet drain restartable at scale."""
    import shutil

    from interlinked_spark.streaming import foreach_batch_into

    src = tmp_path / "src"
    sink = tmp_path / "sink"
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    shutil.copy(f"{SF}/nation.parquet", src / "batch1.parquet")

    def drain():
        stream = (
            spark.readStream.schema(spark.read.parquet(str(src)).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        foreach_batch_into(
            stream,
            lambda b, _i: b.write.mode("append").parquet(str(sink)),
            checkpoint=ckpt,
            output_mode="append",
        )

    drain()
    n1 = spark.read.parquet(str(sink)).count()
    drain()  # no new files -> no new rows
    assert spark.read.parquet(str(sink)).count() == n1
    shutil.copy(f"{SF}/nation.parquet", src / "batch2.parquet")  # new file arrives
    drain()
    assert spark.read.parquet(str(sink)).count() == 2 * n1


def test_tws_stateful_counts_or_documented_gate(spark):
    """transformWithStateInPandas (Spark 4 stateful API): when protobuf
    is available the final per-key state must equal batch counts;
    without it (this sandbox) the operator must fail FAST with a clear
    dependency error, not crash mid-stream."""
    from interlinked_spark.streaming import (
        replay_shuffle_partitions,
        run_available_now,
        stateful_running_counts_tws,
        stream_from_parquet,
    )

    stream = stream_from_parquet(spark, f"{SF}/events.parquet")
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        with pytest.raises(ImportError, match="protobuf"):
            stateful_running_counts_tws(stream, ["user_id"])
        return
    old = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        out = stateful_running_counts_tws(stream, ["user_id"])
        with replay_shuffle_partitions(spark, 8):
            run_available_now(out, "sink_tws_test", output_mode="update")
        got = {
            (r.user_id, r.n)
            for r in spark.table("sink_tws_test").groupBy("user_id").agg(F.max("n_events").alias("n")).collect()
        }
        batch = {
            (r.user_id, r.n)
            for r in spark.read.parquet(f"{SF}/events.parquet").groupBy("user_id").agg(F.count("*").alias("n")).collect()
        }
        assert got == batch
    finally:
        if old:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", old)


def test_whole_catalog_plan_audit(spark, headline_plans):
    """Engine-wide plan guard over every batch catalog query: no
    accidental CartesianProduct / BroadcastNestedLoopJoin (only the
    deliberate cross-join and broadcast-theta range joins may nest
    loops) and no row-at-a-time Python (BatchEvalPython) outside the
    labeled escape-hatch demo.  Queries the plan-snapshot pass already
    resolved are audited from its executed plans, not built again."""
    from interlinked_spark import catalog

    allowed_nested_loop = {
        "status_region_matrix",    # deliberate cross join
        "price_band_join",         # broadcast theta range join
        "click_attribution_asof",  # broadcast as-of fallback at tiny SF
        "next_error_asof_fwd",
        "banded_price_match",      # residual-band theta after equi-bucket
        "similarity_cosine_topk",  # documented brute-force: broadcast query side
        "similarity_maxsim_topk",  # documented brute-force: broadcast query-TOKEN side
        "similarity_ivf_topk",     # probe-list membership against broadcast centroids
        "doc_tfidf_top_terms",     # broadcast ONE-ROW corpus-stats frame
        "doc_bm25_query",          # broadcast ONE-ROW corpus-stats frame
        "doc_unigram_logprob",     # broadcast ONE-ROW token-total frame
        "referential_audit",       # cross join of three ONE-ROW audit counts
        "click_purchase_funnel",   # cross join of two ONE-ROW funnel counts
        "corpus_temperature_mix",  # broadcast ONE-ROW weight-total frame
        "corpus_mix_kl",           # broadcast ONE-ROW weight/mass totals
        "doc_length_buckets",      # broadcast ONE-ROW quartile-bounds frame
        "tpch_q22",                # theta vs broadcast ONE-ROW avg-acctbal frame
        "embedding_contamination", # documented brute-force: broadcast bench side
        "customer_rfm_segments",   # cross joins of ONE-ROW anchor/bounds frames
        "brand_association_rules", # cross join of the ONE-ROW order-total frame
        "customer_balance_winsorized",  # cross join of the ONE-ROW bounds frame
        "user_engagement_stickiness",   # range join vs broadcast ~30-row day grid
        "similarity_ivf_probed",   # exact-recall reference rider: broadcast 5-query brute force
        "events_qhist_state_quantiles",  # cross join of the broadcast TWO-ROW quantile frame
        "orders_price_ddsketch",   # cross join of the broadcast THREE-ROW quantile frame
        "doc_nb_lang_predictions",  # labels x vocab model grid + broadcast |labels|-row prior frame
        "orders_lineitem_join_size",  # cross join of ONE-ROW total/count frames
        "source_scorecard",        # broadcast ONE-ROW corpus token total
        # deliberate broadcast brute-force (anchors x corpus on !=),
        # 10k anchor guard; IVF is the documented scale path
        "embedding_hard_negatives",
        # composes bm25_scores -> inherits its blessed ONE-ROW
        # corpus-stats cross join (same frame as doc_bm25_query's)
        "doc_rrf_fusion",
        # deliberate theta self-join over the |sets|-row SKETCH frame
        # (categorical-sized, KBs — the whole point of the sketches)
        "events_type_overlap_hll",
        # greedy MMR rounds broadcast the <= k-row SELECTED frame
        # (TakeOrdered one-row picks — bounded by k, by contract)
        "embedding_mmr_select",
        # exact-recall reference rider: broadcast brute-force pair set
        # (test-scale instrumentation; the production surface is the
        # IVF probe-to-home equi-join alone)
        "embedding_near_dups_ivf",
        # ADC scoring broadcasts the bounded 5-query side (the
        # cosine_top_k rider contract) + the exact-recall L2 reference
        "similarity_pq_adc",
        # same exact-recall L2 reference rider (the ADC side itself is
        # an equi-join on the probed list id)
        "similarity_ivfpq_probed",
    }
    # UDTF eval is row-based by API design — that IS the tier being demoed.
    allowed_row_udf = {"brand_reversed_udf", "doc_tokens_udtf"}
    skip_prefixes = ("stream_",)
    skip = {"embedding_pca"}  # eager two-phase algorithm (collects partials)

    offenders = []
    for name in catalog.query_names():
        if name.startswith(skip_prefixes) or name in skip:
            continue
        if name in headline_plans:
            plan = headline_plans[name][1]
        else:
            df = catalog.run_query(name, spark, SF)
            plan = df._jdf.queryExecution().executedPlan().toString()
        # A BNLJ whose broadcast side is PROVABLY one row (ungrouped
        # aggregate behind row-bounded nodes) is the engine's blessed
        # scalar-frame pattern — same proof the plan advisor uses; the
        # allowlist covers deliberate theta/cross joins the proof can't
        # certify.
        from interlinked_spark.plans.advisor import _unproven_bnlj

        nested = ("CartesianProduct" in plan) or (
            "BroadcastNestedLoopJoin" in plan and _unproven_bnlj(plan) is not None
        )
        if nested and name not in allowed_nested_loop:
            offenders.append((name, "nested-loop join"))
        if "BatchEvalPython" in plan and name not in allowed_row_udf:
            offenders.append((name, "row-at-a-time Python"))
    assert not offenders, offenders


def test_round2_ops_empty_inputs(spark):
    """Empty-input behavior: near-dup clustering, connected components
    and time_grid_fill degrade to empty/identity, not errors."""
    from interlinked_spark.llm.dedup import near_dup_clusters
    from interlinked_spark.operators.graph import connected_components
    from interlinked_spark.operators.timeseries import time_grid_fill

    no_edges = spark.createDataFrame([], "src long, dst long")
    assert connected_components(no_edges, "src", "dst").count() == 0

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "totally different words here")],
        "doc_id long, text string",
    )
    # no pair clears the threshold -> every doc is its own cluster
    got = {(r.doc_id, r.cluster_id) for r in near_dup_clusters(docs, threshold=0.9).collect()}
    assert got == {(1, 1), (2, 2)}

    empty_ts = spark.createDataFrame([], "k string, ts timestamp")
    assert time_grid_fill(empty_ts, ["k"], "ts", "hour").count() == 0
