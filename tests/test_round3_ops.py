"""Round-3 operator additions and ADVICE-fix regressions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_hash_sample_full_fraction_keeps_everything(spark):
    """ADVICE r2 (medium): fraction=1.0 used to compare the 8-char md5
    prefix against the 9-char '100000000' and silently keep ~6%."""
    from interlinked_spark.operators.sampling import hash_sample, hash_sample_sql

    c = spark.read.parquet(f"{SF}/customer.parquet")
    assert hash_sample(c, "c_custkey", 1.0).count() == c.count()
    assert hash_sample_sql("c_custkey", 1.0) == "1 = 1"


def test_hash_sample_sql_matches_engine_at_full_fraction(spark):
    import duckdb

    from interlinked_spark.operators.sampling import hash_sample_sql

    con = duckdb.connect()
    n = con.execute(
        f"SELECT COUNT(*) FROM read_parquet('{SF}/customer.parquet') "
        f"WHERE {hash_sample_sql('c_custkey', 1.0)}"
    ).fetchone()[0]
    total = con.execute(
        f"SELECT COUNT(*) FROM read_parquet('{SF}/customer.parquet')"
    ).fetchone()[0]
    assert n == total


def test_merge_upsert_duplicate_updates_deterministic(spark):
    """ADVICE r2 (low): with duplicate update rows per key and no
    version, the survivor must be identical across runs/partitionings."""
    from interlinked_spark.operators.merge import merge_upsert

    current = spark.createDataFrame([(1, "cur")], "k long, v string")
    dup_rows = [(1, f"u{i}") for i in range(8)] + [(2, f"w{i}") for i in range(8)]
    results = set()
    for nparts in (1, 3, 16):
        updates = spark.createDataFrame(dup_rows, "k long, v string").repartition(nparts)
        got = tuple(
            sorted((r.k, r.v) for r in merge_upsert(current, updates, ["k"]).collect())
        )
        results.add(got)
    assert len(results) == 1, f"nondeterministic survivors: {results}"
    ks = [k for k, _ in next(iter(results))]
    assert ks == [1, 2]


def test_merge_upsert_handles_map_columns(spark):
    """The deterministic tie-breaker hashes only hashable columns —
    MapType payloads must not break the operator."""
    from interlinked_spark.operators.merge import merge_upsert

    current = spark.createDataFrame(
        [(1, {"a": 1})], "k long, m map<string,int>"
    )
    updates = spark.createDataFrame(
        [(1, {"b": 2}), (2, {"c": 3})], "k long, m map<string,int>"
    )
    got = {r.k: dict(r.m) for r in merge_upsert(current, updates, ["k"]).collect()}
    assert got[2] == {"c": 3}
    assert got[1] in ({"b": 2},)  # update wins


def test_bounded_fit_sample_caps_rows(spark):
    """VERDICT r2 #2: the IVF coarse quantizer must never fit on the
    full corpus — the fit input is a deterministic bounded sample."""
    from interlinked_spark.llm.similarity import bounded_fit_sample

    df = spark.range(20_000).withColumnRenamed("id", "k")
    s = bounded_fit_sample(df, "k", 2_000)
    n = s.count()
    assert 800 < n < 4_000, n
    # Deterministic: same rows every time.
    assert s.count() == n
    # Under the cap -> unchanged.
    assert bounded_fit_sample(df, "k", 50_000).count() == 20_000


def test_ivf_probe_all_exact_with_sampled_fit(spark):
    """Probe-all IVF == brute-force top-k regardless of where the
    centroids came from (the sampled fit must not change exactness)."""
    from interlinked_spark.llm.similarity import cosine_top_k, ivf_top_k

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    n_clusters = 4
    ivf = ivf_top_k(
        e, e.limit(10), k=3, n_clusters=n_clusters, n_probe=n_clusters,
        fit_sample_rows=50,
    )
    brute = cosine_top_k(e, e.limit(10), k=3)
    got = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
    want = {(r.query_id, r.neighbor_id) for r in brute.collect()}
    assert got == want


def test_tf_idf_max_term_df_drops_hot_terms(spark):
    """VERDICT r2 #3: a Zipf-hot term (df == corpus size) must be
    droppable before the term-keyed join."""
    from interlinked_spark.llm.ranking import tf_idf

    docs = [(i, f"the unique{i} word{i % 3}") for i in range(20)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    capped = tf_idf(df, max_term_df=10)
    terms = {r.term for r in capped.select("term").distinct().collect()}
    assert "the" not in terms            # df=20 > cap
    assert "word0" in terms              # df~7 <= cap
    # Surviving scores identical to the uncapped run.
    uncapped = tf_idf(df)
    cap_scores = {(r.id, r.term): r.tfidf for r in capped.collect()}
    unc_scores = {(r.id, r.term): r.tfidf for r in uncapped.collect()}
    for key, v in cap_scores.items():
        assert abs(unc_scores[key] - v) < 1e-9


def test_salted_group_agg_avg_combiner(spark):
    """VERDICT r2 #8: avg must combine exactly via sum+count partials
    (a naive avg-of-partial-avgs would weight buckets equally)."""
    from interlinked_spark.operators.skew import salted_group_agg

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    got = {
        r.l_returnflag: (r.n, round(r.mean_qty, 9))
        for r in salted_group_agg(
            li,
            ["l_returnflag"],
            {"n": ("count", F.count("*")), "mean_qty": ("avg", F.col("l_quantity"))},
            salt_buckets=8,
        ).collect()
    }
    want = {
        r.l_returnflag: (r.n, round(r.mean_qty, 9))
        for r in li.groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), F.avg("l_quantity").alias("mean_qty"))
        .collect()
    }
    assert got == want


def test_keep_latest_tie_break(spark):
    from interlinked_spark.operators.merge import keep_latest

    rows = [(1, 10, "a"), (1, 10, "b"), (1, 9, "z"), (2, 5, "c")]
    df = spark.createDataFrame(rows, "k long, ts long, tag string")
    got = {(r.k, r.ts, r.tag) for r in keep_latest(df, ["k"], ["ts", "tag"]).collect()}
    assert got == {(1, 10, "b"), (2, 5, "c")}


def test_scrub_pii_actually_redacts(spark):
    """The oracle-paired corpus query proves regex parity; this pins
    that the patterns really catch emails and long digit runs."""
    from interlinked_spark.llm.text import scrub_pii

    df = spark.createDataFrame(
        [
            (1, "contact bob.smith+spam@example.co.uk or call 5551234567 now"),
            (2, "no pii here, just 123 little numbers"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.scrubbed, r.n_redacted) for r in scrub_pii(df).collect()}
    assert got[1] == ("contact <EMAIL> or call <NUM> now", 2)
    assert got[2] == ("no pii here, just 123 little numbers", 0)


def test_hll_sketch_estimate_close_to_exact(spark):
    """nation_hll_distinct now emits the derived assertion itself
    (n_exact + within_bound, oracle-checkable); pin both sides locally:
    the exact counts match a recomputed countDistinct and every
    sketch-estimate bound check passed."""
    from interlinked_spark import catalog

    rows = catalog.run_query("nation_hll_distinct", spark, SF).collect()
    o = spark.read.parquet(f"{SF}/orders.parquet")
    exact = {
        r.o_orderpriority: r.n
        for r in o.groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    assert {r.o_orderpriority for r in rows} == set(exact)
    for r in rows:
        assert r.n_exact == exact[r.o_orderpriority], r
        assert r.within_bound is True, r


def test_stream_upsert_multi_batch_deterministic(spark, tmp_path):
    """The CDC upsert must converge to batch keep-latest even when the
    stream replays as MULTIPLE micro-batches (maxFilesPerTrigger=1 over
    a multi-file copy forces real incremental merges)."""
    from interlinked_spark.operators.merge import keep_latest
    from interlinked_spark.sources.readers import normalize_nanos
    from interlinked_spark.streaming import run_upsert_into_parquet

    src = str(tmp_path / "ev_src")
    ev = normalize_nanos(spark.read.parquet(f"{SF}/events.parquet"))
    ev.repartition(4).write.parquet(src)  # 4 files -> 4 micro-batches

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    path = run_upsert_into_parquet(stream, ["user_id"], ["ts", "event_id"])
    got = {
        r.user_id: r.event_id
        for r in spark.read.parquet(path).select("user_id", "event_id").collect()
    }
    want = {
        r.user_id: r.event_id
        for r in keep_latest(ev, ["user_id"], ["ts", "event_id"])
        .select("user_id", "event_id")
        .collect()
    }
    assert got == want


def test_read_parquet_if_present(spark, tmp_path):
    """Optional state reads: a missing path and a fresh (empty) scratch
    directory are both absent, a written one reads back its rows."""
    from pyspark import SparkFiles

    from interlinked_spark.session import scratch_dir
    from interlinked_spark.sources.readers import read_parquet_if_present

    assert read_parquet_if_present(spark, str(tmp_path / "missing")) is None
    fresh = scratch_dir("t3_probe_")
    assert fresh.startswith(SparkFiles.getRootDirectory())
    assert read_parquet_if_present(spark, fresh) is None
    spark.range(3).write.mode("overwrite").parquet(fresh)
    got = read_parquet_if_present(spark, fresh)
    assert sorted(r.id for r in got.collect()) == [0, 1, 2]


def test_forward_fill_locf(spark):
    from interlinked_spark.operators.timeseries import forward_fill

    rows = [
        ("a", 1, 10.0),
        ("a", 2, None),
        ("a", 3, None),
        ("a", 4, 40.0),
        ("b", 1, None),  # no prior observation -> stays null
        ("b", 2, 5.0),
    ]
    df = spark.createDataFrame(rows, "k string, t int, v double")
    got = {
        (r.k, r.t): r.v_ff
        for r in forward_fill(df, ["k"], "t", ["v"]).collect()
    }
    assert got == {
        ("a", 1): 10.0, ("a", 2): 10.0, ("a", 3): 10.0, ("a", 4): 40.0,
        ("b", 1): None, ("b", 2): 5.0,
    }


def test_incremental_dedup_never_matches_corpus_pairs(spark):
    """ngram_jaccard_incremental must anchor on the new batch: corpus x
    corpus duplicates are NOT re-reported, new docs match corpus and
    earlier new docs only."""
    from interlinked_spark.llm.dedup import ngram_jaccard_incremental

    base = "one two three four five six seven eight nine ten"
    rows = [
        (1, base),              # corpus dup pair (1,2) — must NOT appear
        (2, base),
        (3, "totally different words appear in this document here"),
        (10, base),             # new: dups corpus 1,2
        (11, base),             # new: dups corpus + new 10
        (12, "unrelated fresh content nothing shared with others at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    corpus = df.filter(F.col("doc_id") < 10)
    new = df.filter(F.col("doc_id") >= 10)
    got = {
        (r.new_id, r.match_id)
        for r in ngram_jaccard_incremental(corpus, new, threshold=0.5).collect()
    }
    assert got == {(10, 1), (10, 2), (11, 1), (11, 2), (11, 10)}


def test_bucketed_join_revenue_single_exchange(spark):
    """The bucketed-join catalog query must join WITHOUT a shuffle:
    with broadcast disabled (tiny SF would otherwise broadcast — also a
    fine plan), the bucketed layout gives a shuffle-free SortMergeJoin
    and the only Exchange is the post-join aggregation."""
    from interlinked_spark import catalog

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = catalog.run_query("bucketed_join_revenue", spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_round3_ops_empty_inputs(spark):
    """Empty-input degradation: no errors, sensible empties."""
    from interlinked_spark.llm.dedup import ngram_jaccard_incremental
    from interlinked_spark.operators.merge import keep_latest, merge_upsert
    from interlinked_spark.operators.timeseries import forward_fill

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    assert ngram_jaccard_incremental(docs, empty_docs).count() == 0
    assert ngram_jaccard_incremental(empty_docs, docs).count() == 0

    empty_kv = spark.createDataFrame([], "k long, ts long, v string")
    assert keep_latest(empty_kv, ["k"], ["ts"]).count() == 0
    got = merge_upsert(empty_kv, empty_kv, ["k"]).count()
    assert got == 0

    empty_ts = spark.createDataFrame([], "k string, t int, v double")
    assert forward_fill(empty_ts, ["k"], "t", ["v"]).count() == 0


def test_salted_avg_ignores_nulls_like_builtin(spark):
    """avg over salted partials must match built-in avg null semantics
    (nulls excluded from both sum and count)."""
    from interlinked_spark.operators.skew import salted_group_agg

    rows = [("a", 1.0), ("a", None), ("a", 3.0), ("b", None), ("c", 5.0)]
    df = spark.createDataFrame(rows, "k string, v double")
    got = {
        r.k: r.mean
        for r in salted_group_agg(
            df, ["k"], {"mean": ("avg", F.col("v"))}, salt_buckets=4
        ).collect()
    }
    want = {
        r.k: r.mean
        for r in df.groupBy("k").agg(F.avg("v").alias("mean")).collect()
    }
    assert got == want  # {'a': 2.0, 'b': None, 'c': 5.0}


def test_stratified_sample_proportions(spark):
    """Seeded sampleBy keeps roughly the requested per-stratum
    fractions (exact counts are layout-dependent; proportions are the
    contract)."""
    from interlinked_spark.operators.sampling import stratified_sample

    c = spark.read.parquet("/root/testdata/sf0.01/customer.parquet")
    totals = {r.c_mktsegment: r.n for r in c.groupBy("c_mktsegment")
              .agg(F.count("*").alias("n")).collect()}
    fracs = {"AUTOMOBILE": 0.5, "BUILDING": 0.2}
    s = stratified_sample(c, "c_mktsegment", fracs)
    got = {r.c_mktsegment: r.n for r in s.groupBy("c_mktsegment")
           .agg(F.count("*").alias("n")).collect()}
    for seg, f in fracs.items():
        assert abs(got.get(seg, 0) / totals[seg] - f) < 0.15, (seg, got)
    assert set(got) <= set(fracs)  # unlisted strata fully dropped


def test_stratified_hash_sample_deterministic(spark):
    """The md5-keyed stratified sample is exactly reproducible (same
    rows on re-run and after a repartition) and respects per-stratum
    fractions; unlisted strata drop entirely."""
    from interlinked_spark.operators.sampling import stratified_hash_sample

    c = spark.read.parquet("/root/testdata/sf0.01/customer.parquet")
    fracs = {"AUTOMOBILE": 0.5, "BUILDING": 0.2}
    a = set(r.c_custkey for r in stratified_hash_sample(
        c, "c_mktsegment", "c_custkey", fracs, salt="t").collect())
    b = set(r.c_custkey for r in stratified_hash_sample(
        c.repartition(7), "c_mktsegment", "c_custkey", fracs, salt="t").collect())
    assert a == b and a  # layout-independent
    totals = {r.c_mktsegment: r.n for r in c.groupBy("c_mktsegment")
              .agg(F.count("*").alias("n")).collect()}
    s = stratified_hash_sample(c, "c_mktsegment", "c_custkey", fracs, salt="t")
    got = {r.c_mktsegment: r.n for r in s.groupBy("c_mktsegment")
           .agg(F.count("*").alias("n")).collect()}
    assert set(got) <= set(fracs)
    for seg, f in fracs.items():
        assert abs(got.get(seg, 0) / totals[seg] - f) < 0.15, (seg, got)


def test_route_datetime_filter_pushes_to_scan(spark):
    """The datetime route param must reach the parquet scan as a raw
    nanos-long comparison (a filter on the normalized timestamp column
    does NOT push down — measured PushedFilters [])."""
    from interlinked_spark import catalog

    df = catalog.run_query("route_datetime_filter", spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = [l for l in plan.split("\n") if "FileScan" in l][0]
    assert "GreaterThanOrEqual(ts," in scan, scan


def test_query_names_orders_driver_unverified_first():
    """The driver CORRECTNESS gate records a bounded number of rows per
    round — names never value-verified (hash_match green) must
    enumerate before ever-green ones, and greens re-sample
    least-recently-green first.  The artifact scan lives in
    __spark_entry__ (harness logic), not the library:
    catalog.query_names() itself does no repo-root I/O."""
    import json
    from pathlib import Path

    import __spark_entry__ as entrymod
    from interlinked_spark import catalog

    names = list(entrymod.queries())
    assert sorted(names) == sorted(catalog._QUERY_NAMES)
    assert catalog.query_names() == list(catalog._QUERY_NAMES)  # pure
    green: dict[str, int] = {}
    for p in Path("/root/repo").glob("CORRECTNESS_r*.json"):
        rnd = int(p.stem.split("_r")[1])
        for name, row in json.loads(p.read_text()).items():
            if isinstance(row, dict) and row.get("hash_match") is True:
                green[name] = max(green.get(name, rnd), rnd)
    green = {n: r for n, r in green.items() if n in set(names)}
    if green and len(green) < len(names):
        first_green = min(names.index(n) for n in green)
        last_nongreen = max(i for i, n in enumerate(names) if n not in green)
        assert last_nongreen < first_green
        # within greens: non-decreasing last-green round
        rounds = [green[n] for n in names if n in green]
        assert rounds == sorted(rounds)


def test_scd2_apply_chains_suppresses_and_passes_closed(spark):
    """scd2_apply: closed history untouched; open row + changes chain by
    timestamp; consecutive same-attr changes suppressed; last version
    current with end-of-time; equal-ts changes dedupe to the smallest
    tracked tuple; change-only keys start their own history."""
    from interlinked_spark.operators.merge import scd2_apply

    TS = "cast('{}' as timestamp)"
    hist = spark.createDataFrame(
        [
            # k=1: one closed + one open row
            (1, "A", "2020-01-01", "2021-01-01", False),
            (1, "B", "2021-01-01", "9999-12-31", True),
            # k=2: open only, no changes arrive
            (2, "Z", "2020-06-01", "9999-12-31", True),
        ],
        ["k", "attr", "effective_from", "effective_to", "is_current"],
    ).selectExpr(
        "k", "attr",
        "cast(effective_from as timestamp) as effective_from",
        "cast(effective_to as timestamp) as effective_to",
        "is_current",
    )
    ch = spark.createDataFrame(
        [
            (1, "B", "2021-06-01"),  # no-op vs open B -> suppressed
            (1, "C", "2022-01-01"),
            (1, "C", "2022-07-01"),  # no-op vs C -> suppressed
            (1, "D", "2023-01-01"),
            (3, "Y", "2022-03-01"),  # new key, two same-ts changes
            (3, "X", "2022-03-01"),  # dedupe keeps min tuple = X
            (3, "Y", "2022-09-01"),
        ],
        ["k", "attr", "change_ts"],
    ).selectExpr("k", "attr", "cast(change_ts as timestamp) as change_ts")

    out = scd2_apply(hist, ch, ["k"], ["attr"], end_of_time="9999-12-31 00:00:00")
    rows = {
        (r.k, str(r.effective_from)[:10]): (r.attr, str(r.effective_to)[:10], r.is_current)
        for r in out.collect()
    }
    # closed row untouched
    assert rows[(1, "2020-01-01")] == ("A", "2021-01-01", False)
    # open B now closes at C's arrival (the no-op B change left no version)
    assert rows[(1, "2021-01-01")] == ("B", "2022-01-01", False)
    assert rows[(1, "2022-01-01")] == ("C", "2023-01-01", False)
    assert rows[(1, "2023-01-01")] == ("D", "9999-12-31", True)
    # untouched open key stays current
    assert rows[(2, "2020-06-01")] == ("Z", "9999-12-31", True)
    # change-only key: X (min of equal-ts pair) then Y
    assert rows[(3, "2022-03-01")] == ("X", "2022-09-01", False)
    assert rows[(3, "2022-09-01")] == ("Y", "9999-12-31", True)
    assert len(rows) == 7
    # interval partition property: per key, versions tile [first, eot)
    import collections
    per_key = collections.defaultdict(list)
    for r in out.collect():
        per_key[r.k].append((r.effective_from, r.effective_to, r.is_current))
    for k, ivs in per_key.items():
        ivs.sort()
        assert sum(1 for _, _, cur in ivs if cur) == 1
        for (f1, t1, _), (f2, _t2, _) in zip(ivs, ivs[1:]):
            assert t1 == f2, f"gap/overlap in key {k}"


def test_scd2_apply_single_shuffle(spark):
    """The dedupe/suppress/chain windows share one hash partitioning:
    exactly ONE Exchange on the change-union side of the plan."""
    from interlinked_spark.operators.merge import scd2_apply

    hist = spark.createDataFrame(
        [(1, "A", "2020-01-01", "9999-12-31", True)],
        ["k", "attr", "effective_from", "effective_to", "is_current"],
    ).selectExpr("k", "attr",
                 "cast(effective_from as timestamp) as effective_from",
                 "cast(effective_to as timestamp) as effective_to", "is_current")
    ch = spark.createDataFrame([(1, "B", "2021-01-01")], ["k", "attr", "change_ts"]) \
        .selectExpr("k", "attr", "cast(change_ts as timestamp) as change_ts")
    plan = scd2_apply(hist, ch, ["k"], ["attr"])._jdf.queryExecution() \
        .executedPlan().toString()
    import re
    n_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_exchanges == 1, plan
