"""Engine benchmark: headline catalog queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "catalog_headline_runtime", "value": <total sec>,
   "unit": "sec", "queries": {name: sec, ...}, "sf": <sf>}

Each query materializes via the noop sink (computes every column, no
driver collect) — measuring executor work, not result transfer.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from interlinked_spark import catalog  # noqa: E402
from interlinked_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "pricing_summary",
    "region_revenue",
    "top_orders",
    "customer_order_stats",
    "customer_running_spend",
    "nation_top3_customers",
    "click_attribution_asof",
    "price_band_join",
    "event_props_stats",
    "customer_zscore",
    "dedup_exact_docs",
    "dedup_minhash_pairs",
    "dedup_ngram_jaccard",
    "similarity_cosine_topk",
    "doc_token_stats",
    "stream_tumbling_hourly",
    "banded_price_match",
    "next_error_asof_fwd",
    "token_frequencies",
    # round 2 additions
    "event_sessionization",
    "hourly_event_grid",
    "user_type_intervals",
    "orders_merge_upsert",
    "doc_tfidf_top_terms",
    "doc_bm25_query",
    "dedup_clusters",
    # customer_events_cogroup is deliberately NOT here: cogrouped-map
    # pandas pays a per-GROUP Python invocation (~1ms x 15k customer
    # groups at sf0.1) — that is the §2b-I tier's inherent cost, demoed
    # and oracle-gated at sf0.01, not a plan regression to track.
    "stream_click_error_join",
    # round 3 additions
    "nation_ols_slope",
    "skewed_flag_totals",
    "skewed_flag_join",
    "events_dedup_latest",
    "conditional_order_aggs",
    "customer_balance_distribution",
    "doc_pii_scrub",
    "embedding_vector_math",
    "click_purchase_funnel",
    "stream_upsert_latest",
    "hourly_value_locf",
    "corpus_quality_filter",
    "dedup_kept_corpus",
    # round 5 additions — the newly fully-oracled ops with real weight:
    # SimHash banding, the ids-only LSH similarity join (both shapes),
    # PCA invariants, and the multimodal mapInPandas tier.
    "dedup_simhash_pairs",
    "similarity_lsh_pairs",
    "embedding_near_dups",
    "embedding_pca",
    "multimodal_features",
    # round 7 additions — skew pre-flight, watermark-closed outer stream
    # join, and the CDC chunker
    "dedup_shingle_skew",
    "stream_click_error_left_join",
    "doc_cdc_chunks",
    # round 8 additions — materialized-index incremental dedup (includes
    # a fresh index build per run), language-scoped dedup, stratified
    # splits.  stream_dedup_neardup is deliberately NOT here: its cost
    # is dominated by harness staging (4 single-file parquet writes +
    # mtime pinning) plus 4 foreachBatch upsert cycles — an end-to-end
    # demo gated at sf0.01, not a plan to regression-track.
    "dedup_incremental_indexed",
    "dedup_ngram_by_language",
    "doc_dataset_splits_stratified",
    "dedup_kept_greedy",
    "events_hll_state_distinct",
    "zordered_scan_agg",
    # round 8b additions — TPC-H shapes with real weight (8-table star
    # join with conditional share; semi-join + re-agg + top-k), the
    # concat-split sequence packer (distributed prefix sum), and
    # fixed-iteration PageRank (5 checkpointed join+agg rounds).
    "tpch_q08",
    "tpch_q18",
    "doc_pack_sequences",
    "trade_pagerank",
]


def _settle(max_wait_s: int = 60) -> None:
    """Wait (bounded) for trailing machine load to drain: back-to-back
    runs on local[32] skew individual query times 1.5-2.5x when a prior
    job's executors are still winding down."""
    deadline = time.monotonic() + max_wait_s
    cpus = os.cpu_count() or 1
    while time.monotonic() < deadline:
        try:
            load1 = os.getloadavg()[0]
        except OSError:
            return
        if load1 < cpus * 0.25:
            return
        time.sleep(5)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    _settle()
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm sweep: run EVERY headline query once outside the measured
    # window.  A single pricing_summary warmed the JVM but left each
    # query's own first-run costs (streaming state-store init, ML model
    # fits, codegen) inside pass 1 — the stream-stream join measured
    # 6.4s cold vs 3.0s steady-state, skewing its median high.
    for name in HEADLINE:
        catalog.run_query(name, spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    # Median of REPS interleaved passes: one round-robin sweep over the
    # whole headline set per pass (so slow machine-load drift spreads
    # evenly across queries instead of biasing whichever query ran
    # during the spike), then the per-query median.  n=1 round-3 numbers
    # regressed 1.1-1.4x purely from load noise.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5")))
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _ in range(reps):
        for name in HEADLINE:
            start = time.perf_counter()
            df = catalog.run_query(name, spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            samples[name].append(time.perf_counter() - start)

    def _median(xs: list[float]) -> float:
        s = sorted(xs)
        mid = len(s) // 2
        return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2

    def _iqr(xs: list[float]) -> float:
        # Run-to-run spread of THIS round's passes — the yardstick that
        # separates a real regression from load noise.  Linear-interp
        # quartiles; 0 for a single pass (the abs floor below covers it).
        if len(xs) < 2:
            return 0.0
        s = sorted(xs)
        def q(p: float) -> float:
            k = p * (len(s) - 1)
            f = int(k)
            return s[f] + (k - f) * (s[min(f + 1, len(s) - 1)] - s[f])
        return q(0.75) - q(0.25)

    timings = {name: round(_median(xs), 3) for name, xs in samples.items()}
    iqr = {name: round(_iqr(xs), 3) for name, xs in samples.items()}

    # Plan-compile wall time per headline query: build the DataFrame and
    # force analysis->executedPlan WITHOUT running a job.  The MMR
    # measurement proved compile can dominate (133 s at k=10 before
    # checkpoint_every) and runtime medians never see it after the warm
    # sweep — a compile regression (literal blowup, unchecked iterative
    # plan growth) surfaces here like a runtime one does in `queries`.
    # Secondary payload only, never the contract line.
    # Streaming gates excluded: their run_query EXECUTES the stream
    # (foreachBatch inside the query function), so a "compile" probe
    # would re-price the harness restaging, not plan compilation —
    # the same documented reason they are excluded from plan gating.
    compile_secs: dict[str, float] = {}
    for name in HEADLINE:
        if name.startswith("stream_"):
            continue
        start = time.perf_counter()
        df = catalog.run_query(name, spark, sf_dir)
        df._jdf.queryExecution().executedPlan()
        compile_secs[name] = round(time.perf_counter() - start, 3)

    # Secondary (non-headline) heavy queries: recorded in the full
    # BENCH_LOCAL.json payload only, never in the compact contract line
    # or "value" — they carry documented inherent costs (per-group
    # pandas invocation, ML model fit) that are demonstrations of a
    # tier, not plan regressions to gate on.
    secondary_names = [
        "dedup_incremental_matches",
        "similarity_ivf_topk",
        # partial-probe variant: KMeans fit + brute-force recall
        # reference are demo costs, not plan regressions to gate on
        "similarity_ivf_probed",
        # round 9: A-ES sampling + quantile-histogram state demos
        # (the qhist pair rebuild their persisted state per run)
        "doc_weighted_sample",
        "events_qhist_state_quantiles",
        "stream_qhist_quantiles",
        "stream_hll_distinct",
        "doc_nb_lang_predictions",
        # iterative-ML demos (3 Lloyd fits per run are the demo cost;
        # scaling exponents tracked in SCALING.md, not the headline)
        "embedding_kmeans_clusters",
        "embedding_semdedup",
        "heavy_hitter_terms",
        "customer_events_cogroup",
        # index-lifecycle queries: each run REBUILDS its materialized
        # index from scratch (3 parquet writes) — a harness artifact the
        # production loop amortizes, not a plan to regression-track.
        "similarity_incremental_indexed",
        "dedup_incremental_compacted",
        "stream_dedup_neardup",
        "stream_vector_neardup",
        # round 11: budget/ER/positional additions — streaming gate
        # restages its source per run (harness artifact), the batch
        # trio are one-aggregate demos.
        "stream_budget_admissions",
        "corpus_budget_prefix",
        "part_name_fuzzy_pairs",
        "doc_splits_by_neardup_cluster",
        "embedding_arrow_stats",
        "hourly_value_ohlc",
        # remaining TPC-H suite + light round-8b queries: tracked in the
        # full payload; the two heavy representatives (q08/q18) carry
        # the contract-line slot for the suite.
        "tpch_q02",
        "tpch_q04",
        "tpch_q06",
        "tpch_q07",
        "tpch_q11",
        "tpch_q12",
        "tpch_q16",
        "tpch_q20",
        "tpch_q09",
        "tpch_q10",
        "tpch_q13",
        "tpch_q14",
        "tpch_q15",
        "tpch_q17",
        "tpch_q19",
        "tpch_q21",
        "tpch_q22",
        "corpus_temperature_mix",
        "corpus_mix_kl",
        "doc_length_buckets",
        # round-10 SCD2 pair (batch apply + streaming sink)
        "customer_scd2_segments",
        "stream_scd2_segments",
        # rebuilds its packing state (2 parquet writes) per run — the
        # production loop amortizes this; not a plan to gate on.
        "doc_pack_incremental",
        "doc_pack_by_language",
        "stream_pack_sequences",
        "doc_lexical_stats",
        "embedding_contamination",
        "orders_retention_cohorts",
        "brand_basket_pairs",
        "event_value_mad_outliers",
        "customer_rfm_segments",
        "brand_association_rules",
        "customer_balance_winsorized",
        "doc_zipf_fit",
        "region_quarter_growth",
        "doc_shingle_novelty",
        "nation_revenue_hhi",
        "user_engagement_stickiness",
        "orders_repeat_latency",
        "events_hourly_autocorr",
        "nation_trade_imbalance",
        "supplier_triangles",
        "orders_profile",
        "orders_lineitem_join_size",
        "source_scorecard",
        "doc_bpe_merges",
        "doc_bpe_token_counts",
        # round 12: edit-distance ER join + aggregate-family demos +
        # hard-negative mining (broadcast anchor batch is the demo cost)
        "part_name_edit_pairs",
        "user_value_trend",
        "events_decayed_value",
        "events_mad_outliers",
        "embedding_hard_negatives",
        # round 13: rolling/transition window family, soft-TF-IDF ER,
        # interval overlap, directed containment
        "events_rolling_zscore",
        "user_event_transitions",
        "part_name_softtfidf_pairs",
        "lineitem_shipping_overlaps",
        "doc_shingle_containment",
        "part_name_sorted_neighbors",
        "doc_winnow_matches",
        "doc_bigram_logprob",
        # streaming gate restages its source per run (harness artifact)
        "stream_event_transitions",
        "user_event_paths",
        "orders_benford_digits",
        # round 13b: SPC + inference family (one-window-stack / one-
        # aggregate shapes)
        "events_cusum_alarms",
        "user_welch_ab",
        "events_type_hour_chisq",
        "customer_repeat_survival",
        "orders_price_bootstrap",
        "part_name_jw_pairs",
        # streaming gate restages its source per run (harness artifact)
        "stream_cusum_alarms",
        "doc_feature_hash",
        "doc_rrf_fusion",
        "orders_priority_target_encode",
        # iterative-LPA demo (3 join+window rounds are the demo cost)
        "trade_communities",
        "orders_snapshot_diff",
        "orders_price_psi",
        "doc_readability",
        "doc_bigram_pmi",
        "events_type_overlap_hll",
        "user_running_distinct_types",
        # iterative k-core demo (4 peel rounds are the demo cost)
        "trade_kcore",
        "user_funnel_conversion",
        "nation_customer_gini",
        # greedy k-round selection demo (5 in-plan argmax rounds)
        "embedding_mmr_select",
        "orders_price_auc",
        "nation_spearman_rho",
        "user_interarrival_stats",
        # round 14: IVF near-dup twin (KMeans fit + brute-force recall
        # rider are demo costs; the scale story is SCALING.md's
        # measured 0.74 t90 exponent), exact-substring dedup pair,
        # DSIR selection
        "embedding_near_dups_ivf",
        "doc_duplicate_spans",
        "doc_span_dedup_corpus",
        "corpus_dsir_select",
        # streaming gate restages its source per run (harness artifact)
        "stream_span_dedup",
        "doc_self_span_dedup",
        # iterative-CC demo (the components loop is the demo cost)
        "part_golden_records",
        "orders_price_ks",
        # iterative-ML demo (8 per-subspace Lloyd fits are the demo cost)
        "embedding_pq_codes",
        "similarity_pq_adc",
        # iterative-ML demo (coarse + 8 residual Lloyd fits per run)
        "similarity_ivfpq_probed",
        # round 15: index-lifecycle queries (each run REBUILDS the
        # materialized IVF-PQ index — fit + 4 parquet writes — a
        # harness artifact the production loop amortizes) and the PQ
        # streaming gate (restages its source per run).
        "similarity_ivfpq_indexed",
        "stream_vector_neardup_pq",
        "similarity_ivfpq_reranked",
        "similarity_ivfpq_filtered",
        # iterative-ML demo (8 per-subspace Lloyd fits on rotated vectors)
        "embedding_pq_rotated",
        "hourly_value_interp",
        "doc_overlap_chunks",
        "similarity_maxsim_topk",
        "hourly_value_stl",
        "click_position_attribution",
        "customer_balance_quantile_norm",
        "lineitem_month_proration",
        # round 16: index-lifecycle queries (per-run token-index /
        # build+delete+compact+append rebuild — harness artifacts the
        # production loop amortizes)
        "similarity_maxsim_reranked",
        "similarity_ivfpq_takedown",
        "orders_price_ddsketch",
        "stream_price_ddsketch",
        "doc_epoch_shuffle",
    ]
    secondary: dict[str, float] = {}
    for name in secondary_names:
        try:
            catalog.run_query(name, spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()  # warm
            start = time.perf_counter()
            catalog.run_query(name, spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            secondary[name] = round(time.perf_counter() - start, 3)
        except Exception as exc:  # noqa: BLE001 — secondary must not kill the bench
            print(f"SECONDARY {name} failed: {exc}", file=sys.stderr)

    # Regression tracking vs the latest recorded round (BENCH_r<N>.json):
    # per-query ratio, with >1.5x slowdowns called out on stderr.
    payload = {
        "metric": "catalog_headline_runtime",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "stat": f"median_of_{reps}",
        "queries": timings,
        "min": {name: round(min(xs), 3) for name, xs in samples.items()},
        "iqr": iqr,
        "compile_secs": compile_secs,
        "secondary": secondary,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    root = Path(__file__).resolve().parent
    prev_files = sorted(root.glob("BENCH_r*.json"))

    # BENCH_r*.json driver records and BENCH_FLOOR.json are sf0.1
    # numbers.  A local iteration run at sf0.01/0.001 must neither
    # compare against them (times differ 5-50x) nor merge its medians
    # into the canonical floor (a sf0.001 smoke run would "beat" every
    # sf0.1 floor and poison regression tracking forever).  Off-sf runs
    # get their own BENCH_FLOOR_sf<sf>.json.
    canonical = isinstance(payload["sf"], float) and abs(payload["sf"] - 0.1) < 1e-9

    if prev_files and canonical:
        # Driver records wrap our JSON line under "parsed"; a record
        # without an intact line has nothing to compare against.
        try:
            prev = json.loads(prev_files[-1].read_text())["parsed"]["queries"] or {}
        except (OSError, ValueError, KeyError, TypeError):
            prev = {}
        ratios = {
            n: round(t / prev[n], 2) for n, t in timings.items() if prev.get(n)
        }
        if ratios:
            payload["vs_prev"] = {
                "round": prev_files[-1].stem,
                "ratio": ratios,
            }

    # Floor tracking: per-query best time, persisted to
    # BENCH_FLOOR.json (the floor's only source) — a slow creep can't
    # hide behind round-over-round ratios.  Floors re-based in round 16
    # (SCALING.md "Round 16 — floor staleness") are stored re-based.
    floor_file = root / (
        "BENCH_FLOOR.json" if canonical else f"BENCH_FLOOR_sf{sf}.json"
    )
    try:
        floor: dict[str, float] = json.loads(floor_file.read_text())
    except (json.JSONDecodeError, OSError):
        floor = {}
    # This round's own MEDIANS feed the floor (not the per-pass
    # minimums): the floor is compared against medians, and a
    # median-vs-minimum ratio is structurally >= 1.0 — the same stat
    # mismatch ADVICE r6 flagged for vs_prev.  Keeping both sides of
    # the ratio medians preserves round-over-round comparability; the
    # raw minimums still land in BENCH_LOCAL.json's "min" dict.
    for n, t in timings.items():
        if n not in floor or t < floor[n]:
            floor[n] = t
    vs_floor: dict[str, float] = {}
    if floor:
        try:
            floor_file.write_text(json.dumps(floor, indent=1, sort_keys=True) + "\n")
        except OSError:
            pass
        vs_floor = {
            n: round(t / floor[n], 2) for n, t in timings.items() if floor.get(n)
        }
        if vs_floor:
            payload["vs_floor"] = vs_floor
    # Noise band: a query is "within noise" of the floor when its
    # median exceeds the floor by no more than this round's own
    # run-to-run IQR (plus a 0.1s absolute term for sub-second queries
    # whose IQR rounds to ~0).  Floors absorb every historical minimum,
    # so small vs_floor ratios >1 are EXPECTED; only excesses beyond
    # the measured spread are regressions worth chasing (ADVICE r7 #6:
    # doc_bm25_query at 1.47x floor was exactly this).
    within_noise = {
        n
        for n, r in vs_floor.items()
        if timings[n] - floor[n] <= max(iqr.get(n, 0.0), 0.1)
    }
    outside = {n: r for n, r in vs_floor.items() if n not in within_noise}
    if vs_floor:
        payload["within_noise"] = sorted(within_noise)
        for n, r in sorted(outside.items(), key=lambda kv: -kv[1]):
            if r > 1.5:
                print(f"REGRESSION {n}: {r}x vs floor ({floor[n]}s)", file=sys.stderr)

    # Full payload (queries + min + secondary + ratios) goes to
    # BENCH_LOCAL.json; stdout gets a COMPACT contract line.  The
    # driver's tail capture keeps only 2000 chars of stdout — four
    # rounds of the full payload came back "parsed: null".  The
    # contract fields (metric / value / unit / queries / sf) plus a
    # floor geomean fit in ~1.4k.
    local_file = root / (
        "BENCH_LOCAL.json" if canonical else f"BENCH_LOCAL_sf{sf}.json"
    )
    try:
        local_file.write_text(json.dumps(payload, indent=1) + "\n")
    except OSError:
        pass
    contract = {
        "metric": payload["metric"],
        "value": payload["value"],
        "unit": "sec",
        "sf": payload["sf"],
        "stat": payload["stat"],
        "queries": timings,
    }
    if vs_floor:
        import math

        contract["geomean_vs_floor"] = round(
            math.exp(sum(math.log(r) for r in vs_floor.values()) / len(vs_floor)),
            3,
        )
        # Median-vs-floor is inflated by the floor ratchet (floors absorb
        # every historical minimum, medians never get back down to them),
        # so also emit best-pass-vs-floor: the geomean of this round's
        # per-query MINIMUM over the floor.  ~1.0 here + a higher median
        # figure = run-to-run variance; both elevated = real regression
        # (VERDICT r10 item 4).
        vs_floor_min = [
            min(xs) / floor[n]
            for n, xs in samples.items()
            if floor.get(n) and xs
        ]
        if vs_floor_min:
            contract["geomean_vs_floor_min"] = round(
                math.exp(sum(math.log(r) for r in vs_floor_min) / len(vs_floor_min)),
                3,
            )
        # Only genuine excesses (beyond this round's measured IQR noise
        # band) are named as "worst"; the count of within-noise queries
        # rides along so a clean round reads as clean, not as three
        # phantom regressions.
        worst = sorted(outside.items(), key=lambda kv: -kv[1])[:3]
        contract["worst_vs_floor"] = {n: r for n, r in worst}
        contract["n_within_noise"] = len(within_noise)
    line = json.dumps(contract, separators=(",", ":"))
    if len(line) > 1900:  # last-ditch: never let the tail truncate "queries"
        contract.pop("worst_vs_floor", None)
        contract.pop("stat", None)
        line = json.dumps(contract, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
