"""Per-query physical-plan snapshots (r8 verdict item 9).

The engine-wide plan audit (`tests/test_round2_ops.py`) is a binary
gate — no cartesian products, no row-at-a-time Python.  These snapshots
make plan REGRESSIONS diffable: `PLANS/<query>.txt` holds the
normalized `explain(mode="formatted")` output for every `bench.py`
HEADLINE query, so a round that changes a join strategy, loses a
pushed filter, or adds an exchange shows up as a one-file git diff
next to its timing delta, not just a slower number in BENCH_r{N}.json.

Normalization strips everything that varies run-to-run while keeping
everything that matters at 100 TB: expression ids (`#123L`), codegen
ids, plan ids, file paths / InMemoryFileIndex locations, and
statistics sizes are masked; operator tree shape, join strategies,
PushedFilters, ReadSchema column sets, partition keys and
WholeStageCodegen spans are kept verbatim.

Usage: ``python plan_snapshots.py`` rewrites `PLANS/` at sf0.001 (plan
SHAPE is scale-independent for these queries — the broadcast
thresholds that could flip a strategy are pinned by the plan-audit
tests, not left to table sizes).  `tests/test_plan_snapshots.py`
regenerates and diffs against the checked-in files — drift fails the
suite until the snapshot is intentionally refreshed.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent
sys.path.insert(0, str(ROOT))

SF_DIR = "/root/testdata/sf0.001"
PLANS_DIR = ROOT / "PLANS"

_NORMALIZERS = [
    # expression ids: l_orderkey#123L -> l_orderkey#N
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"cachedPlan=\d+"), "cachedPlan=N"),
    # paths: InMemoryFileIndex locations, temp state dirs, warehouse dirs
    (re.compile(r"Location: (\w+) \[[^\]]*\]"), r"Location: \1 [<path>]"),
    (re.compile(r"file:[^\s,\]\)]+"), "<path>"),
    (re.compile(r"/tmp/[^\s,\]\)]+"), "<path>"),
    # sizes / statistics that depend on files on disk
    (re.compile(r"Statistics\([^)]*\)"), "Statistics(<stats>)"),
    (re.compile(r"size=\d+(\.\d+)?\s*[KMGT]?i?B"), "size=<n>"),
    # Derby/JDBC session-scoped database names
    (re.compile(r"memory:[^\s;,\]\)]+"), "memory:<db>"),
    # round-robin widths follow session parallelism, not the plan shape
    # (shuffle-partition counts in hashpartitioning stay verbatim —
    # those ARE pinned at 32 by the session contract)
    (re.compile(r"RoundRobinPartitioning\(\d+\)"), "RoundRobinPartitioning(<n>)"),
    # session-lifetime RDD ids on checkpointed/parallelized scans
    (re.compile(r"RDD\[\d+\]"), "RDD[<id>]"),
    # JVM call-site strings vary with reflection/JIT state
    (re.compile(r"\bat [\w.$<>]+(\.java|\.scala)?:\d+"), "at <callsite>"),
    # HOF lambda-variable and CSE aliases carry SESSION-GLOBAL counters
    # (lambda x_543, _common_expr_7) — mask the counter, keep the name
    (re.compile(r"\b([a-z]+)_\d+#N"), r"\1_K#N"),
    (re.compile(r"_common_expr_\d+"), "_common_expr_K"),
    # Float literals derived from driver-side fits (PCA eigenvalues,
    # centroid coordinates) carry the full float64 repr; LAPACK/BLAS
    # kernels differ in the last ULPs across CPU generations, so the
    # identical code prints literals that differ at the 16th-17th
    # significant digit on a different host (r16: embedding_pca's
    # eigh-derived ortho denominators).  Truncate mantissas beyond 9
    # fractional digits — a REAL constant change (different fit, new
    # expression) still shows, host-ULP noise does not.
    (re.compile(r"(\d\.\d{9})\d+"), r"\1~"),
]


def normalize(plan: str) -> str:
    for rx, repl in _NORMALIZERS:
        plan = rx.sub(repl, plan)
    return plan.rstrip() + "\n"


def formatted_plan(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


# The 20 most expensive NON-headline catalog queries (by BENCH_LOCAL
# secondary timings, r10 verdict item 4): state/index builders and
# multi-stage deliverables where a silent plan regression would hurt
# most.  Their run_query construction may execute bounded setup
# (index writes, streaming replays) — the snapshot captures the final
# returned plan, which is what regresses when a strategy flips.
EXTENDED = [
    "stream_vector_neardup",
    "stream_dedup_neardup",
    "stream_pack_sequences",
    "dedup_incremental_compacted",
    "similarity_incremental_indexed",
    # orders_profile is EXCLUDED: its exact-distinct profile plans one
    # Expand branch per column, and Catalyst's distinct-aggregate
    # rewrite orders the branches by per-session expression IDs — the
    # same code produces a permuted (semantically identical) Expand on
    # every new JVM, which would flake the drift gate.
    "doc_pack_incremental",
    "stream_qhist_quantiles",
    "supplier_triangles",
    "embedding_semdedup",
    "similarity_ivf_probed",
    "stream_hll_distinct",
    "events_qhist_state_quantiles",
    "similarity_ivf_topk",
    "brand_basket_pairs",
    "dedup_incremental_matches",
    "doc_bpe_token_counts",
    "doc_shingle_novelty",
    "brand_association_rules",
    "embedding_contamination",
    # round-11 additions (r11 verdict item 3): the six new queries were
    # outside the gate — part_name_fuzzy_pairs is top-5 expensive
    # repo-wide, and a plan regression in any of them was invisible.
    "part_name_fuzzy_pairs",
    "stream_budget_admissions",
    "doc_splits_by_neardup_cluster",
    "corpus_budget_prefix",
    "hourly_value_ohlc",
    "embedding_arrow_stats",
    # round-12 additions: every new query enters the gate the round it
    # ships (the r11 lesson — a regression in an ungated plan is
    # invisible until it costs a bench round).
    "part_name_edit_pairs",
    "user_value_trend",
    "events_decayed_value",
    "events_mad_outliers",
    "embedding_hard_negatives",
    # round-13 additions (same policy; tests/test_plan_snapshots.py's
    # no-Spark tripwire fails the instant a name lands here without its
    # PLANS/<name>.txt file).
    "events_rolling_zscore",
    "user_event_transitions",
    "part_name_softtfidf_pairs",
    "lineitem_shipping_overlaps",
    "doc_shingle_containment",
    "part_name_sorted_neighbors",
    "doc_winnow_matches",
    "doc_bigram_logprob",
    "stream_event_transitions",
    "user_event_paths",
    "orders_benford_digits",
    "events_cusum_alarms",
    "user_welch_ab",
    "events_type_hour_chisq",
    "customer_repeat_survival",
    "orders_price_bootstrap",
    "part_name_jw_pairs",
    "stream_cusum_alarms",
    "doc_feature_hash",
    "doc_rrf_fusion",
    "orders_priority_target_encode",
    "trade_communities",
    "orders_snapshot_diff",
    "orders_price_psi",
    "doc_readability",
    "doc_bigram_pmi",
    "events_type_overlap_hll",
    "user_running_distinct_types",
    "trade_kcore",
    "user_funnel_conversion",
    "nation_customer_gini",
    "embedding_mmr_select",
    "orders_price_auc",
    "nation_spearman_rho",
    "user_interarrival_stats",
    # round-14 additions (same policy)
    "embedding_near_dups_ivf",
    "doc_duplicate_spans",
    "doc_span_dedup_corpus",
    "corpus_dsir_select",
    "stream_span_dedup",
    "doc_self_span_dedup",
    "part_golden_records",
    "orders_price_ks",
    "embedding_pq_codes",
    "similarity_pq_adc",
    "similarity_ivfpq_probed",
    # round-15 additions: the materialized-index search (its routed
    # index resource builds per run — bounded setup, the plan under
    # gate is the stored-codes probed join); the streaming PQ gate is
    # excluded like the other foreachBatch gates (restaged source).
    "similarity_ivfpq_indexed",
    "similarity_ivfpq_reranked",
    "similarity_ivfpq_filtered",
    "embedding_pq_rotated",
    "hourly_value_interp",
    "doc_overlap_chunks",
    "similarity_maxsim_topk",
    "hourly_value_stl",
    "click_position_attribution",
    "customer_balance_quantile_norm",
    "lineitem_month_proration",
    # round-16 additions: the token-index MaxSim re-rank and the
    # takedown search (both build their routed index per run; the
    # plan under gate is the stored-codes probed join + re-rank).
    "similarity_maxsim_reranked",
    "similarity_ivfpq_takedown",
    "orders_price_ddsketch",
    "stream_price_ddsketch",
    "doc_epoch_shuffle",
]


def headline_names() -> list[str]:
    import bench

    return list(bench.HEADLINE) + EXTENDED


def resolve(spark, sf_dir: str = SF_DIR, names: list[str] | None = None):
    """Yield ``(name, DataFrame)`` for each snapshot query.  Constructing
    a catalog query may run bounded setup actions (sketch-state builds,
    index writes) — at sf0.001 that is seconds total; the returned plan
    itself is never executed."""
    from interlinked_spark import catalog

    # Cached relations from earlier work in a shared session substitute
    # InMemoryTableScan into matching subplans — snapshot the COLD plan.
    spark.catalog.clearCache()
    for name in names or headline_names():
        yield name, catalog.run_query(name, spark, sf_dir)


def generate(spark, sf_dir: str = SF_DIR, names: list[str] | None = None) -> dict[str, str]:
    """name -> normalized formatted plan."""
    return {name: normalize(formatted_plan(df)) for name, df in resolve(spark, sf_dir, names)}


def main() -> None:
    from interlinked_spark.session import get_spark

    spark = get_spark("plan-snapshots")
    spark.sparkContext.setLogLevel("ERROR")
    PLANS_DIR.mkdir(exist_ok=True)
    plans = generate(spark)
    stale = {p.name for p in PLANS_DIR.glob("*.txt")} - {
        f"{n}.txt" for n in plans
    }
    for name, text in sorted(plans.items()):
        (PLANS_DIR / f"{name}.txt").write_text(text)
    for orphan in sorted(stale):
        (PLANS_DIR / orphan).unlink()
    print(f"wrote {len(plans)} snapshots to {PLANS_DIR}" + (f"; removed {len(stale)} stale" if stale else ""))
    spark.stop()


if __name__ == "__main__":
    main()
