"""End-to-end LLM training-data pipeline as a workflow: quality filter
-> repetition gate -> span-level boilerplate gate (CDC chunks) ->
benchmark decontamination -> exact dedup -> near-dup clustering ->
canonical pick -> deterministic sample -> mix report -> stratified
splits -> temperature-resampled mix -> sequence packing.  Every stage
is a routed resource, so any intermediate is addressable
(`run("docs.canonical")`) and memoized within a run.

    PYTHONPATH=. python examples/llm_pipeline.py
"""

from pyspark.sql import functions as F

from interlinked_spark import Workflow
from interlinked_spark.llm import exact_text_dedup, near_dup_clusters, token_stats
from interlinked_spark.llm.text import flag_contaminated, quality_scores, repetition_signals
from interlinked_spark.operators.sampling import hash_sample
from interlinked_spark.session import get_spark, scratch_dir

wkf = Workflow("llm-pipeline", base_kw={"base_dir": "/root/testdata/sf0.001"})


@wkf.provide("spark")
def spark_session():
    return get_spark("llm-pipeline-example")


@wkf.depend(spark="spark")
@wkf.provide("docs.raw")
def raw(spark, base_dir):
    return spark.read.parquet(f"{base_dir}/documents.parquet")


@wkf.depend(d="docs.raw")
@wkf.provide("source_card")
def source_card(d):
    """Curation triage FIRST: per-source doc counts, token share,
    quality pass rate and exact-dup rate (`catalog.source_scorecard`'s
    operator composition) — a crawler stuck in a template farm shows up
    here before any expensive per-document pass runs."""
    from interlinked_spark.llm.text import quality_scores, token_stats

    scored = quality_scores(token_stats(d))
    gate = (F.col("n_tokens") >= 24) & (F.col("stopword_ratio") >= 0.01)
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("tokens"),
            F.round(F.avg(F.when(gate, 1.0).otherwise(0.0)), 3).alias(
                "quality_pass_rate"
            ),
            F.round(
                F.lit(1.0) - F.countDistinct(F.md5("text")) / F.count("*"), 3
            ).alias("exact_dup_rate"),
        )
        .orderBy(F.col("exact_dup_rate").desc())
    )


@wkf.depend(d="docs.raw")
@wkf.provide("docs.clean")
def clean(d, min_tokens: int = 5, max_upper_ratio: float = 0.5):
    q = quality_scores(d)
    return q.filter(
        (F.col("n_tokens") >= min_tokens) & (F.col("upper_ratio") <= max_upper_ratio)
    ).select(d.columns)


@wkf.depend(d="docs.clean")
@wkf.provide("docs.unrepetitive")
def unrepetitive(d, max_dup_gram_frac: float = 0.4):
    """Drop boilerplate/spam: high duplicate-bigram fraction."""
    reps = repetition_signals(d, n=2)
    keep = reps.filter(F.col("dup_gram_frac") <= max_dup_gram_frac).select("doc_id")
    return d.join(keep, "doc_id")


@wkf.depend(d="docs.unrepetitive")
@wkf.provide("docs.despanned")
def despanned(d, max_dup_span_frac: float = 0.8):
    """Span-level boilerplate gate: drop documents whose characters are
    mostly CDC chunks shared with other documents (template spam that
    pairwise Jaccard misses)."""
    from interlinked_spark.llm.chunking import dup_span_fraction

    spans = dup_span_fraction(d)
    keep = spans.filter(F.col("dup_span_frac") <= max_dup_span_frac).select("doc_id")
    return d.join(keep, "doc_id")


@wkf.depend(d="docs.despanned", raw="docs.raw")
@wkf.provide("docs.decontaminated")
def decontaminated(d, raw):
    """Remove training docs sharing 5-grams with the held-out eval
    slice (every 50th raw doc plays the benchmark)."""
    bench = raw.filter(F.col("doc_id") % 50 == 0)
    train = d.filter(F.col("doc_id") % 50 != 0)
    hits = flag_contaminated(train, bench, n=5).select("doc_id")
    return train.join(hits, "doc_id", "left_anti")


@wkf.depend(d="docs.decontaminated")
@wkf.provide("docs.exact_deduped")
def exact_deduped(d):
    return exact_text_dedup(d)


@wkf.depend(d="docs.exact_deduped")
@wkf.provide("docs.canonical")
def canonical(d, jaccard_threshold: float = 0.5):
    """One document per near-dup cluster (the cluster's min doc id)."""
    clusters = near_dup_clusters(d, threshold=jaccard_threshold)
    return d.join(
        clusters.filter(F.col("doc_id") == F.col("cluster_id")).select("doc_id"), "doc_id"
    )


@wkf.depend(d="docs.canonical")
@wkf.provide("docs.sample.{pct:int}")
def sample(d, pct):
    return hash_sample(d, "doc_id", int(pct) / 100, salt="train-v1")


@wkf.depend(d="docs.sample.20")
@wkf.provide("report")
def report(d):
    stats = token_stats(d)
    return stats.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_bpe_est").alias("total_bpe_est"),
    )


@wkf.depend(d="docs.sample.20")
@wkf.provide("mix_report")
def mix_report(d):
    """The dataset card: per (lang, source) token shares of the final
    training sample."""
    from interlinked_spark.llm.text import corpus_mix_summary

    return corpus_mix_summary(d)


@wkf.depend(d="docs.canonical")
@wkf.provide("dedup_index")
def dedup_index(d):
    """Materialized pipeline STATE as a routed resource: the accepted
    corpus's inverted shingle index, built once per run and memoized —
    tomorrow's batches match against THIS, never re-shingling the
    corpus (`dedup.build_shingle_index` / `update_shingle_index`)."""
    from interlinked_spark.llm.dedup import build_shingle_index

    path = scratch_dir("llm_pipeline_idx_")
    build_shingle_index(d, path, num_files=4)
    return path


@wkf.depend(spark="spark", idx="dedup_index", raw="docs.raw")
@wkf.provide("batch.matches")
def batch_matches(spark, idx, raw):
    """The daily-maintenance shape: a synthetic next-day batch (re-sent
    copies of existing docs under new ids) matched against the stored
    index — only the batch is shingled."""
    from interlinked_spark.llm.dedup import ngram_jaccard_incremental_indexed

    batch = raw.filter(F.col("doc_id") % 97 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    return ngram_jaccard_incremental_indexed(spark, idx, batch, threshold=0.5)


@wkf.depend(d="docs.canonical")
@wkf.provide("splits_card")
def splits_card(d):
    """Per-language train/val/test counts: scarce languages hold out
    more eval data; the assignment is one deterministic hash band per
    key (`sampling.dataset_splits_stratified`), so every derived table
    splits identically."""
    from interlinked_spark.operators.sampling import dataset_splits_stratified

    s = dataset_splits_stratified(
        d,
        "doc_id",
        "lang",
        {"en": {"train": 0.9, "val": 0.05, "test": 0.05}},
        default={"train": 0.7, "val": 0.15, "test": 0.15},
        salt="train-v1",
    )
    # Leakage-sensitive corpora key the band on the GROUP instead
    # (`dataset_splits(d, "source", ...)` — every doc of a source in one
    # split), trading per-group proportions for boundary safety.
    return s.groupBy("lang", "split").count().orderBy("lang", "split")


@wkf.depend(d="docs.canonical")
@wkf.provide("splits_leakage_safe")
def splits_leakage_safe(d, jaccard_threshold: float = 0.5):
    """Near-dup-cluster-keyed splits (round 11): the band is on the
    CLUSTER id, so a test doc can never have a near-duplicate in train
    — the leakage channel source-keyed splits miss when near-dups
    cross sources (`catalog.doc_splits_by_neardup_cluster`)."""
    from interlinked_spark.operators.sampling import dataset_splits

    clusters = near_dup_clusters(d, threshold=jaccard_threshold)
    s = dataset_splits(clusters, "cluster_id",
                       {"train": 0.8, "val": 0.1, "test": 0.1}, salt="train-v1")
    return s.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("cluster_id").alias("n_clusters"),
    )


@wkf.depend(d="docs.canonical")
@wkf.provide("mix.budgeted")
def mix_budgeted(d, chars_per_source: int = 2000):
    """The other mix knob (round 11): an EXACT per-source budget — the
    deterministic hash-order prefix of each source until its char
    budget fills (`sampling.budget_select`; bucketed two-phase cumsum,
    past-budget buckets pruned before the shuffle).  Production ingest
    enforces the same contract AT THE STREAM via
    `streaming.run_budget_gate_into_parquet`."""
    from interlinked_spark.operators.sampling import budget_select

    sel = budget_select(d, "source", "doc_id", "n_chars", budgets=chars_per_source)
    return sel.drop("__cum")


@wkf.depend(d="docs.canonical")
@wkf.provide("mix.resampled")
def mix_resampled(d, tau: float = 0.5, target_docs: int = 100):
    """Temperature-resample the canonical corpus: per-source token-mass
    weights w_s ∝ mass^tau, deterministic md5-band selection — the
    pretraining mix knob (`sampling.temperature_sample`)."""
    from interlinked_spark.operators.sampling import temperature_sample

    return temperature_sample(
        d, "source", "doc_id", tau=tau, target_rows=target_docs, size_col="n_chars"
    )


@wkf.depend(d="mix.resampled")
@wkf.provide("packed_card")
def packed_card(d, capacity: int = 256):
    """Lay the resampled mix into fixed-capacity training sequences
    (concat-split; `llm.packing.pack_sequences` over the distributed
    prefix sum) and report the fill profile — the final shape that
    actually hits the trainer."""
    from interlinked_spark.llm.packing import pack_sequences

    toks = token_stats(d).select("doc_id", "n_bpe_est")
    seqs = pack_sequences(toks, "n_bpe_est", "doc_id", capacity, bucket_width=100)
    return seqs.agg(
        F.count("*").alias("n_sequences"),
        F.sum("tokens_filled").alias("tokens_packed"),
        F.round(F.avg("n_docs"), 2).alias("avg_docs_per_seq"),
        F.min("tokens_filled").alias("min_fill"),
    )


@wkf.depend(d="docs.canonical")
@wkf.provide("readability_card")
def readability_card(d):
    """Round-13 curation dial: per-source Flesch reading-ease profile
    (`llm.text.readability_scores` — a pure map job) — the difficulty
    axis of the mix, orthogonal to the length/stopword gates."""
    from interlinked_spark.llm.text import readability_scores

    scored = readability_scores(d).join(
        d.select(F.col("doc_id").alias("id"), "source"), "id"
    )
    return scored.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("flesch"), 2).alias("mean_flesch"),
        F.round(F.percentile("flesch", 0.1), 2).alias("p10_flesch"),
    )


@wkf.depend(d="docs.canonical")
@wkf.provide("phrase_card")
def phrase_card(d, min_count: int = 5, top_k: int = 10):
    """Round-13 template detector: top PMI collocations
    (`llm.text.bigram_pmi`) — a boilerplate-heavy corpus surfaces its
    stock phrases here before they dominate training batches."""
    from interlinked_spark.llm.text import bigram_pmi

    return bigram_pmi(d, min_count=min_count, top_k=top_k)


@wkf.depend(d="docs.canonical")
@wkf.provide("drift_card")
def drift_card(d):
    """Round-13 drift check: PSI of document length between the train
    and val splits (`operators.diagnostics.population_stability`) — a
    split that drifted in length distribution biases eval; < 0.1 is
    the stable band."""
    from interlinked_spark.operators.diagnostics import population_stability
    from interlinked_spark.operators.sampling import dataset_splits

    s = dataset_splits(
        d, "doc_id", {"train": 0.8, "val": 0.2}, salt="train-v1"
    ).select(F.length("text").cast("double").alias("v"), "split")
    return population_stability(
        s.filter(F.col("split") == "train"),
        s.filter(F.col("split") == "val"),
        "v",
        n_buckets=5,
    )


if __name__ == "__main__":
    out, mix, matches, splits, packed, card, safe, budgeted = wkf.run(
        "report", "mix_report", "batch.matches", "splits_card", "packed_card",
        "source_card", "splits_leakage_safe", "mix.budgeted",
    )
    readability, phrases, drift = wkf.run(
        "readability_card", "phrase_card", "drift_card"
    )
    card.show(5, truncate=False)
    row = out.first()
    assert row.n_docs > 0 and row.total_tokens > row.n_docs
    print(f"sampled {row.n_docs} canonical docs, ~{row.total_tokens} tokens "
          f"(~{row.total_bpe_est} BPE-estimated)")
    mix.show(truncate=False)
    n_matches = matches.count()
    assert n_matches > 0  # the re-sent copies must be caught by the index
    print(f"next-day batch: {n_matches} near-dup matches against the stored index")
    splits.show(truncate=False)
    prow = packed.first()
    assert prow.n_sequences > 0 and prow.min_fill > 0
    print(
        f"packed the resampled mix into {prow.n_sequences} sequences "
        f"({prow.tokens_packed} tokens, avg {prow.avg_docs_per_seq} docs/seq)"
    )
    safe.show(truncate=False)
    per_src = budgeted.groupBy("source").agg(F.sum("n_chars").alias("chars"))
    assert per_src.filter(F.col("chars") > 2000).count() == 0
    print(f"budgeted mix: {budgeted.count()} docs, every source <= 2000 chars")
    readability.show(truncate=False)
    phrases.show(truncate=False)
    psi = drift.first().psi_total
    print(f"train-vs-val length PSI: {psi} ({'stable' if psi < 0.1 else 'DRIFTED'})")
