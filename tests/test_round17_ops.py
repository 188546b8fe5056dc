"""Round-17 optimization guards: shingle Jaccard pairs must equal a
brute-force reference and filter on the unrounded ratio, the spread
compute floor must stop shredding tiny frames while honoring explicit
widths, and index file counts must derive from size unless given."""

import pytest

from .conftest import SF_SMOKE as SF


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


# ---------- shingle Jaccard pairs (llm/dedup.ngram_jaccard_pairs) ----------


def _reference_jaccard(texts, threshold, n=3):
    import re

    ws = re.compile(r"[ \t\n\f\r]+")

    def sh(t):
        toks = ws.sub(" ", t.strip(" \t\n\f\r").lower()).split(" ")
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    sets = sorted((i, sh(t)) for i, t in texts.items() if t is not None)
    out = {}
    for x, (li, a) in enumerate(sets):
        for ri, b in sets[x + 1 :]:
            common = len(a & b)
            if common and common / len(a | b) >= threshold:
                out[(li, ri)] = common / len(a | b)
    return out


@pytest.mark.parametrize("threshold", [0.5, 0.35, 0.05])
def test_jaccard_pairs_match_reference(spark, docs, threshold):
    from interlinked_spark.llm.dedup import ngram_jaccard_pairs

    texts = {r.doc_id: r.text for r in docs.collect()}
    ref = _reference_jaccard(texts, threshold)
    got = {
        (r.left_id, r.right_id): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=threshold).collect()
    }
    assert got.keys() == ref.keys()
    assert all(abs(got[k] - ref[k]) < 1e-6 for k in ref)


def test_jaccard_threshold_compares_unrounded_ratio(spark):
    # Jaccard 2/3 rounds to 0.666667, which is above this threshold;
    # the unrounded ratio is below it, so the pair must not pass.
    from interlinked_spark.llm.dedup import (
        ngram_jaccard_incremental,
        ngram_jaccard_pairs,
    )

    d = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d e")], "doc_id long, text string"
    )
    assert ngram_jaccard_pairs(d, threshold=0.6666668).count() == 0
    assert ngram_jaccard_pairs(d, threshold=0.6666666).collect() == [(1, 2, 0.666667)]
    corpus, new = d.filter("doc_id = 1"), d.filter("doc_id = 2")
    assert ngram_jaccard_incremental(corpus, new, threshold=0.6666668).count() == 0
    assert ngram_jaccard_incremental(corpus, new, threshold=0.6666666).count() == 1


# ---------- spread compute floor (operators/partitioning.spread) ----------


def test_spread_caps_tiny_frames_below_parallelism(spark):
    from interlinked_spark.operators.partitioning import spread

    tiny = spark.read.parquet(f"{SF}/documents.parquet")
    out = spread(tiny)
    # The smoke corpus is a few KB: the compute floor must keep the
    # width far below the session's default parallelism.
    assert out.rdd.getNumPartitions() <= 4


def test_spread_results_unchanged(spark):
    from interlinked_spark.operators.partitioning import spread

    df = spark.read.parquet(f"{SF}/documents.parquet")
    assert sorted(r.doc_id for r in spread(df).collect()) == sorted(
        r.doc_id for r in df.collect()
    )


# ---------- index file count (llm/dedup.build/update_shingle_index) ----------


def test_shingle_index_file_count_scales_with_source(spark, docs, tmp_path):
    from interlinked_spark.llm.dedup import _sized_file_count, build_shingle_index

    assert _sized_file_count(docs) == 1  # KB-scale smoke corpus
    path = str(tmp_path / "idx")
    build_shingle_index(docs, path, n=3)
    import glob

    assert len(glob.glob(f"{path}/part-*")) == 1


def test_shingle_index_explicit_file_count_is_exact(spark, docs, tmp_path):
    import glob

    from interlinked_spark.llm.dedup import build_shingle_index, update_shingle_index

    path = str(tmp_path / "idx")
    build_shingle_index(docs, path, n=3, num_files=3)
    assert len(glob.glob(f"{path}/part-*")) == 3
    update_shingle_index(docs.limit(50), path, n=3, num_files=2)
    assert len(glob.glob(f"{path}/part-*")) == 5
