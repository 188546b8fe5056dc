"""Deduplication operators for training-data pipelines (SURVEY.md §2b-K).

Four tiers, cheapest first:

1. exact — hash-groupBy on the normalized text; one shuffle.
2. MinHash + LSH banding — shingle -> minhash signature -> band buckets
   -> candidate pairs by bucket equi-join -> verify Jaccard.  The
   standard web-scale near-dup pipeline (one shuffle per stage, no
   all-pairs comparison).
3. SimHash — 64-bit signature whose Hamming distance tracks cosine
   similarity of token sets; bucket by signature bands for candidates.
4. n-gram Jaccard — exact set overlap on shingles for candidate pairs
   (used as the verify stage of 2/3, or standalone on small groups).

Joins/aggregations/hashing stay JVM-side (explode/xxhash64/groupBy);
the shingle kernel is an Arrow-vectorized pandas UDF — measured ~15x
faster than the equivalent interpreted higher-order-function column
expression (see :func:`_with_shingles`).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..operators.aggregates import dedup_exact
from ..operators.diagnostics import drop_hot_buckets
from ..operators.partitioning import spread


def _normalized(col: str) -> F.Column:
    return F.regexp_replace(F.lower(F.trim(F.col(col))), r"\s+", " ")


def exact_text_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id document per normalized text.  The groupBy runs
    on a 128-bit md5 of the text, not the text itself, so the shuffle
    moves 32 bytes + id per row instead of whole documents.  64 bits is
    NOT enough here: at multi-billion-doc scale birthday collisions on
    xxhash64 become expected (~0.3 at 10^9 docs) and would silently merge
    distinct documents; at 128 bits the probability is ~1e-20."""
    hashed = df.withColumn("__h", F.md5(_normalized(text_col).cast("binary")))
    return dedup_exact(hashed, ["__h"], tie_breaker=id_col, keep="min").drop("__h")


def _with_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int, out: str = "sh"
) -> DataFrame:
    """Project ``(id, sh)`` where ``sh`` is the deduplicated word-n-gram
    shingle array, via an Arrow-vectorized pandas UDF.

    Measured against two pure-Column formulations (slice/array_join and
    sequence/element_at/concat_ws): nested higher-order functions
    evaluate INTERPRETED per element (~12s single-core for 260k shingles
    at sf0.1) while the Arrow batch + CPython string path does the same
    in ~0.8s.  This is the documented exception to "UDFs are the slow
    path": HOF-heavy string kernels are faster vectorized in Python.
    Output verified identical to the Column formulations."""

    @F.pandas_udf("array<string>")
    def shingle_udf(texts: pd.Series) -> pd.Series:
        ws = re.compile(r"[ \t\n\f\r]+")  # ASCII/RE2 \s: match JVM + SQL-oracle semantics

        def sh(t: str) -> list[str]:
            toks = ws.sub(" ", t.strip(" \t\n\f\r").lower()).split(" ")
            return list(
                dict.fromkeys(
                    " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
                )
            )

        return texts.map(sh)

    # Cheap scan-side pre-filter (>= n tokens <=> >= 1 shingle), so
    # texts with no shingle never reach the Python worker.  Every caller
    # explodes ``sh``, and Catalyst infers ``size(sh) > 0 AND
    # isnotnull(sh)`` under each explode; pushed through this projection,
    # that filter would evaluate the UDF a second time.  Marking the UDF
    # nondeterministic pins the inferred filter above the projection.
    base = df.filter(F.size(F.split(_normalized(text_col), " ")) >= n).select(
        F.col(id_col).alias("id"), F.col(text_col).alias("__text")
    )
    base = spread(base)
    return base.select("id", shingle_udf.asNondeterministic()("__text").alias(out))


def minhash_signature_bands(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """The signature + banding front half of the MinHash pipeline,
    exposed so skew tooling can inspect the bucket-key distribution
    BEFORE committing to the candidate self-join (the pre-flight check
    a 100-TB run does on a hash sample — see
    ``operators/diagnostics.bucket_stats`` and
    ``tests/test_scale_tools.py``).

    Returns ``(sig, banded)``: ``sig`` is ``(id, sh, sig)`` (shingle
    array + minhash signature, checkpointed — both halves of the join
    and the verify join-back derive from it), ``banded`` is
    ``(id, band, bucket)`` — the exact rows the candidate join shuffles.
    """
    rows_per_band = num_hashes // bands
    assert rows_per_band * bands == num_hashes, "bands must divide num_hashes"

    # One Arrow pass computes shingles AND the minhash signature:
    # blake2b base hash per shingle, then num_hashes seeded variants via
    # a vectorized splitmix64 mix in numpy — avoids num_hashes
    # interpreted HOF transforms over the shingle arrays (the measured
    # slow path, see _with_shingles).
    import hashlib

    import numpy as np

    @F.pandas_udf(f"struct<sh:array<string>,sig:array<long>>")
    def shingle_sig_udf(texts: pd.Series) -> pd.DataFrame:
        ws = re.compile(r"[ \t\n\f\r]+")  # ASCII/RE2 \s: match JVM + SQL-oracle semantics
        seeds = np.arange(1, num_hashes + 1, dtype=np.uint64) * np.uint64(
            0x9E3779B97F4A7C15
        )

        def mix(m: "np.ndarray") -> "np.ndarray":
            # splitmix64 finalizer — decorrelates the seeded variants
            m = (m ^ (m >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
            m = (m ^ (m >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
            return m ^ (m >> np.uint64(31))

        shs, sigs = [], []
        for t in texts:
            toks = ws.sub(" ", t.strip(" \t\n\f\r").lower()).split(" ")
            sh = list(
                dict.fromkeys(
                    " ".join(toks[i : i + shingle_n])
                    for i in range(len(toks) - shingle_n + 1)
                )
            )
            shs.append(sh)
            if not sh:
                sigs.append([0] * num_hashes)
                continue
            base = np.array(
                [
                    int.from_bytes(
                        hashlib.blake2b(s.encode(), digest_size=8).digest(), "big"
                    )
                    for s in sh
                ],
                dtype=np.uint64,
            )
            seeded = mix(base[:, None] ^ seeds[None, :])  # (n_shingles, num_hashes)
            sigs.append(seeded.min(axis=0).astype(np.int64).tolist())
        return pd.DataFrame({"sh": shs, "sig": sigs})

    base = df.filter(
        F.size(F.split(_normalized(text_col), " ")) >= shingle_n
    ).select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
    sig = (
        spread(base)
        .select("id", shingle_sig_udf("__text").alias("__ss"))
        .select("id", F.col("__ss.sh").alias("sh"), F.col("__ss.sig").alias("sig"))
    )
    # Materialize the Arrow pipeline ONCE; the band explode, both sides
    # of the bucket self-join, and both shingle join-backs below all
    # derive from this checkpoint (see _posting_pair_counts note).
    sig = sig.localCheckpoint(eager=False)
    # Band key = hash of the band's signature slice.  Explode ids ONLY:
    # the (band, bucket) shuffle and the bucket self-join move 3 longs
    # per row.  Carrying `sh` here would duplicate every document's full
    # shingle array bands x through the exchange and again into every
    # candidate pair — the 100-TB killer this layout avoids.
    banded = sig.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(F.lit(b), F.array_join(F.slice("sig", b * rows_per_band + 1, rows_per_band), "_"))
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    return sig, banded


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.7,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash + LSH banding near-duplicate pairs.

    Pipeline (each arrow is one narrow or one shuffle stage):
    shingle (narrow) -> num_hashes minhashes via seeded xxhash64
    (narrow) -> band keys (narrow) -> explode bands + groupBy bucket
    (1 shuffle) -> candidate pairs (narrow) -> exact Jaccard verify
    (1 self-join shuffle on id).

    Returns ``(left_id, right_id, jaccard)`` with left < right and
    jaccard >= threshold.  At 100 TB the bucket groupBy dominates; skew
    (a viral shingle set) is bounded because buckets collect only ids,
    and pair expansion is capped per bucket by distinctness of docs.
    A K-document duplicate CLIQUE still yields K^2/2 candidate pairs by
    construction (they genuinely collide in every band); the hot-bucket
    pre-flight (``minhash_signature_bands`` + ``bucket_stats``) is how a
    production run sizes that mass before paying for it.
    """
    sig, banded = minhash_signature_bands(
        df, text_col, id_col, shingle_n, num_hashes, bands
    )
    if max_bucket_size is not None:
        # Hot-bucket cap — the band-join twin of ``max_shingle_df``: a
        # bucket of K docs (an exact-duplicate clique, or a band gone
        # degenerate) emits K^2/2 candidate pairs; above the cap, drop
        # the bucket BEFORE the self-join.  Recall trade: pairs whose
        # every shared band is oversized are lost — run exact dedup
        # first so identical-doc cliques never reach this stage, and
        # size the cap from ``minhash_signature_bands`` +
        # ``diagnostics.bucket_stats``.
        banded = drop_hot_buckets(banded, ["band", "bucket"], max_bucket_size)
    left = banded.select("band", "bucket", F.col("id").alias("left_id"))
    right = banded.select("band", "bucket", F.col("id").alias("right_id"))
    cand = (
        left.join(right, on=["band", "bucket"])
        .filter(F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id")
        .dropDuplicates(["left_id", "right_id"])
    )
    # Jaccard verify: join the shingle sets back by id — each document's
    # array crosses the wire once per DISTINCT candidate pair side, not
    # bands x per band bucket.
    shingles = sig.select("id", "sh")
    cand = cand.join(
        shingles.select(F.col("id").alias("left_id"), F.col("sh").alias("lsh")), "left_id"
    ).join(
        shingles.select(F.col("id").alias("right_id"), F.col("sh").alias("rsh")), "right_id"
    )
    inter = F.size(F.array_intersect("lsh", "rsh"))
    union = F.size(F.array_union("lsh", "rsh"))
    return (
        cand.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("left_id", "right_id", F.round("jaccard", 6).alias("jaccard"))
    )


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64
) -> DataFrame:
    """64-bit SimHash per document: sign of the per-bit sum of token
    hashes (vote_i = sum over tokens of +/-1 by bit i; bit set iff
    vote > 0).

    Arrow-vectorized: stable token hashes (first 8 bytes of md5, so any
    engine with md5 — including the DuckDB oracle — can recompute the
    exact signature) + one numpy bit-matrix fold per document.  (The
    pure-Column formulation — 64 interpreted ``aggregate`` folds over a
    hash array — is the same 10x+ slowdown class as the shingle HOF
    kernel; see :func:`_with_shingles`.)"""
    import hashlib

    import numpy as np

    assert bits == 64, "simhash is fixed at 64 bits"

    @F.pandas_udf("long")
    def simhash_udf(texts: pd.Series) -> pd.Series:
        ws = re.compile(r"[ \t\n\f\r]+")  # ASCII/RE2 \s: match JVM + SQL-oracle semantics
        shifts = np.arange(64, dtype=np.uint64)

        def sig(t: str) -> int:
            toks = set(ws.sub(" ", t.strip(" \t\n\f\r").lower()).split(" "))
            if not toks:
                return 0
            hs = np.array(
                [
                    int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
                    for tok in toks
                ],
                dtype=np.uint64,
            )
            bits_matrix = (hs[:, None] >> shifts) & np.uint64(1)  # (ntoks, 64)
            votes = 2 * bits_matrix.astype(np.int64).sum(axis=0) - len(hs)
            word = np.uint64(0)
            for i in np.nonzero(votes > 0)[0]:
                word |= np.uint64(1) << np.uint64(i)
            return int(word.astype(np.int64))  # wrap to Java long

        return texts.map(sig)

    df = spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text")))
    return df.select("id", simhash_udf("__text").alias("simhash"))


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64-bit signature into
    ``bands`` chunks (pigeonhole: any pair within ``max_hamming < bands``
    bits shares at least one exact chunk), bucket-join candidates, then
    verify Hamming distance exactly via bit_count(xor)."""
    sig = simhash_signatures(df, text_col, id_col)
    chunk = 64 // bands
    banded = sig.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("simhash", b * chunk).bitwiseAND(F.lit((1 << chunk) - 1))
                    for b in range(bands)
                ]
            )
        ).alias("band", "chunk"),
    )
    banded = banded.localCheckpoint(eager=False)  # compute signatures once
    l = banded.select("band", "chunk", F.col("id").alias("left_id"), F.col("simhash").alias("lh"))
    r = banded.select("band", "chunk", F.col("id").alias("right_id"), F.col("simhash").alias("rh"))
    return (
        l.join(r, on=["band", "chunk"])
        .filter(F.col("left_id") < F.col("right_id"))
        .dropDuplicates(["left_id", "right_id"])
        .withColumn("hamming", F.bit_count(F.col("lh").bitwiseXOR(F.col("rh"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("left_id", "right_id", "hamming")
    )


def _posting_pair_counts(
    postings: DataFrame,
    on: list[str],
    left: list[str | F.Column],
    right: list[str | F.Column],
    keep: F.Column,
    keys: list[str],
    max_df: int | None,
    count_col: str = "common",
) -> DataFrame:
    """The posting self-join every overlap-counting pair operator here
    shares (shingle Jaccard/containment, incremental match, winnowing
    fingerprints): cap hot keys (more than ``max_df`` postings) BEFORE
    the join, materialize the capped postings, join the ``left`` and
    ``right`` projections of them on ``on``, keep rows passing ``keep``
    (a side-local conjunct is pushed below the join by Catalyst) and
    count the shared keys per ``keys`` group into ``count_col``.

    ``max_df`` caps viral keys: one key in df documents otherwise
    yields O(df^2) candidate pairs — the quadratic blowup that kills
    inverted-index dedup at web scale.  The standard trade: pairs whose
    entire overlap is viral keys are missed, and the count is a lower
    bound for pairs that share a capped key.  ``None`` disables the cap
    (exact).

    The checkpoint makes the posting pipeline (shingle/fingerprint UDF
    + df-cap window) run ONCE instead of once per join side (A/B-tested
    vs plain recompute / repartition-reuse / persist: 8-9s -> 1.3s at
    sf0.1); lineage truncation trades executor-failure recovery of this
    intermediate for that."""
    if max_df is not None:
        postings = drop_hot_buckets(postings, on, max_df)
    postings = postings.localCheckpoint(eager=False)
    return (
        postings.select(*left)
        .join(postings.select(*right), on)
        .filter(keep)
        .groupBy(*keys)
        .agg(F.count("*").alias(count_col))
    )


def _shingle_pair_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str | None,
    n: int,
    max_shingle_df: int | None,
) -> DataFrame:
    """``(left_id, right_id, lns, rns, common)`` for every undirected
    document pair (left < right) sharing >= 1 shingle — never all-pairs
    — with each side's distinct-shingle count and the shared count.
    Optional ``group_col`` restricts pairs to the same group."""
    base = _with_shingles(df, text_col, id_col, n)
    if group_col:
        base = base.join(df.select(F.col(id_col).alias("id"), F.col(group_col).alias("grp")), "id")
    grp_cols = ["grp"] if group_col else []
    on = ["s"] + grp_cols
    sizes = base.select("id", *grp_cols, F.size("sh").alias("nsh"), F.explode("sh").alias("s"))
    return _posting_pair_counts(
        sizes,
        on,
        left=[*on, F.col("id").alias("left_id"), F.col("nsh").alias("lns")],
        right=[*on, F.col("id").alias("right_id"), F.col("nsh").alias("rns")],
        keep=F.col("left_id") < F.col("right_id"),
        keys=["left_id", "right_id", "lns", "rns"],
        max_df=max_shingle_df,
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str | None = None,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing >=1 shingle
    (inverted-index self-join — never all-pairs).  Optional ``group_col``
    restricts pairs to the same group (e.g. same language), shrinking
    the join.  Returns ``(left_id, right_id, jaccard)``, left < right.

    ``max_shingle_df`` drops postings whose shingle appears in more than
    that many documents BEFORE the self-join (recall trade: see
    :func:`_posting_pair_counts`).  The default (1000) is far above any
    df in a normal corpus shard and never triggers on the test data (max
    df 25 at sf0.1).  The threshold compares the UNROUNDED ratio;
    ``jaccard`` rounds to 6dp.

    One candidate path: a PPJoin prefix filter (Xiao et al. 2008) was
    A/B-tested against this counting join and lost at every measured
    scale (SCALING.md)."""
    pair_common = _shingle_pair_counts(
        df, text_col, id_col, group_col, n, max_shingle_df
    )
    jac = F.col("common") / (F.col("lns") + F.col("rns") - F.col("common"))
    return pair_common.filter(jac >= threshold).select(
        "left_id", "right_id", F.round(jac, 6).alias("jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.6,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Directed shingle-CONTAINMENT pairs (§2b-K): ``(src_id, dst_id,
    containment)`` where ``containment = |S_src ∩ S_dst| / |S_src| >=
    threshold`` — "src is mostly inside dst".  The asymmetric complement
    of :func:`ngram_jaccard_pairs`: a short quote, boilerplate block or
    excerpt embedded in a much longer document scores near 1.0 on
    containment while its symmetric Jaccard stays tiny (the long doc's
    shingle count swamps the denominator) — the signal quote/excerpt
    dedup and license-text detection need.

    Same shingle-pair counts as the Jaccard twin (exact — containment >
    0 needs a shared shingle); each UNDIRECTED candidate pair then emits
    its two directed scores via a row-local 2-struct explode (no second
    join).  ``max_shingle_df`` caps viral-shingle postings with the
    documented recall trade (shared-capped-shingle pairs undercount
    ``common``).  The threshold compares the UNROUNDED ratio;
    ``containment`` rounds to 6dp."""
    pair_common = _shingle_pair_counts(df, text_col, id_col, None, n, max_shingle_df)
    directed = pair_common.select(
        F.col("common"),
        F.explode(
            F.array(
                F.struct(
                    F.col("left_id").alias("src_id"),
                    F.col("right_id").alias("dst_id"),
                    F.col("lns").alias("src_n"),
                ),
                F.struct(
                    F.col("right_id").alias("src_id"),
                    F.col("left_id").alias("dst_id"),
                    F.col("rns").alias("src_n"),
                ),
            )
        ).alias("p"),
    ).select("common", "p.*")
    ratio = F.col("common") / F.col("src_n")
    return (
        directed.filter(ratio >= F.lit(float(threshold)))
        .select("src_id", "dst_id", F.round(ratio, 6).alias("containment"))
    )


def ngram_jaccard_incremental(
    corpus: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Incremental dedup — the production shape of daily corpus
    maintenance: match each NEW document against the already-accepted
    ``corpus`` plus earlier new documents (smaller id), never corpus ×
    corpus.  Returns ``(new_id, match_id, jaccard)``.

    The scale property vs :func:`ngram_jaccard_pairs`: the join is
    anchored on the (small) new batch's postings, so cost is
    O(|new postings| x bucket), not O(|corpus postings|^2) — the
    inverted index of the accepted corpus streams through one shuffle
    keyed on shingle.  Hot-shingle df is capped over BOTH sides, so a
    viral shingle in the historical corpus can't resurrect the
    quadratic blowup."""
    c = shingle_postings(corpus, text_col, id_col, n).withColumn("__new", F.lit(0))
    a = shingle_postings(new, text_col, id_col, n).withColumn("__new", F.lit(1))
    return _incremental_match(c.unionByName(a), threshold, max_shingle_df)


def shingle_postings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """The inverted-index rows every Jaccard path joins on:
    ``(id, nsh, s)`` — one row per (document, distinct shingle), with
    the document's total distinct-shingle count alongside.  This is the
    SHAPE that gets materialized by :func:`build_shingle_index`: storing
    it (32-ish bytes + shingle text per row, no document text) is what
    lets daily maintenance skip re-reading and re-shingling the
    accepted corpus."""
    base = _with_shingles(df, text_col, id_col, n)
    return base.select("id", F.size("sh").alias("nsh"), F.explode("sh").alias("s"))


def _incremental_match(
    sizes: DataFrame,
    threshold: float,
    max_shingle_df: int | None,
) -> DataFrame:
    """Shared match stage of the incremental paths: posting rows
    ``(id, nsh, s, __new)`` in, ``(new_id, match_id, jaccard)`` out.
    The recompute path (:func:`ngram_jaccard_incremental`) and the
    materialized-index path (:func:`ngram_jaccard_incremental_indexed`)
    both delegate here, so their results are identical by construction —
    the df cap spans BOTH sides, exactly as in the recompute."""
    pair_common = _posting_pair_counts(
        sizes,
        ["s"],
        left=[
            "s", F.col("id").alias("new_id"), F.col("nsh").alias("lns"),
            F.col("__new").alias("lnew"),
        ],
        right=["s", F.col("id").alias("match_id"), F.col("nsh").alias("rns"), "__new"],
        # new docs match earlier material only: corpus docs
        # (id-collision-safe), or earlier new docs
        keep=(F.col("lnew") == 1)
        & (
            ((F.col("__new") == 0) & (F.col("match_id") != F.col("new_id")))
            | ((F.col("__new") == 1) & (F.col("match_id") < F.col("new_id")))
        ),
        keys=["new_id", "match_id", "lns", "rns"],
        max_df=max_shingle_df,
    )
    jac = F.col("common") / (F.col("lns") + F.col("rns") - F.col("common"))
    return pair_common.filter(jac >= threshold).select(
        "new_id", "match_id", F.round(jac, 6).alias("jaccard")
    )


def _sized_file_count(source: DataFrame, cap: int = 32) -> int:
    """File count for an index write, derived from the SOURCE frame's
    Catalyst size estimate (driver-side, no job): one file per ~16 MB of
    source bytes (postings run ~2x the text they index, landing files in
    the §6-recommended range), clamped to ``[1, cap]``.  Unknown
    estimates keep the cap."""
    from ..operators.partitioning import _estimated_bytes

    est = _estimated_bytes(source)
    if est is None:
        return cap
    return max(1, min(cap, -(-est // (16 << 20))))


def build_shingle_index(
    corpus: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Materialize the accepted corpus's inverted shingle index as a
    parquet resource — the production corpus-maintenance state.  At 100
    TB, re-shingling the corpus (read ALL text + explode) per daily
    batch is the dominant cost of :func:`ngram_jaccard_incremental`;
    the index pays it once, after which each batch touches only
    ``(id, nsh, s)`` rows (shingle strings + two ints — no document
    text, typically 1-2 orders of magnitude lighter than the corpus).

    Files are hash-clustered on the shingle (``repartition(num_files,
    s)``): each file holds a hash-slice of the shingle space, so an
    engine-side bucketed layout or future partition pruning can exploit
    it, and appends from :func:`update_shingle_index` stay uniformly
    spread.  n (the shingle width) is part of the index's identity —
    store it in the path and never mix widths in one index.

    ``num_files``: an int is the exact file count.  ``None`` (default)
    derives it from the corpus's estimated bytes (guide §6 — output
    files should be sized, not counted; :func:`_sized_file_count`), so
    a small corpus writes one full-sized file instead of 32 splinters
    (32 shuffle tasks on the write and 32 file opens on every index
    scan), while a fact-scale corpus reaches 32 files."""
    from ..sources.writers import write_table

    # Empty corpus (a freshly-seeded streaming-gate index): skip the
    # shingling pipeline and write a schema-matched empty frame — the
    # seed should cost one tiny write, not a pandas-UDF plan over zero
    # rows.  Types must match shingle_postings exactly (id as-is,
    # nsh int from F.size, s string) or the first append mixes schemas.
    if not corpus.select(F.lit(1)).limit(1).collect():
        postings = corpus.select(
            F.col(id_col).alias("id"),
            F.lit(0).cast("int").alias("nsh"),
            F.lit("").cast("string").alias("s"),
        )
        num_files = 1
    else:
        postings = shingle_postings(corpus, text_col, id_col, n)
        if num_files is None:
            num_files = _sized_file_count(corpus)
    write_table(postings.repartition(num_files, F.col("s")), path, mode=mode)


def update_shingle_index(
    accepted_new: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_files: int | None = None,
    postings: DataFrame | None = None,
) -> None:
    """Append the ACCEPTED documents of a processed batch to the
    materialized index (the write half of the daily loop: match batch
    -> drop near-dups -> append survivors' postings).  Append-only by
    design — the index is a log of accepted postings, and the caller
    owns acceptance (only feed documents that passed the dedup gate,
    or the index accumulates the very duplicates it exists to block).
    Same n as the build, or the widths silently diverge.

    ``postings``: pre-computed ``shingle_postings`` rows for this exact
    batch — pass them when the batch was already shingled for matching
    (the streaming gate), so the text is shingled once per batch, not
    once per consumer.  Must come from the same ``n`` as the index.

    ``num_files``: an int is the exact file count of this append.
    ``None`` (default) sizes it from ``accepted_new``'s estimated bytes
    (even when ``postings`` is passed), capped at 8 files per append."""
    from ..sources.writers import write_table

    if postings is None:
        postings = shingle_postings(accepted_new, text_col, id_col, n)
    if num_files is None:
        num_files = _sized_file_count(accepted_new, cap=8)
    write_table(postings.repartition(num_files, F.col("s")), path, mode="append")


def ngram_jaccard_incremental_indexed(
    spark,
    index_path: str,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 1000,
    new_postings: DataFrame | None = None,
) -> DataFrame:
    """:func:`ngram_jaccard_incremental` against a MATERIALIZED corpus
    index (:func:`build_shingle_index`) instead of the corpus itself:
    the accepted corpus is scanned ZERO times for shingling — only the
    new batch is shingled, and the stored ``(id, nsh, s)`` postings
    stream through the same shingle-keyed join.  Results are identical
    to the recompute by construction (same ``_incremental_match``, df
    cap spanning both sides); the parquet scan of the index prunes to
    the ``id, nsh, s`` columns it stores, nothing more.

    ``new_postings``: pre-computed ``shingle_postings`` rows for the
    batch, to share one shingling pass with ``update_shingle_index``
    (the streaming gate's shape).  Same ``n`` as the index, always."""
    corpus_sizes = (
        spark.read.parquet(index_path)
        .select("id", "nsh", "s")
        .withColumn("__new", F.lit(0))
    )
    if new_postings is None:
        new_postings = shingle_postings(new, text_col, id_col, n)
    new_sizes = new_postings.withColumn("__new", F.lit(1))
    return _incremental_match(
        corpus_sizes.unionByName(new_sizes), threshold, max_shingle_df
    )


def near_dup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Near-duplicate CLUSTERS: n-gram Jaccard pairs -> connected
    components -> every document labeled with the min doc id of its
    cluster (documents with no near-dup partner are their own cluster).
    The canonical-doc pick (keep ``cluster_id``) is then a trivial
    filter — the standard final stage of web-scale dedup."""
    from ..operators.graph import connected_components

    pairs = ngram_jaccard_pairs(
        df, text_col, id_col, n=n, threshold=threshold,
        max_shingle_df=max_shingle_df,
    )
    comp = connected_components(pairs, "left_id", "right_id")
    return (
        df.select(F.col(id_col).alias("id"))
        .join(comp.withColumnRenamed("vertex", "id"), "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("component", F.col("id")).alias("cluster_id"),
        )
    )


def near_dup_keep_greedy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """First-fit dedup policy: ``(id, kept)`` for every document, where
    a document is kept iff no KEPT smaller-id document is within
    ``threshold`` Jaccard (greedy maximal independent set on the
    near-dup graph — ``operators/graph.greedy_first_fit``).

    Contrast with the other two policies shipped here: cluster-canonical
    (:func:`near_dup_clusters` + min-id survivor, exactly one doc per
    connected component) under-keeps long chains (A~B~C keeps only A
    even though A and C are NOT near-dups), and the streaming gate's
    seen-anyone rule does the same one batch at a time.  First-fit is
    the retention-maximizing rule: every discarded doc has a kept
    near-dup witness, and no two kept docs are near-dups.

    A near-dup graph under ``spark.sql.autoBroadcastJoinThreshold``
    (estimated bytes) is resolved by one sweep on the driver; a larger
    one by distributed rounds of join + aggregate (see
    ``greedy_first_fit``)."""
    from ..operators.graph import greedy_first_fit

    pairs = ngram_jaccard_pairs(
        df, text_col, id_col, n=n, threshold=threshold,
        max_shingle_df=max_shingle_df,
    )
    return greedy_first_fit(
        pairs, df.select(id_col), v_col=id_col,
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (§2b-K — the MOSS local
    fingerprinting algorithm, Schleimer/Wilkerson/Aiken 2003): hash
    every POSITIONAL word k-gram (md5 — its lowercase-hex string is the
    total order, identical in both engines), slide a ``window`` over
    the hash sequence, keep each window's MINIMUM — guaranteeing that
    any shared run of at least ``window + k - 1`` words between two
    documents shares at least one selected fingerprint, while storing
    only ~1/window of the hashes.  Unlike MinHash (global random
    sample) the selection is POSITION-LOCAL, so matches localize to
    the shared span.

    Row-local pipeline via an Arrow-vectorized pandas UDF: tokenize ->
    positional k-gram md5 array -> window-minima -> distinct.  No
    shuffle at all until a consumer aggregates.  Returns distinct
    ``(id_col, fingerprint)`` rows.

    Why a UDF and not pure Columns (same documented exception as
    ``_with_shingles``): the Column formulation nested the k-gram hash
    array ``hs`` inside the window-minima ``transform`` lambda, and
    Spark evaluates higher-order-function lambdas INTERPRETED per
    element with no common-subexpression hoisting across the lambda
    boundary — the entire ``hs`` tree (T md5 calls) re-evaluated for
    every window position, O(T^2) md5 per document.  Measured 51.3s ->
    0.9s warm for 500 sf0.001 docs (8.2x cold incl. worker start),
    output verified byte-identical (`/tmp` A/B + the DuckDB oracle).
    The Python path mirrors Java ``\\s`` (`[ \\t\\n\\x0b\\f\\r]`) and
    space-only ``trim`` so the expression semantics of
    ``norm_string`` are preserved exactly."""
    from hashlib import md5 as _md5

    kk, win = int(k), int(window)

    @F.pandas_udf("array<string>")
    def winnow_udf(texts: pd.Series) -> pd.Series:
        ws = re.compile(r"[ \t\n\x0b\f\r]+")  # Java \s, matching norm_string

        def fp(t):
            if t is None:
                # Column twin: norm_string(NULL) -> NULL array -> explode
                # emits nothing.  Preserve that exactly.
                return None
            toks = ws.sub(" ", t.strip(" ").lower()).split(" ")
            ng = max(len(toks) - (kk - 1), 1)
            hs = [
                _md5(" ".join(toks[i : i + kk]).encode("utf-8")).hexdigest()
                for i in range(ng)
            ]
            nw = max(len(hs) - (win - 1), 1)
            return list(dict.fromkeys(min(hs[j : j + win]) for j in range(nw)))

        return texts.map(fp)

    base = spread(df.select(F.col(id_col), F.col(text_col).alias("__text")))
    return base.select(
        F.col(id_col), F.explode(winnow_udf("__text")).alias("fingerprint")
    ).distinct()


def winnow_match_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    window: int = 4,
    min_shared: int = 3,
    max_fingerprint_df: int | None = 1000,
) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` winnowing fingerprints
    (§2b-K): the MOSS candidate-detection join — plagiarism / template
    / shared-span discovery where a handful of position-local
    fingerprint collisions pins a common passage.

    Scale posture: the fingerprint posting self-join (inverted index —
    never all-pairs) with ONE counting aggregate; fingerprints are
    ~1/window of the k-gram hashes, so posting volume is a fraction of
    the shingle index the Jaccard family builds.  ``max_fingerprint_df``
    caps viral fingerprints (boilerplate selected by every document)
    before the self-join — same documented recall trade as the shingle
    df cap.  Returns ``(left_id, right_id, shared_fps)``,
    ``left_id < right_id``."""
    fp = winnow_fingerprints(df, text_col, id_col, k, window)
    posting = fp.select(F.col(id_col).alias("id"), F.col("fingerprint").alias("f"))
    return _posting_pair_counts(
        posting,
        ["f"],
        left=[F.col("id").alias("left_id"), "f"],
        right=[F.col("id").alias("right_id"), "f"],
        keep=F.col("left_id") < F.col("right_id"),
        keys=["left_id", "right_id"],
        max_df=max_fingerprint_df,
        count_col="shared_fps",
    ).filter(F.col("shared_fps") >= int(min_shared))


def positional_kgram_postings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """``(id, pos, h)`` positional word-k-gram md5 postings — the
    feature space of the exact-substring dedup family (row-local:
    split -> k-gram md5 array -> posexplode; docs shorter than ``k``
    tokens emit nothing).  Shared by :func:`duplicate_span_runs` and
    the streaming span gate, whose state dirs store exactly these
    rows."""
    from ..operators.joins import norm_string

    tk = F.split(norm_string(text_col), " ")
    return (
        df.select(F.col(id_col).alias("id"), tk.alias("__tk"))
        .filter(F.size("__tk") >= k)
        .select(
            "id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size("__tk") - (k - 1)),
                    lambda i: F.md5(
                        F.concat_ws(" ", F.slice(F.col("__tk"), i, F.lit(k)))
                    ),
                )
            ).alias("__p0", "h"),
        )
        .select("id", (F.col("__p0") + 1).alias("pos"), "h")
    )


def stitch_span_runs(
    left_grams: DataFrame,
    right_grams: DataFrame,
    k: int,
    min_len: int,
) -> DataFrame:
    """Maximal shared runs between two positional-k-gram posting frames
    (``(id, pos, h)`` each): equi-join on the hash, stitch DIAGONAL-
    consecutive matches (same ``lpos - rpos``) with the gaps-and-islands
    rank-difference trick, keep runs covering >= ``min_len`` tokens.
    Pairs are ``left_id < right_id`` (the caller picks which frame can
    appear on which side — for the streaming gate, right = the new
    batch, left = everything seen).  Returns ``(left_id, right_id,
    left_start, right_start, span_len)``."""
    from pyspark.sql import Window

    l = left_grams.select(
        F.col("id").alias("left_id"), F.col("pos").alias("lpos"), "h"
    )
    r = right_grams.select(
        F.col("id").alias("right_id"), F.col("pos").alias("rpos"), "h"
    )
    m = (
        l.join(r, "h")
        .filter(F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id", "lpos", "rpos")
    )
    diag = (F.col("lpos") - F.col("rpos")).alias("__diag")
    w = Window.partitionBy(
        "left_id", "right_id", F.col("lpos") - F.col("rpos")
    ).orderBy("rpos")
    runs = m.select(
        "left_id", "right_id", "lpos", "rpos", diag,
        (F.col("rpos") - F.row_number().over(w)).alias("__grp"),
    )
    return (
        runs.groupBy("left_id", "right_id", "__diag", "__grp")
        .agg(
            F.min("lpos").alias("left_start"),
            F.min("rpos").alias("right_start"),
            (F.count("*") + (k - 1)).alias("span_len"),
        )
        .filter(F.col("span_len") >= int(min_len))
        .select("left_id", "right_id", "left_start", "right_start", "span_len")
    )


def duplicate_span_runs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_len: int = 8,
    max_kgram_df: int | None = 1000,
) -> DataFrame:
    """Maximal shared token runs between document pairs (§2b-K — the
    exact-substring dedup detection step, the suffix-array family of
    Lee et al. 2022 re-expressed as a positional-k-gram posting join):
    hash every positional word k-gram, equi-join positions across
    documents, stitch DIAGONAL-consecutive matches (same
    ``lpos - rpos``) into maximal runs with the gaps-and-islands
    rank-difference trick, keep runs covering >= ``min_len`` tokens.
    A run of m consecutive k-gram matches certifies a shared span of
    ``m + k - 1`` tokens — exact, not a similarity estimate.

    Scale posture: the ONLY wide ops are the posting equi-join on the
    k-gram hash and one (pair, diagonal)-keyed window + aggregate over
    MATCHED positions (never all-pairs, never all-positions —
    unmatched k-grams exit at the join).  ``max_kgram_df`` caps viral
    k-grams (boilerplate phrases) before the join, the same documented
    recall trade as the shingle/fingerprint df caps.  Returns
    ``(left_id, right_id, left_start, right_start, span_len)`` with
    ``left_id < right_id``, positions 1-based in NORMALIZED token
    space (`operators/joins.norm_string`)."""
    grams = positional_kgram_postings(df, text_col, id_col, k)
    if max_kgram_df is not None:
        grams = drop_hot_buckets(grams, ["h"], max_kgram_df)
    return stitch_span_runs(grams, grams, k=k, min_len=min_len)


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_len: int = 8,
    max_kgram_df: int | None = 1000,
    runs: DataFrame | None = None,
) -> DataFrame:
    """The removal half of exact duplicate-span dedup (the standard
    corpus-prep step downstream of :func:`duplicate_span_runs` /
    :func:`winnow_match_pairs` detection): for every matched run the
    LOWER-id document keeps its copy and the span is excised from the
    higher-id document — one deterministic pass, no chain recomputation
    (a doc may lose a span whose twin is itself later removed from an
    even-lower-priority doc; re-run to fixpoint if that matters).

    Distributed shape: runs (already aggregated, tiny next to the
    corpus) group to ONE spans-array row per affected document; the
    surgery is then a row-local array filter — covered positions are
    flattened from the span intervals and tokens outside them survive
    in order.  Only affected documents are returned:
    ``(doc_id, n_tokens, n_removed, dedup_text)``."""
    if runs is None:
        runs = duplicate_span_runs(
            df, text_col, id_col, k=k, min_len=min_len, max_kgram_df=max_kgram_df
        )
    from ..operators.joins import norm_string

    spans = (
        runs.groupBy(F.col("right_id").alias("id"))
        .agg(
            F.array_distinct(
                F.flatten(
                    F.collect_list(
                        F.sequence(
                            F.col("right_start"),
                            F.col("right_start") + F.col("span_len") - 1,
                        )
                    )
                )
            ).alias("__covered")
        )
    )
    tk = F.split(norm_string(text_col), " ")
    kept = F.filter(
        F.col("__tk"),
        lambda t, i: ~F.array_contains(F.col("__covered"), (i + 1).cast("bigint")),
    )
    return (
        df.select(F.col(id_col).alias("id"), tk.alias("__tk"))
        .join(spans, "id")
        .select(
            F.col("id").alias(id_col),
            F.size("__tk").cast("bigint").alias("n_tokens"),
            (F.size("__tk") - F.size(kept)).cast("bigint").alias("n_removed"),
            F.array_join(kept, " ").alias("dedup_text"),
        )
    )


def self_duplicate_span_runs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_len: int = 8,
    max_kgram_df: int | None = 1000,
) -> DataFrame:
    """WITHIN-document repeated spans (the other half of Lee et al.
    2022's exact-substring dedup: a document repeating its own
    boilerplate is duplication too): positional k-gram self-matches
    inside one document (``lpos < rpos`` — the earlier occurrence is
    the keeper), stitched per (doc, diagonal) exactly like the
    cross-document runs.  A tandem repeat (period < span) is covered:
    every later occurrence's positions land on SOME qualifying run's
    right side, so the removal rule "excise covered rpos positions"
    keeps only the first copy.  Returns ``(doc_id, first_start,
    dup_start, span_len)``.

    Scale posture: the self-equi-join on (hash, id) only pairs
    positions WITHIN a document, so candidate mass is bounded by
    per-doc repetition (quadratic in a gram's within-doc count — the
    repetition_signals diagnostics flag the pathological docs first);
    the global ``max_kgram_df`` cap bounds boilerplate exactly as in
    the cross-doc join."""
    grams = positional_kgram_postings(df, text_col, id_col, k)
    if max_kgram_df is not None:
        grams = drop_hot_buckets(grams, ["h"], max_kgram_df)
    from pyspark.sql import Window

    l = grams.select("id", F.col("pos").alias("lpos"), "h")
    r = grams.select("id", F.col("pos").alias("rpos"), "h")
    m = (
        l.join(r, ["h", "id"])
        .filter(F.col("lpos") < F.col("rpos"))
        .select("id", "lpos", "rpos")
    )
    w = Window.partitionBy("id", F.col("lpos") - F.col("rpos")).orderBy("rpos")
    runs = m.select(
        "id", "lpos", "rpos",
        (F.col("lpos") - F.col("rpos")).alias("__diag"),
        (F.col("rpos") - F.row_number().over(w)).alias("__grp"),
    )
    return (
        runs.groupBy("id", "__diag", "__grp")
        .agg(
            F.min("lpos").alias("first_start"),
            F.min("rpos").alias("dup_start"),
            (F.count("*") + (k - 1)).alias("span_len"),
        )
        .filter(F.col("span_len") >= int(min_len))
        .select(F.col("id").alias(id_col), "first_start", "dup_start", "span_len")
    )


def remove_self_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_len: int = 8,
    max_kgram_df: int | None = 1000,
) -> DataFrame:
    """Excise within-document repeated spans: the earlier occurrence
    keeps, every covered LATER position is removed — the same row-local
    covered-positions surgery as :func:`remove_duplicate_spans`, fed by
    :func:`self_duplicate_span_runs`.  Returns affected documents only:
    ``(doc_id, n_tokens, n_removed, dedup_text)``."""
    runs = self_duplicate_span_runs(
        df, text_col, id_col, k=k, min_len=min_len, max_kgram_df=max_kgram_df
    ).select(
        F.col(id_col).alias("right_id"),
        F.col("dup_start").alias("right_start"),
        "span_len",
    )
    return remove_duplicate_spans(
        df, text_col=text_col, id_col=id_col, runs=runs
    )
