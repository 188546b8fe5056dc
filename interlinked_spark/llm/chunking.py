"""Content-defined chunking (SURVEY.md §2b-K extension): split documents
at ROLLING-HASH boundaries instead of fixed offsets, so an insertion
near the top of a document shifts at most one chunk's boundary — the
property that makes chunk-level dedup across document versions work
(fixed-size chunking would re-chunk everything after the edit).

The boundary rule is deliberately simple and SQL-recomputable (the
DuckDB oracle re-derives every boundary): a chunk ends after character
``i`` (1-based, ``i >= window``) iff

    H(i) = sum_{j=0}^{window-1} code(c[i-j]) * base^j   (int64)

is divisible by ``divisor``.  ``divisor`` sets the expected chunk size;
``window`` the context that determines a boundary.  Codes are Unicode
code points (the corpus oracles pin ASCII, where Spark/Python/DuckDB
agree byte-for-byte).

One Arrow pass per partition, no shuffle — chunking is per-document.
At 100 TB the output (id, idx, len, md5) is what downstream exact
chunk-dedup groups on; chunk TEXT never needs to leave the pass.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame, functions as F


def content_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    divisor: int = 64,
    base: int = 31,
) -> DataFrame:
    """``(id, chunk_idx, chunk_len, chunk_md5)`` — one row per
    content-defined chunk.  Documents shorter than ``window`` are a
    single chunk; the tail after the last boundary is always a chunk.
    """
    import numpy as np

    kernel = np.array([base**j for j in range(window)], dtype=np.int64)

    @F.pandas_udf("array<struct<chunk_idx:int,chunk_len:int,chunk_md5:string>>")
    def chunk_udf(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            n = len(t)
            if n == 0:
                out.append([])
                continue
            codes = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(
                np.int64
            )
            cuts: list[int] = []
            if n >= window:
                # H[i] (0-based end i >= window-1) via direct convolution:
                # np.convolve flips the kernel, giving sum codes[i-j]*base^j.
                h = np.convolve(codes, kernel)[window - 1 : n]
                cuts = (np.nonzero(h % divisor == 0)[0] + window).tolist()
            if not cuts or cuts[-1] != n:
                cuts.append(n)
            chunks = []
            prev = 0
            for idx, end in enumerate(cuts):
                piece = t[prev:end]
                chunks.append(
                    (idx, end - prev, hashlib.md5(piece.encode()).hexdigest())
                )
                prev = end
            out.append(chunks)
        return pd.Series(out)

    return (
        df.filter(F.length(F.col(text_col)) > 0)
        .select(F.col(id_col).alias("id"), chunk_udf(F.col(text_col)).alias("__ch"))
        .select("id", F.explode("__ch").alias("c"))
        .select(
            "id",
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.col("c.chunk_len").alias("chunk_len"),
            F.col("c.chunk_md5").alias("chunk_md5"),
        )
    )


def shared_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    divisor: int = 64,
) -> DataFrame:
    """Chunk-level dedup index: ``(chunk_md5, chunk_len, n_docs,
    n_occurrences)`` for chunks appearing in MORE than one document —
    the cross-version/boilerplate overlap a storage- or span-level dedup
    pass removes.  GroupBy on the 128-bit chunk hash; chunk text never
    shuffles."""
    ch = content_chunks(df, text_col, id_col, window=window, divisor=divisor)
    return (
        ch.groupBy("chunk_md5", "chunk_len")
        .agg(
            F.countDistinct("id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") > 1)
    )


def dup_span_fraction(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    divisor: int = 64,
) -> DataFrame:
    """Per-document duplicate-SPAN fraction: the share of a document's
    characters lying in chunks whose content also appears in at least
    one OTHER document — the span-level boilerplate metric a quality
    gate thresholds on (a page that is 90% shared nav/footer text is
    template spam even if its shingle-level Jaccard to any single other
    page is low).  Within-document repeats deliberately do not count
    (that is ``repetition_signals``' job).

    Chunk rows are checkpointed once and feed both the per-hash doc
    count and the join-back; both shuffles move (md5, len, id) only.
    Returns ``(doc_id, total_chars, dup_chars, dup_span_frac)``."""
    ch = content_chunks(
        df, text_col, id_col, window=window, divisor=divisor
    ).localCheckpoint(eager=False)
    counts = ch.groupBy("chunk_md5").agg(F.countDistinct("id").alias("__nd"))
    dup_len = F.when(F.col("__nd") > 1, F.col("chunk_len")).otherwise(F.lit(0))
    return (
        ch.join(counts, "chunk_md5")
        .groupBy("id")
        .agg(
            F.sum("chunk_len").cast("long").alias("total_chars"),
            F.sum(dup_len).cast("long").alias("dup_chars"),
        )
        .withColumn(
            "dup_span_frac",
            F.round(F.col("dup_chars") / F.col("total_chars"), 6),
        )
        .select(
            F.col("id").alias(id_col), "total_chars", "dup_chars", "dup_span_frac"
        )
    )
