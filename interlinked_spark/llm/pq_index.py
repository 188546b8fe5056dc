"""Materialized IVF-PQ index lifecycle — build / append / search /
range-match over a PERSISTED quantized corpus (§2b-K scale path).

The quantization trilogy (``embeddings.pq_fit`` / ``pq_adc_top_k`` /
``ivfpq_probed_top_k``) refits codebooks and re-encodes the corpus
inside every query; at 100 TB the coded corpus + codebooks ARE the
asset.  This module gives the IVF-PQ family the same persisted
lifecycle the shingle index (``dedup.build_shingle_index``) and the LSH
vector index (``similarity.build_vector_index``) already have:

- ``{path}/coarse/``  — the coarse Lloyd centroids ``(cid, c)``
- ``{path}/books/``   — per-subspace residual PQ codebooks
  ``(s, cid, c)``
- ``{path}/codes/``   — the coded corpus ``(id, list, c0..c{m-1})``,
  hash-clustered on ``list`` so a probed search reads only its lists'
  files — m small ints per vector (8 bytes at m=8) instead of d floats
- ``{path}/meta/``    — one row pinning the geometry
  ``(coarse_k, m, k, dsub, dim)`` so append/search can NEVER encode a
  batch against different parameters than the stored corpus

Append encodes new vectors against the FROZEN stored codebooks — no
refit, the production contract (FAISS ``add`` after ``train``): the
index stays commensurate, and the cost of absorbing a batch is one
row-local encode + one partitioned parquet append.  Search reads the
stored codes; the only join is the bounded probed ``(query, list)``
side against the list-clustered codes.

Maintenance: appends accumulate one file set per batch; rewrite
``{path}/codes`` with ``sources.writers.compact_table(spark,
f"{path}/codes", cluster_cols=["list"])`` periodically — the same
OPTIMIZE half every append-only resource here has (shingle index,
LSH vector index, gate accepted tables), crash-safe staged-swap
semantics included.  Codebooks/meta are single-file and immutable,
so compaction never touches them.

Determinism: the fit is ``embeddings.ivfpq_fit``'s 6dp-lattice Lloyd
recurrence and the encode is the shared rounded-distance argmin, so an
index built today equals one built tomorrow from the same corpus — the
precondition for persisting derived state at all (same argument as
``build_vector_index``'s seeded projections).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .embeddings import _centroid_literal, ivfpq_encode_struct_col

__all__ = [
    "build_ivfpq_index",
    "append_ivfpq_index",
    "load_ivfpq_index",
    "ivfpq_index_codes",
    "ivfpq_index_search",
    "ivfpq_index_search_reranked",
    "ivfpq_index_matches",
    "build_ivfpq_token_index",
    "maxsim_index_search_reranked",
    "delete_from_ivfpq_index",
]


def _encode_cols(
    vec_col,
    coarse: list[tuple[int, list[float]]],
    books: list[list[tuple[int, list[float]]]],
) -> tuple[F.Column, list[F.Column]]:
    """``(home_list, [code_0 .. code_{m-1}])`` for one vector column —
    the row-local IVF-PQ encode: coarse argmin for the home list, then
    per-subspace argmin of the RESIDUAL slice against that subspace's
    codebook — all fused into ONE Arrow batch kernel
    (``embeddings.ivfpq_encode_struct_col``, bit-identical to the
    Column-expression composition it replaced).  Codebooks ride inside
    the kernel closure; the encode stays a narrow projection with no
    join and no shuffle (the 100-TB append is a map job)."""
    enc = ivfpq_encode_struct_col(vec_col, coarse, books)
    return enc["list"], [enc[f"c{s}"] for s in range(len(books))]


def _books_rows(books: list[list[tuple[int, list[float]]]]):
    return [
        (int(s), int(cid), [float(x) for x in c])
        for s, book in enumerate(books)
        for cid, c in book
    ]


def build_ivfpq_index(
    corpus: DataFrame,
    path: str,
    coarse_k: int = 8,
    m: int = 8,
    k: int = 16,
    coarse_iters: int = 3,
    pq_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_files: int = 8,
) -> None:
    """Fit IVF-PQ on the corpus (``embeddings.ivfpq_fit`` — coarse
    Lloyd on raw vectors, residual PQ per subspace) and persist
    codebooks + the coded corpus.  Unlike the LSH index, a PQ index
    cannot seed empty: the codebooks are DATA-DEPENDENT, so the build
    corpus is the fit sample (the production shape — FAISS ``train``
    on a warm sample, ``add`` everything after).  Raises on an empty
    corpus instead of writing an index that could never encode."""
    from ..sources.writers import write_single_file, write_table
    from .embeddings import ivfpq_fit

    spark = corpus.sparkSession
    dim_row = corpus.select(F.size(vec_col).alias("d")).limit(1).collect()
    if not dim_row or dim_row[0]["d"] is None:
        raise ValueError(
            "build_ivfpq_index: the build corpus is empty (or its first "
            "vector is NULL) — PQ codebooks are data-dependent and cannot "
            "seed from nothing; build from a warm fit sample and append "
            "the rest (the FAISS train-then-add contract)."
        )
    dim = int(dim_row[0]["d"])
    coarse, books = ivfpq_fit(
        corpus, coarse_k=coarse_k, m=m, k=k,
        coarse_iters=coarse_iters, pq_iters=pq_iters,
        vec_col=vec_col, id_col=id_col,
    )
    write_single_file(
        spark.createDataFrame(
            [(int(cid), [float(x) for x in c]) for cid, c in coarse],
            "cid int, c array<double>",
        ),
        f"{path}/coarse",
    )
    write_single_file(
        spark.createDataFrame(_books_rows(books), "s int, cid int, c array<double>"),
        f"{path}/books",
    )
    write_single_file(
        spark.createDataFrame(
            [(int(coarse_k), int(m), int(k), dim // m, dim)],
            "coarse_k int, m int, k int, dsub int, dim int",
        ),
        f"{path}/meta",
    )
    write_table(
        ivfpq_index_codes(corpus, coarse, books, id_col=id_col, vec_col=vec_col)
        .repartition(num_files, F.col("list")),
        f"{path}/codes",
    )


def ivfpq_index_codes(
    df: DataFrame,
    coarse: list[tuple[int, list[float]]],
    books: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    with_err: bool = False,
) -> DataFrame:
    """The stored-codes frame ``(id, list, c0..c{m-1})`` for a batch —
    the row-local encode against FROZEN codebooks, exposed so callers
    that already need the coded batch (the streaming gate's
    within-batch compare) can encode once and hand the frame to
    :func:`append_ivfpq_index`.

    ``with_err=True`` rides the reconstruction error out of the SAME
    Arrow pass as an ``err`` column — the streaming gate's shape: the
    drift monitor's aggregate then reads the already-checkpointed
    codes frame instead of re-encoding the batch, and
    :func:`append_ivfpq_index` drops the column before writing."""
    enc = ivfpq_encode_struct_col(vec_col, coarse, books, with_err=with_err)
    cols = [
        F.col(id_col).alias("id"),
        enc["list"].alias("list"),
        *[enc[f"c{s}"].alias(f"c{s}") for s in range(len(books))],
    ]
    if with_err:
        cols.append(enc["err"].alias("err"))
    return df.select(*cols)


def load_ivfpq_index(spark: SparkSession, path: str):
    """``(coarse, books, meta)`` from the stored index — two bounded
    collects (``coarse_k`` rows and ``m * k`` rows by construction,
    the same driver-side footprint the in-query trilogy already
    carries as literals)."""
    meta = spark.read.parquet(f"{path}/meta").first()
    coarse = [
        (int(r["cid"]), list(r["c"]))
        for r in sorted(
            spark.read.parquet(f"{path}/coarse").collect(), key=lambda r: r["cid"]
        )
    ]
    brows = spark.read.parquet(f"{path}/books").collect()
    books: list[list[tuple[int, list[float]]]] = [[] for _ in range(int(meta.m))]
    for r in sorted(brows, key=lambda r: (r["s"], r["cid"])):
        books[int(r["s"])].append((int(r["cid"]), list(r["c"])))
    return coarse, books, meta


def _check_dim(meta, batch: DataFrame, vec_col: str, caller: str) -> None:
    row = batch.select(F.size(vec_col).alias("d")).limit(1).collect()
    batch_dim = int(row[0]["d"]) if row and row[0]["d"] else None
    if batch_dim is not None and batch_dim != int(meta.dim):
        raise ValueError(
            f"{caller}: batch vectors have dim {batch_dim} but the index "
            f"was built at dim {int(meta.dim)} — encoding against the "
            "stored codebooks would silently produce garbage codes. "
            "Rebuild the index or fix the upstream embedder."
        )


def _recon_err_col(
    vec_col,
    coarse: list[tuple[int, list[float]]],
    books: list[list[tuple[int, list[float]]]],
) -> tuple[F.Column, F.Column]:
    """``(home_list, reconstruction_error)`` for one vector column —
    the squared-L2 distance between the vector and its IVF-PQ decode
    (coarse centroid + per-subspace book centroids), 6dp-rounded.
    Row-local like the encode itself; this is the quantity ADC
    approximates, measured on the vector's OWN codes.  Fused into the
    same Arrow batch kernel as the encode (``with_err=True``): the
    Column composition embedded the full encode subtree into every
    decoded term, re-evaluating it m+1 times per row."""
    enc = ivfpq_encode_struct_col(vec_col, coarse, books, with_err=True)
    return enc["list"], enc["err"]


def append_ivfpq_index(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_files: int = 4,
    codes: Optional[DataFrame] = None,
    codebooks=None,
    stats: bool = True,
    batch_seq: Optional[int] = None,
    check_dim: bool = True,
) -> Optional[dict]:
    """Encode a batch against the FROZEN stored codebooks and append
    its codes — no refit, ever: refitting would re-key every stored
    code (the whole index would need re-encoding), so the stored
    codebooks are immutable after build, exactly FAISS's
    train-then-add contract.  Append-only like the shingle/LSH
    indexes; the caller owns acceptance policy.

    ``codes``: a pre-encoded frame from :func:`ivfpq_index_codes` for
    this exact batch — pass it to skip re-encoding when the batch was
    already coded for matching (the streaming gate's shape).  It MUST
    come from this index's stored codebooks; producing it any other
    way re-introduces the parameter drift the meta exists to prevent.

    ``stats`` (the DRIFT MONITOR — frozen codebooks go stale as the
    data distribution moves, and nothing else in the lifecycle would
    ever say so): each append aggregates its batch's reconstruction
    error (mean + exact p95 of the vector-vs-decode squared L2) and
    coarse-list occupancy concentration (largest list's share of the
    batch, lists hit), appends ONE row to ``{path}/append_stats/``
    keyed by a monotone ``batch_seq``, and returns that row as a dict
    — the PSI-for-indexes analog: a rising error trend or occupancy
    collapsing into few lists is the retrain signal.  One tiny
    aggregate over a batch the append already scans; pass
    ``stats=False`` to skip, or ``codebooks`` (the preloaded triple)
    to avoid re-collecting them per batch (the streaming gate's
    shape).

    Per-batch job economics (the gate's wall clock is job count, not
    bytes): pass ``batch_seq`` (e.g. the foreachBatch batch id) to
    skip the stored-max read, ``check_dim=False`` when the SAME batch
    was already dim-checked this micro-batch (the matcher checks), and
    a ``codes`` frame carrying the encoder's ``err`` column
    (:func:`ivfpq_index_codes` ``with_err=True``) so the drift monitor
    aggregates the already-materialized frame instead of re-encoding
    the batch twice."""
    from ..sources.readers import read_parquet_if_present
    from ..sources.writers import write_table

    spark = new_vectors.sparkSession
    codes_have_err = codes is not None and "err" in codes.columns
    need_books = codes is None or (stats and not codes_have_err)
    if need_books and codebooks is None:
        codebooks = load_ivfpq_index(spark, path)
    if codebooks is not None:
        coarse, books, meta = codebooks
        if check_dim:
            _check_dim(meta, new_vectors, vec_col, "append_ivfpq_index")
    if codes is None:
        codes = ivfpq_index_codes(
            new_vectors, coarse, books, id_col=id_col, vec_col=vec_col
        )
    write_table(
        (codes.drop("err") if codes_have_err else codes).repartition(
            num_files, F.col("list")
        ),
        f"{path}/codes",
        mode="append",
    )
    if not stats:
        return None
    if codes_have_err:
        errs = codes.select(F.col("list").alias("__list"), F.col("err").alias("__err"))
    else:
        home, err = _recon_err_col(vec_col, coarse, books)
        errs = new_vectors.select(home.alias("__list"), err.alias("__err"))
    # ONE aggregation job for the whole stats row (was two passes each
    # re-encoding the batch): rollup gives per-list rows (occupancy)
    # plus the grand-total row (n, mean, exact p95) in a single action;
    # every 6dp round stays a Spark HALF_UP round, same as before.
    agg = (
        errs.rollup("__list")
        .agg(
            F.count("*").alias("__n"),
            F.sum("__err").alias("__se"),
            F.expr("percentile(__err, 0.95)").alias("__p95"),
            F.grouping("__list").alias("__g"),
        )
        .agg(
            F.max(F.when(F.col("__g") == 1, F.col("__n"))).alias("n"),
            F.round(
                F.max(F.when(F.col("__g") == 1, F.col("__se")))
                / F.max(F.when(F.col("__g") == 1, F.col("__n"))),
                6,
            ).alias("mean_err"),
            F.round(F.max(F.when(F.col("__g") == 1, F.col("__p95"))), 6).alias(
                "p95_err"
            ),
            F.round(
                F.max(F.when(F.col("__g") == 0, F.col("__n")))
                / F.max(F.when(F.col("__g") == 1, F.col("__n"))),
                6,
            ).alias("max_list_frac"),
            F.sum(F.when(F.col("__g") == 0, 1)).cast("int").alias("n_lists_hit"),
        )
        .first()
    )
    if batch_seq is not None:
        seq = int(batch_seq)
    else:
        prev = read_parquet_if_present(spark, f"{path}/append_stats")
        seq = 0 if prev is None else int(prev.agg(F.max("batch_seq")).first()[0]) + 1
    row = {
        "batch_seq": seq,
        "n": int(agg["n"]),
        "mean_err": float(agg["mean_err"]),
        "p95_err": float(agg["p95_err"]),
        "max_list_frac": float(agg["max_list_frac"]),
        "n_lists_hit": int(agg["n_lists_hit"]),
    }
    write_table(
        spark.createDataFrame(
            [tuple(row.values())],
            "batch_seq int, n bigint, mean_err double, p95_err double, "
            "max_list_frac double, n_lists_hit int",
        ),
        f"{path}/append_stats",
        mode="append",
    )
    return row


def _probed_queries(
    queries: DataFrame,
    coarse: list[tuple[int, list[float]]],
    n_probe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """``(query_id, __qv, list)`` — each query exploded to its
    ``n_probe`` nearest coarse lists (6dp-rounded distance, lowest-cid
    ties), a row-local sort over the broadcast centroid literal — the
    same probe ranking ``ivfpq_probed_top_k`` computes."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scored = F.transform(
        _centroid_literal(coarse),
        lambda s: F.struct(
            F.round(
                F.aggregate(
                    F.zip_with(v, s["c"], lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ).alias("d"),
            s["cid"].alias("cid"),
        ),
    )
    n_probe = min(n_probe, len(coarse))
    return queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.explode(
            F.transform(F.slice(F.array_sort(scored), 1, n_probe), lambda p: p["cid"])
        ).alias("list"),
    )


def _adc_lut_col(book: list[tuple[int, list[float]]], qs_col: str) -> F.Column:
    """The ADC lookup-table column for ONE subspace: per book centroid
    (cid-ascending, matching ``element_at(lut, code + 1)``), the
    6dp-rounded squared-L2 distance to the staged query slice — the
    IDENTICAL zip_with/0.0-seeded-aggregate/round expression the
    per-candidate fold evaluated, so lookups are bit-identical.  A
    named def so the transform lambda stays UNARY (a two-parameter
    lambda would make ``transform`` pass the element index as the
    second argument)."""
    return F.transform(
        _centroid_literal(book),
        lambda e: F.round(
            F.aggregate(
                F.zip_with(F.col(qs_col), e["c"], lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ),
    )


def _adc_scored(
    coded: DataFrame,
    probed: DataFrame,
    coarse: list[tuple[int, list[float]]],
    books: list[list[tuple[int, list[float]]]],
) -> DataFrame:
    """``(query_id, neighbor_id, adc)`` — the probed join against a
    stored-codes frame plus the ADC fold: residualize the query
    against the probed list's centroid, per subspace take the exact
    distance to the DECODED code centroid (6dp-rounded, summed in
    subspace order — the engine-portable convention shared with
    ``ivfpq_probed_top_k``).  The broadcast side is the bounded probed
    query set; the codes side stays list-clustered parquet."""
    dsub = len(books[0][0][1])
    m = len(books)
    # Classic ADC lookup tables (Jégou et al. 2011 Alg. "ADC"): each
    # rounded per-subspace term depends only on (query, list, code), so
    # compute all m*k of them ONCE per probed (query, list) row and let
    # every candidate pay m array lookups instead of m interpreted
    # zip_with/aggregate folds over dsub floats (the folds run
    # interpreted, outside codegen, and dominated the matcher at
    # thousands of candidates per probed list).  Each LUT entry is the
    # IDENTICAL expression the per-candidate fold evaluated — same
    # zip_with element order, same 0.0-seeded add chain, same 6dp round
    # — so looked-up sums are bit-identical to the old per-row folds.
    # The residual and its subspace slices stage into plain columns
    # first: a free subexpression inside a transform lambda re-evaluates
    # per element.
    qresid = F.zip_with(
        F.col("__qv"),
        F.element_at(_centroid_literal(coarse), F.col("list") + 1)["c"],
        lambda x, c: x.cast("double") - c,
    )
    staged = probed.select("query_id", "list", qresid.alias("__qr")).select(
        "query_id",
        "list",
        *[F.slice("__qr", s * dsub + 1, dsub).alias(f"__qs{s}") for s in range(m)],
    )
    luts = staged.select(
        "query_id",
        "list",
        *[
            _adc_lut_col(book, f"__qs{s}").alias(f"__lut{s}")
            for s, book in enumerate(books)
        ],
    )
    joined = coded.withColumnRenamed("id", "neighbor_id").join(
        F.broadcast(luts), "list"
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    terms = [
        F.element_at(F.col(f"__lut{s}"), F.col(f"c{s}") + 1) for s in range(m)
    ]
    adc = terms[0]
    for t in terms[1:]:
        adc = adc + t
    return joined.withColumn("adc", F.round(adc, 6)).select(
        "query_id", "neighbor_id", "adc"
    )


def ivfpq_index_search(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    allowed: Optional[DataFrame] = None,
) -> DataFrame:
    """Top-k ANN routed through the STORED index: probe ``n_probe``
    coarse lists per query, ADC-score only those lists' stored codes,
    per-query top-k window.  The corpus read is m bytes/vector from
    the list-clustered codes parquet — at 100 TB the scan prunes to
    the probed lists' files and never touches raw vectors.  Returns
    ``(query_id, neighbor_id, adc)``, the ``ivfpq_probed_top_k``
    contract against persisted state.

    ``allowed``: optional FILTERED-ANN predicate — a frame whose
    ``id_col`` values are the searchable subset (the metadata-filter
    production shape: "nearest docs WHERE lang='en'").  Applied as a
    semi-join on the CODES side BEFORE scoring, so excluded vectors
    never cost an ADC fold and the per-query top-k is taken over
    eligible candidates only (post-filtering top-k instead would
    return < k rows whenever the filter bites inside the top-k)."""
    from ..operators.windows import top_k_per_group

    coarse, books, meta = load_ivfpq_index(spark, path)
    _check_dim(meta, queries, vec_col, "ivfpq_index_search")
    coded = spark.read.parquet(f"{path}/codes")
    if allowed is not None:
        coded = coded.join(
            allowed.select(F.col(id_col).alias("id")), "id", "semi"
        )
    probed = _probed_queries(queries, coarse, n_probe, id_col, vec_col)
    scored = _adc_scored(coded, probed, coarse, books)
    return top_k_per_group(
        scored, ["query_id"], [F.col("adc").asc(), F.col("neighbor_id").asc()], k
    )


def ivfpq_index_search_reranked(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    vectors: DataFrame,
    k: int = 5,
    c: int = 20,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    allowed: Optional[DataFrame] = None,
) -> DataFrame:
    """Two-stage retrieval — the standard production composition over
    a quantized index: the STORED codes produce a ``c``-candidate
    shortlist per query by ADC (recall stage, m bytes per candidate),
    then ONLY those ``|queries| * c`` candidates re-rank by the EXACT
    squared-L2 distance against their raw vectors (precision stage).
    The big corpus scan never touches raw vectors; the re-rank join
    reads exactly the shortlist's rows from ``vectors`` (id-keyed —
    broadcastable shortlist at any corpus size).

    Ordering contract: stage 1 is the deterministic ``(adc, id)``
    top-c; stage 2 re-ranks the SAME set by ``(l2, id)`` — both
    6dp-rounded folds, so the result is engine-portable.  Returns
    ``(query_id, neighbor_id, l2)``."""
    from ..operators.windows import top_k_per_group

    cands = ivfpq_index_search(
        spark, path, queries, k=c, n_probe=n_probe,
        id_col=id_col, vec_col=vec_col, allowed=allowed,
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nv")
    )
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
    scored = (
        cands.join(v, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn("l2", l2)
        .select("query_id", "neighbor_id", "l2")
    )
    return top_k_per_group(
        scored, ["query_id"], [F.col("l2").asc(), F.col("neighbor_id").asc()], k
    )


def ivfpq_index_matches(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    adc_threshold: float,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coded_extra: Optional[DataFrame] = None,
    extra_id_lt: bool = False,
    codebooks=None,
) -> DataFrame:
    """Range matches for a batch against the stored index:
    ``(new_id, match_id, adc)`` for every stored vector within
    ``adc_threshold`` of a batch vector, restricted to the batch
    vector's ``n_probe`` probed lists — the streaming gate's decision
    set (8 bytes of state read per candidate).

    ``coded_extra``: an additional codes frame to match against (the
    gate passes the batch's OWN codes for within-batch pairs); with
    ``extra_id_lt`` the extra side only matches ``match_id < new_id``
    (first-seen-wins inside one batch).

    ``codebooks``: the preloaded ``(coarse, books, meta)`` triple from
    :func:`load_ivfpq_index` — codebooks are IMMUTABLE after build, so
    a per-batch caller (the streaming gate) loads once and passes them
    through instead of paying two collects + a meta read per batch."""
    if codebooks is not None:
        coarse, books, meta = codebooks
    else:
        coarse, books, meta = load_ivfpq_index(spark, path)
    _check_dim(meta, batch, vec_col, "ivfpq_index_matches")
    probed = _probed_queries(batch, coarse, n_probe, id_col, vec_col)
    coded = spark.read.parquet(f"{path}/codes")
    scored = _adc_scored(coded, probed, coarse, books)
    if coded_extra is not None:
        extra = _adc_scored(coded_extra, probed, coarse, books)
        if extra_id_lt:
            extra = extra.filter(F.col("neighbor_id") < F.col("query_id"))
        scored = scored.unionByName(extra)
    return scored.filter(F.col("adc") <= F.lit(float(adc_threshold))).select(
        F.col("query_id").alias("new_id"),
        F.col("neighbor_id").alias("match_id"),
        "adc",
    )


def build_ivfpq_token_index(
    corpus_tokens: DataFrame,
    path: str,
    n_slices: int,
    coarse_k: int = 8,
    m: int = 2,
    k: int = 16,
    coarse_iters: int = 3,
    pq_iters: int = 2,
    num_files: int = 8,
) -> None:
    """MULTI-VECTOR variant of the stored index for late-interaction
    retrieval: the corpus is a token frame ``(id, tok, tv)`` (one row
    per token vector, ``similarity.explode_token_vectors``'s contract)
    and every TOKEN vector is coded into the same
    ``coarse/books/codes/meta`` layout, keyed by the flat token id
    ``id * n_slices + tok`` — exactly how ColBERT deployments store
    token vectors in a FAISS index with an embedding->passage id
    mapping, except here the mapping is arithmetic (``doc = tid //
    n_slices``) so no side table is needed.  ``meta_tokens/`` pins
    ``n_slices`` next to the geometry meta so search can NEVER decode
    doc ids against a different slicing than the stored corpus.

    Reuses :func:`build_ivfpq_index` wholesale: fit, encode, and the
    list-clustered codes parquet are identical machinery — the token
    index IS an IVF-PQ index whose "vectors" happen to be tokens."""
    from ..sources.writers import write_single_file

    flat = corpus_tokens.select(
        (F.col("id").cast("long") * n_slices + F.col("tok")).alias("vec_id"),
        F.col("tv").alias("embedding"),
    )
    build_ivfpq_index(
        flat, path, coarse_k=coarse_k, m=m, k=k,
        coarse_iters=coarse_iters, pq_iters=pq_iters, num_files=num_files,
    )
    write_single_file(
        corpus_tokens.sparkSession.createDataFrame(
            [(int(n_slices),)], "n_slices int"
        ),
        f"{path}/meta_tokens",
    )


def maxsim_index_search_reranked(
    spark: SparkSession,
    path: str,
    query_tokens: DataFrame,
    corpus_tokens: DataFrame,
    k: int = 5,
    cand_per_token: int = 8,
    n_probe: int = 3,
    round_dp: int = 6,
) -> DataFrame:
    """MaxSim's production composition (the shape
    ``similarity.maxsim_top_k``'s docstring promises): stage 1 runs
    ANN over the STORED token codes — each query token probes its
    ``n_probe`` coarse lists, ADC-scores only those lists' stored
    token codes (m bytes per candidate token, raw vectors never
    touched), and keeps its ``cand_per_token`` best token matches;
    the candidate DOC set per query is the union of those matches'
    decoded doc ids (ColBERT's candidate generation).  Stage 2
    re-ranks ONLY the ``(query, candidate_doc)`` pairs by EXACT
    MaxSim over raw token vectors — sum over query tokens of the max
    6dp-rounded cosine, ``maxsim_top_k``'s arithmetic verbatim.

    At 100 TB the stage-1 scan prunes to the probed lists' files of
    the list-clustered codes parquet and the stage-2 exact reads are
    shortlist-sized (|queries| * n_slices * cand_per_token pairs,
    broadcastable at any corpus size).  Self-matches are excluded at
    DOC granularity (``tid // n_slices``), not token granularity —
    a query must never retrieve its own document through a different
    token.  Returns ``(query_id, neighbor_id, maxsim)``,
    descending-score top-k with ascending-id ties."""
    from ..operators.windows import top_k_per_group
    from .similarity import cosine_similarity

    coarse, books, meta = load_ivfpq_index(spark, path)
    n_slices = int(
        spark.read.parquet(f"{path}/meta_tokens").first()["n_slices"]
    )
    qflat = query_tokens.select(
        (F.col("id").cast("long") * n_slices + F.col("tok")).alias("vec_id"),
        F.col("tv").alias("embedding"),
    )
    _check_dim(meta, qflat, "embedding", "maxsim_index_search_reranked")
    probed = _probed_queries(qflat, coarse, n_probe, "vec_id", "embedding")
    coded = spark.read.parquet(f"{path}/codes")
    scored = _adc_scored(coded, probed, coarse, books)
    cands = scored.filter(
        F.floor(F.col("query_id") / n_slices)
        != F.floor(F.col("neighbor_id") / n_slices)
    )
    shortlist = top_k_per_group(
        cands,
        ["query_id"],
        [F.col("adc").asc(), F.col("neighbor_id").asc()],
        cand_per_token,
    )
    pairs = shortlist.select(
        F.floor(F.col("query_id") / n_slices).cast("long").alias("__qdoc"),
        F.floor(F.col("neighbor_id") / n_slices).cast("long").alias("__ndoc"),
    ).distinct()
    q = query_tokens.select(
        F.col("id").cast("long").alias("__qdoc"),
        F.col("tok").alias("__qt"),
        F.col("tv").alias("__qv"),
    )
    c = corpus_tokens.select(
        F.col("id").cast("long").alias("__ndoc"),
        F.col("tv").alias("__cv"),
    )
    pertok = (
        c.join(F.broadcast(pairs), "__ndoc")
        .join(F.broadcast(q), "__qdoc")
        .withColumn(
            "__cos",
            F.round(cosine_similarity(F.col("__qv"), F.col("__cv")), round_dp),
        )
        .groupBy("__qdoc", "__ndoc", "__qt")
        .agg(F.max("__cos").alias("__best"))
    )
    rescored = pertok.groupBy("__qdoc", "__ndoc").agg(
        F.round(F.sum("__best"), round_dp).alias("maxsim")
    )
    return top_k_per_group(
        rescored.select(
            F.col("__qdoc").alias("query_id"),
            F.col("__ndoc").alias("neighbor_id"),
            "maxsim",
        ),
        ["query_id"],
        [F.col("maxsim").desc(), F.col("neighbor_id").asc()],
        k,
    )


def delete_from_ivfpq_index(
    spark: SparkSession,
    path: str,
    ids: DataFrame,
    id_col: str = "vec_id",
    compact: bool = False,
    num_files: int = 8,
) -> None:
    """Takedown / right-to-erasure over the stored index: remove the
    listed vectors' rows from ``{path}/codes`` — the GDPR-shaped
    operation every persisted 100-TB index needs.  ``coarse/books/
    meta`` stay FROZEN: codebooks are statistics over the historical
    fit sample, not per-row data, so deletion never touches them (the
    same reason append never refits) — a deleted vector's influence on
    a centroid is not personal data retention any more than a dropped
    row's influence on a historical AVG is.  Composition of the
    generic lifecycle primitives: ``sources.writers.delete_rows``
    (anti-join rewrite through the crash-safe staged swap) plus an
    optional ``compact_table`` ride-along (``compact=True``) so a
    takedown batch can fold the file-count maintenance into its
    rewrite instead of paying two swaps.  Search needs no code change
    to respect deletion — it reads ``codes/``, and the rows are gone;
    append keeps working against the untouched codebooks."""
    from ..sources.writers import compact_table, delete_rows

    delete_rows(
        spark, f"{path}/codes",
        ids.select(F.col(id_col).alias("id")), ["id"],
    )
    if compact:
        compact_table(
            spark, f"{path}/codes", num_files=num_files,
            cluster_cols=["list"],
        )
