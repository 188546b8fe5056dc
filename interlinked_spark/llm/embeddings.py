"""Embedding-matrix operators (SURVEY.md §2b-K extensions).

``pca_project`` is distributed PCA by the covariance method — the
standard shape for tall-skinny embedding matrices (n rows >> d dims):

1. ONE Arrow pass computes per-batch partials ``(n, sum_x, X^T X)``;
2. the driver reduces the tiny partials (O(partitions * d^2) floats —
   for d=32 that is ~4 KB per partition, nothing like collecting rows)
   and eigendecomposes the d x d covariance with numpy;
3. projection onto the top-k components is a second Arrow pass with the
   (d x k) component matrix shipped in the UDF closure.

Eigenvector sign is fixed deterministically (largest-magnitude loading
positive), so projections are reproducible run-to-run.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pca_fit(df: DataFrame, vec_col: str = "embedding", k: int = 8):
    """Fit the covariance-method PCA: one Arrow partials pass, driver
    ``eigh`` on the d x d reduction.  Returns ``(mean, components,
    eigenvalues, n_rows)`` as plain Python lists/ints — the fit state a
    projection (or a verification query) broadcasts."""
    import numpy as np

    first = df.select(vec_col).first()
    if first is None:
        raise ValueError("pca_fit on an empty DataFrame")
    d_dim = len(first[0])
    if not 1 <= k <= d_dim:
        raise ValueError(f"k must be in [1, {d_dim}], got {k}")

    def partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                [{"n": len(X), "s": X.sum(axis=0).tolist(), "g": (X.T @ X).ravel().tolist()}]
            )

    parts = df.select(vec_col).mapInPandas(partials, "n long, s array<double>, g array<double>").collect()
    n = sum(p.n for p in parts)
    if n < 2:
        raise ValueError("pca_fit needs at least 2 rows")
    s = np.sum([np.asarray(p.s) for p in parts], axis=0)
    gram = np.sum([np.asarray(p.g).reshape(d_dim, d_dim) for p in parts], axis=0)
    mean = s / n
    cov = (gram - n * np.outer(mean, mean)) / (n - 1)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order]
    for j in range(comps.shape[1]):  # deterministic sign
        if comps[np.argmax(np.abs(comps[:, j])), j] < 0:
            comps[:, j] = -comps[:, j]
    return mean.tolist(), comps.tolist(), vals[order].tolist(), n


def pca_project(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    fit=None,
) -> DataFrame:
    """Project each vector onto the top-``k`` principal components of
    the column's covariance.  Returns ``(id, pc: array<double>)``.
    Pass a precomputed :func:`pca_fit` result to skip the partials
    pass."""
    mean_l, comps_l, _vals, _n = fit if fit is not None else pca_fit(df, vec_col, k)

    @F.pandas_udf("array<double>")
    def project(vs: pd.Series) -> pd.Series:
        import numpy as _np

        M = _np.asarray(comps_l)
        mu = _np.asarray(mean_l)
        return vs.map(lambda v: ((_np.asarray(v, dtype=_np.float64) - mu) @ M).tolist())

    return df.select(F.col(id_col).alias("id"), project(vec_col).alias("pc"))


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-vector int8 quantization (§2b-K storage path): min/max range
    scaling to 0..255 codes — 4x smaller than float32 on the wire and
    at rest, which at 100 TB of embeddings is the difference between
    one storage tier and the next.  Returns ``(id, q_min, q_scale,
    codes, max_abs_err, mean_abs_err)``: everything needed to
    dequantize (``q_min + code * q_scale``) plus the reconstruction
    error actually incurred (bounded by ``q_scale / 2``).

    Stepwise column materialization matters here: inlining ``mn`` /
    ``scale`` directly into the nested lambdas duplicates their whole
    subtree at every reference (HOF lambdas defeat common-subexpression
    elimination) — measured 5.1s vs 0.19s at sf0.1 for identical
    results.  One narrow projection, no shuffle, SQL-recomputable
    bit-for-bit (the oracle re-derives codes and errors; the rounding
    rule ``floor(t + 0.5)`` is engine-portable, unlike banker's
    rounding).  Degenerate constant vectors quantize to code 0 with
    scale 0."""
    t = df.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda v: v.cast("double")).alias("__x"),
    )
    t = t.withColumn("__mn", F.array_min("__x"))
    t = t.withColumn("__scale", (F.array_max("__x") - F.col("__mn")) / F.lit(255.0))
    t = t.withColumn(
        "codes",
        F.transform(
            F.col("__x"),
            lambda v: F.when(
                F.col("__scale") > 0,
                F.floor((v - F.col("__mn")) / F.col("__scale") + F.lit(0.5)),
            )
            .otherwise(F.lit(0))
            .cast("int"),
        ),
    )
    t = t.withColumn(
        "__deq",
        F.transform(
            F.col("codes"), lambda c: F.col("__mn") + c.cast("double") * F.col("__scale")
        ),
    )
    t = t.withColumn("__err", F.zip_with(F.col("__x"), F.col("__deq"), lambda a, b: F.abs(a - b)))
    return t.select(
        "id",
        F.round(F.col("__mn"), 6).alias("q_min"),
        F.round(F.col("__scale"), 9).alias("q_scale"),
        "codes",
        F.round(F.array_max("__err"), 6).alias("max_abs_err"),
        F.round(
            F.aggregate("__err", F.lit(0.0), lambda a, v: a + v) / F.size("__x"), 6
        ).alias("mean_abs_err"),
    )


def _centroid_literal(centroids: list[tuple[int, list[float]]]) -> F.Column:
    """``array<struct<cid:int, c:array<double>>>`` literal for a small
    (k x d) centroid set — k*d scalar literals, evaluated row-local so
    the assignment step is a narrow projection with NO join and NO
    shuffle.

    Built as ONE parsed SQL expression, not k*d nested ``F.lit`` calls:
    each Column constructor is a py4j round-trip, and at k=8 x d=64
    that's ~520 driver<->JVM hops PER construction (~2 s each, paid
    once per Lloyd round) — measured 25 s -> 3 s on the 3-round sf0.1
    fit after the rewrite.  Float repr round-trips exactly and the
    ``D`` suffix pins the SQL literal to DOUBLE."""
    parts = ", ".join(
        "named_struct('cid', {cid}, 'c', array({cs}))".format(
            cid=int(cid), cs=", ".join(f"{float(x)!r}D" for x in c)
        )
        for cid, c in centroids
    )
    return F.expr(f"array({parts})")


def _assign_cols(vec_col, centroids) -> tuple[F.Column, F.Column]:
    """(cluster_id, sq_dist) columns: argmin over the centroid literal.

    Squared distance is a sequential ``aggregate(zip_with(...))`` fold
    (index order — the same IEEE reduction DuckDB's ``list_sum`` over a
    ``list_transform(range(...))`` performs), rounded to 6dp before the
    argmin so knife-edge reduction noise cannot flip an assignment;
    ties break on the lower centroid id via struct ordering.
    ``vec_col`` may be a column name or an array Column (the PQ encoder
    passes per-subspace slices)."""
    v = F.transform(
        F.col(vec_col) if isinstance(vec_col, str) else vec_col,
        lambda x: x.cast("double"),
    )
    scored = F.transform(
        _centroid_literal(centroids),
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
    best = F.array_min(scored)
    return best["cid"], best["d"]


# --- Arrow-vectorized twin of ``_assign_cols`` ----------------------
#
# The Column argmin above evaluates INTERPRETED: higher-order functions
# never enter whole-stage codegen, so every row pays a k x d fold of
# boxed lambda dispatch — and composed encoders (coarse argmin feeding
# residual slices feeding per-subspace argmins) re-evaluate embedded
# subtrees per reference.  Measured 23.8s for a 1600-vector x 64-dim
# IVF-PQ encode at sf0.1 — pure expression-interpretation overhead.
# The kernel below replays the SAME arithmetic in the same IEEE order
# (sequential per-dim accumulation, HALF_UP 6dp rounding, lowest-cid
# ties) on float64 numpy, so assignments are bit-identical while the
# per-row cost drops to a vectorized flop.


def _centroid_matrix(centroids):
    """``(cids, C)`` with rows sorted ascending by cid so that
    ``np.argmin``'s first-minimum semantics reproduce the struct
    ordering tiebreak (lowest cid wins) exactly."""
    import numpy as np

    cs = sorted(centroids, key=lambda t: int(t[0]))
    return [int(c) for c, _ in cs], np.array(
        [v for _, v in cs], dtype=np.float64
    )


def _round6_np(a):
    """Elementwise HALF_UP rounding to 6dp of a float64 array, equal to
    Spark's ``round(x, 6)`` (scala ``BigDecimal(x)`` = shortest-repr
    decimal, ``setScale(6, HALF_UP)``).  Fast path: scaled floor/ceil,
    valid whenever the scaled value is provably not on a rounding
    boundary; boundary-adjacent values (where the float64 ``x * 1e6``
    error could flip the decision) fall back to exact decimal
    arithmetic on ``repr(x)`` — the same shortest round-trip decimal
    ``BigDecimal.valueOf`` starts from."""
    import numpy as np

    y = a * 1e6
    with np.errstate(invalid="ignore"):
        out = np.where(y >= 0, np.floor(y + 0.5), np.ceil(y - 0.5)) / 1e6
        near = np.abs(y - np.floor(y) - 0.5) <= (np.abs(y) * 1e-13 + 1e-7)
    if near.any():
        from decimal import ROUND_HALF_UP, Decimal

        six = Decimal("0.000001")
        flat, oflat = a.ravel(), out.ravel()
        for i in np.nonzero(near.ravel())[0]:
            oflat[i] = float(
                Decimal(repr(float(flat[i]))).quantize(six, ROUND_HALF_UP)
            )
        out = oflat.reshape(a.shape)
    return out


def _sqdist_np(X, C):
    """(n, k) squared distances accumulated dim-by-dim — the identical
    IEEE add order as the Column fold (``acc + (a-b)^2`` in index
    order, acc starting 0.0), so results match bit-for-bit."""
    import numpy as np

    acc = np.zeros((X.shape[0], C.shape[0]))
    for j in range(X.shape[1]):
        diff = X[:, j, None] - C[None, :, j]
        acc += diff * diff
    return acc


def _assign_np(X, cids, C):
    """``(cid_idx_array, rounded_min_dist)`` for a dense float64 batch:
    round the per-centroid distances to 6dp, argmin (first minimum =
    lowest cid after ``_centroid_matrix`` sorting)."""
    import numpy as np

    d6 = _round6_np(_sqdist_np(X, C))
    idx = np.argmin(d6, axis=1)
    return idx, d6[np.arange(len(idx)), idx]


def _assign_series(vs: pd.Series, cids, C):
    """Per-batch assignment over a pandas Series of vectors; returns
    (cid list, dist list) with None propagated for NULL vectors (the
    Column twin yields NULL through the fold for those rows)."""
    import numpy as np

    mask = vs.notna()
    cid_out = [None] * len(vs)
    d_out = [None] * len(vs)
    if mask.any():
        X = np.vstack(
            [np.asarray(v, dtype=np.float64) for v in vs[mask.to_numpy()]]
        )
        idx, dist = _assign_np(X, cids, C)
        for pos, i, dd in zip(np.nonzero(mask.to_numpy())[0], idx, dist):
            cid_out[pos] = int(cids[i])
            d_out[pos] = float(dd)
    return cid_out, d_out


def _assign_struct_col(vec_col, centroids) -> F.Column:
    """``struct<cid:int, d:double>`` column — the vectorized drop-in
    for :func:`_assign_cols` on per-row hot paths (fit scans, corpus
    encodes).  ``vec_col`` may be a name or an array Column (subspace
    slices); query-side one-row frames can keep the Column twin."""
    cids, C = _centroid_matrix(centroids)

    @F.pandas_udf("struct<cid:int,d:double>")
    def _assign_udf(vs: pd.Series) -> pd.DataFrame:
        cid_out, d_out = _assign_series(vs, cids, C)
        return pd.DataFrame(
            {"cid": pd.array(cid_out, dtype="Int32"), "d": d_out}
        )

    return _assign_udf(F.col(vec_col) if isinstance(vec_col, str) else vec_col)


def _pq_codes_np(X, book_mats, offset=0, with_err=False):
    """Per-subspace argmin codes for a dense batch ``X`` (raw vectors
    or residuals), slicing ``dsub`` dims per book starting at
    ``offset``.  With ``with_err`` also returns the squared-L2
    reconstruction error accumulated subspace-by-subspace, dim order
    within a subspace — the exact fold order of the Column twins."""
    import numpy as np

    dsub = book_mats[0][1].shape[1]
    codes, err = [], None
    for s, (bcids, B) in enumerate(book_mats):
        lo = offset + s * dsub
        sub = X[:, lo : lo + dsub]
        idx, _ = _assign_np(sub, bcids, B)
        codes.append(np.asarray(bcids, dtype=np.int64)[idx])
        if with_err:
            dec = B[idx]
            acc = np.zeros(len(X))
            for j in range(dsub):
                diff = sub[:, j] - dec[:, j]
                acc += diff * diff
            err = acc if err is None else err + acc
    return codes, err


def ivfpq_encode_struct_col(
    vec_col,
    coarse: list[tuple[int, list[float]]],
    books: list[list[tuple[int, list[float]]]],
    with_err: bool = False,
) -> F.Column:
    """Fused IVF-PQ encode as ONE Arrow pass: ``struct<list:int,
    c0..c{m-1}:int[, err:double]>`` — coarse argmin, residual, and all
    ``m`` subspace argmins (plus, optionally, the vector-vs-decode
    squared L2 of ``_recon_err_col``) in a single Python batch kernel.
    The Column composition embedded the coarse argmin subtree in every
    subspace expression (m + 1 interpreted re-evaluations per row on
    top of the per-fold lambda dispatch); here each quantity is
    computed once per batch with the identical IEEE order and rounding,
    so the output is bit-identical."""
    import numpy as np

    ccids, C = _centroid_matrix(coarse)
    book_mats = [_centroid_matrix(b) for b in books]
    m = len(books)
    fields = "list:int," + ",".join(f"c{s}:int" for s in range(m))
    if with_err:
        fields += ",err:double"

    @F.pandas_udf(f"struct<{fields}>")
    def _encode_udf(vs: pd.Series) -> pd.DataFrame:
        n = len(vs)
        out = {"list": [None] * n}
        for s in range(m):
            out[f"c{s}"] = [None] * n
        if with_err:
            out["err"] = [None] * n
        mask = vs.notna().to_numpy()
        if mask.any():
            X = np.vstack([np.asarray(v, dtype=np.float64) for v in vs[mask]])
            hidx, _ = _assign_np(X, ccids, C)
            R = X - C[hidx]
            codes, err = _pq_codes_np(R, book_mats, with_err=with_err)
            pos = np.nonzero(mask)[0]
            for p, i in zip(pos, range(len(X))):
                out["list"][p] = int(ccids[hidx[i]])
                for s in range(m):
                    out[f"c{s}"][p] = int(codes[s][i])
            if with_err:
                err6 = _round6_np(err)
                for p, i in zip(pos, range(len(X))):
                    out["err"][p] = float(err6[i])
        frame = {
            k: pd.array(v, dtype="Int32") if k != "err" else v
            for k, v in out.items()
        }
        return pd.DataFrame(frame)

    return _encode_udf(F.col(vec_col) if isinstance(vec_col, str) else vec_col)


def pq_codes_struct_col(
    vec_col, codebooks: list[list[tuple[int, list[float]]]]
) -> F.Column:
    """Fused plain-PQ encode (raw-vector subspaces, no coarse stage):
    ``struct<c0..c{m-1}:int>`` — the vectorized twin of the per-
    subspace ``_assign_cols`` loop in :func:`pq_adc_top_k` /
    :func:`pq_fit` scans.  Bit-identical by the same argument as
    :func:`ivfpq_encode_struct_col`."""
    import numpy as np

    book_mats = [_centroid_matrix(b) for b in codebooks]
    m = len(codebooks)
    fields = ",".join(f"c{s}:int" for s in range(m))

    @F.pandas_udf(f"struct<{fields}>")
    def _codes_udf(vs: pd.Series) -> pd.DataFrame:
        n = len(vs)
        out = {f"c{s}": [None] * n for s in range(m)}
        mask = vs.notna().to_numpy()
        if mask.any():
            X = np.vstack([np.asarray(v, dtype=np.float64) for v in vs[mask]])
            codes, _ = _pq_codes_np(X, book_mats)
            pos = np.nonzero(mask)[0]
            for p, i in zip(pos, range(len(X))):
                for s in range(m):
                    out[f"c{s}"][p] = int(codes[s][i])
        return pd.DataFrame(
            {k: pd.array(v, dtype="Int32") for k, v in out.items()}
        )

    return _codes_udf(F.col(vec_col) if isinstance(vec_col, str) else vec_col)


def kmeans_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 3,
) -> list[tuple[int, list[float]]]:
    """Distributed Lloyd k-means with a FIXED iteration count and fully
    deterministic arithmetic (§2b-K clustering; the SemDeDup partition
    step).

    * **Seeds**: the ``k`` rows with the smallest ids — deterministic,
      one ordered take of k rows (no RNG, no kmeans++ sampling pass).
    * **Assign**: narrow projection against the broadcast-literal
      centroids (:func:`_assign_cols`) — no join, no shuffle.
    * **Update**: ``posexplode`` to (cid, dim, val) then one keyed
      aggregate — map-side partial combine applies, and only k*d
      doubles cross the exchange per partition.  Per-coordinate means
      are rounded to 6dp so cross-engine / cross-run reduction-order
      noise cannot propagate into the next assignment.
    * **Empty clusters** carry their previous centroid forward.

    The driver holds only the k x d centroid matrix (`collect` of k
    rows per iteration — O(1) in corpus size, same policy as
    :func:`pca_fit`'s partials).  Returns ``[(cid, [coords]), ...]``.
    """
    if k < 1 or iters < 1:
        raise ValueError("k and iters must be >= 1")
    seeds = (
        df.select(
            F.col(id_col).alias("id"),
            # HALF_UP via F.round (matches DuckDB's round), NOT Python's
            # banker's round — seed coords feed every later assignment.
            F.transform(F.col(vec_col), lambda x: F.round(x.cast("double"), 6)).alias("v"),
        )
        .orderBy("id")
        .limit(k)
        .collect()
    )
    if len(seeds) < k:
        raise ValueError(f"kmeans_fit: need >= {k} rows, got {len(seeds)}")
    centroids = [(i, list(r.v)) for i, r in enumerate(seeds)]
    base = df.select(F.col(vec_col).alias("__v"))
    for _ in range(iters):
        cid_col = _assign_struct_col("__v", centroids)["cid"]
        # Assignment in its OWN projection BELOW the explode: inlined
        # into the posexplode select, the k*d argmin expression re-
        # evaluates per EXPLODED row (d times per vector) — measured
        # 9.8 s vs 0.4 s per round at sf0.1 (review-caught).
        means = (
            base.select(cid_col.alias("cid"), "__v")
            .select("cid", F.posexplode("__v").alias("dim", "val"))
            .groupBy("cid", "dim")
            .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("m"))
            .groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dm"))
            .collect()
        )
        updated = {r.cid: [p.m for p in r.dm] for r in means}
        centroids = [(cid, updated.get(cid, c)) for cid, c in centroids]
    return centroids


def kmeans_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Tag each row with its nearest centroid: ``(id, cluster_id,
    sq_dist)`` — a narrow projection (no join/shuffle), suitable for a
    100-TB scoring pass."""
    a = _assign_struct_col(vec_col, centroids)
    return df.select(
        F.col(id_col).alias("id"),
        a["cid"].alias("cluster_id"),
        a["d"].alias("sq_dist"),
    )


def ivf_probed_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    k: int = 5,
    n_probe: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF approximate top-k probing only the ``n_probe`` nearest
    inverted lists of the DETERMINISTIC Lloyd quantizer
    (:func:`kmeans_fit`; production callers should go through
    :func:`fit_ivf` → :meth:`IvfIndex.probe`, which pins the fit's
    column bindings to the probe) — a genuinely partial-probe ANN path
    (``n_probe < k_clusters`` misses neighbors whose list wasn't
    probed) whose output is still exactly reproducible, because every
    step (6dp-rounded squared distances, lowest-cid tiebreaks) is the
    same fixed arithmetic the quantizer itself runs.  That is what
    keeps an *approximate* search hash-gateable: the oracle unrolls the
    identical recurrence instead of trusting an RNG-seeded fit.

    Scale shape: corpus assignment and per-query centroid ranking are
    both narrow no-shuffle projections against the broadcast centroid
    literal (ranking sorts the SAME scored array ``_assign_cols``
    argmins over, row-locally); the only join is the equi-join of the
    tiny probed (query, cid) side — broadcast — against the inverted
    file, so a 1000x corpus grows per-list scan cost only.  Returns
    ``(query_id, neighbor_id, cosine)``.
    """
    from ..operators.windows import top_k_per_group
    from .similarity import cosine_similarity_vec

    assigned = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        _assign_struct_col(vec_col, centroids)["cid"].alias("__cid"),
    )
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scored = F.transform(
        _centroid_literal(centroids),
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
    probed = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.explode(F.slice(F.array_sort(scored), 1, n_probe)).alias("__p"),
    ).select("query_id", "__qv", F.col("__p.cid").alias("__cid"))
    hits = (
        assigned.join(F.broadcast(probed), "__cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine", F.round(cosine_similarity_vec(F.col("__qv"), F.col("__cv")), 6)
        )
        .select("query_id", "neighbor_id", "cosine")
    )
    return top_k_per_group(
        hits, ["query_id"], [F.col("cosine").desc(), F.col("neighbor_id").asc()], k
    )


class IvfIndex:
    """Fitted IVF quantizer: the :func:`kmeans_fit` centroid matrix plus
    the column bindings it was fit with, so probe/assign calls can't
    drift from the fit (mismatched ``vec_col``/``id_col`` between fit
    and probe silently probes garbage lists).  Built by :func:`fit_ivf`
    — the one blessed fit→probe handoff."""

    def __init__(
        self,
        centroids: list[tuple[int, list[float]]],
        vec_col: str = "embedding",
        id_col: str = "vec_id",
    ):
        if not centroids:
            raise ValueError("IvfIndex needs at least one centroid")
        self.centroids = centroids
        self.vec_col = vec_col
        self.id_col = id_col

    @property
    def k_clusters(self) -> int:
        return len(self.centroids)

    def assign(self, df: DataFrame) -> DataFrame:
        """Nearest-centroid tag per row — :func:`kmeans_assign` with the
        fit's bindings; a narrow no-shuffle scoring pass."""
        return kmeans_assign(
            df, self.centroids, vec_col=self.vec_col, id_col=self.id_col
        )

    def probe(
        self, corpus: DataFrame, queries: DataFrame, k: int = 5, n_probe: int = 3
    ) -> DataFrame:
        """Partial-probe approximate top-k — :func:`ivf_probed_top_k`
        with the fit's centroids and bindings.  ``n_probe`` of
        ``k_clusters`` lists are scanned per query; recall rises with
        ``n_probe`` at linearly growing per-query scan cost."""
        if n_probe < 1:
            raise ValueError(f"n_probe must be >= 1, got {n_probe}")
        return ivf_probed_top_k(
            corpus,
            queries,
            self.centroids,
            k=k,
            n_probe=min(n_probe, self.k_clusters),
            vec_col=self.vec_col,
            id_col=self.id_col,
        )


def fit_ivf(
    corpus: DataFrame,
    k_clusters: int = 8,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> IvfIndex:
    """Fit the IVF quantizer and return an :class:`IvfIndex` whose
    ``.probe(corpus, queries, k, n_probe)`` / ``.assign(df)`` carry the
    fit's centroids and column bindings — the production path from
    corpus to ANN search (the catalog's ``similarity_ivf_probed`` is
    exactly ``fit → probe`` spelled out).

    Cost note (measured, SCALING.md k-means row): every assignment and
    probe evaluates a ``k_clusters × dim`` argmin against the broadcast
    centroid literal per row — per-row scoring cost AND Catalyst plan
    size grow linearly with ``k_clusters``, so large-k indexes pay at
    ANALYSIS time too, not just fit time.  Keep ``k_clusters`` at the
    hundreds-scale and shard the corpus before reaching for tens of
    thousands of lists."""
    return IvfIndex(
        kmeans_fit(corpus, vec_col=vec_col, id_col=id_col, k=k_clusters, iters=iters),
        vec_col=vec_col,
        id_col=id_col,
    )


def semdedup_keep(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    cosine_threshold: float = 0.3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cluster_size: int | None = 100_000,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv
    2303.09540): partition by k-means cluster, then drop any vector
    whose cluster contains a LOWER-id vector within ``cosine_threshold``
    (the paper keeps one representative per semantic duplicate group;
    lowest-id is our deterministic stand-in for its random choice).

    Scale posture: the quadratic step is confined WITHIN clusters — the
    pair join is an equi-join on ``cluster_id`` with ``id < id`` and
    exact-cosine filter, so candidate mass is sum(|cluster|^2), not
    n^2.  The paper's own control for this is k scaling with n (keep
    n/k bounded); ``max_cluster_size`` is the guard rail that fails
    loudly instead of silently degrading to all-pairs when k was chosen
    too small for the corpus.

    Returns ``(id, cluster_id, kept)`` for every input row.
    """
    # The centroid-literal projection scans the input once per consumer;
    # it feeds the guard count AND both sides of the cluster self-join,
    # so semdedup_keep_assigned persists it — one assignment pass total.
    tagged = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("__v"),
        _assign_struct_col(vec_col, centroids)["cid"].alias("cluster_id"),
    )
    return semdedup_keep_assigned(
        tagged,
        cosine_threshold=cosine_threshold,
        max_cluster_size=max_cluster_size,
    )


def semdedup_keep_assigned(
    tagged: DataFrame,
    cosine_threshold: float = 0.3,
    max_cluster_size: int | None = 100_000,
    eager: bool = True,
) -> DataFrame:
    """The pair-join half of :func:`semdedup_keep`, decoupled from the
    quantizer: ``tagged`` is ``(id, __v, cluster_id)`` from ANY
    assignment — the deterministic centroid-literal path (small fixed
    k, oracle-unrollable), or a scalable quantizer (MLlib KMeans
    ``transform``, IVF lists) when k grows with n and a k*d literal
    expression would blow up analysis/codegen time.  Same guard, same
    keep rule, same output contract.

    Execution contract (ADVICE r10): with ``eager=True`` (default —
    the bench/loop posture) the call EXECUTES: ``tagged`` is persisted
    for its three consumers, the result is materialized via an eager
    ``localCheckpoint`` (blocks pinned to executor storage) and
    ``tagged`` unpersisted, so repeated invocations never accumulate
    cache blocks.  ``eager=False`` composes lazily instead — no
    persist, no checkpoint, the returned plan recomputes the
    assignment once per consumer (~3 passes if collected once) —
    for callers that only build plans.  Note the ``max_cluster_size``
    guard runs a count job at CALL time in both modes; pass ``None``
    for a fully lazy composition."""
    from pyspark import StorageLevel

    # Arrow-vectorized cosine for the within-cluster pair filter — the
    # hot path of this operator (candidate mass = sum |cluster|^2).
    # Same 4.8x A/B and zero-6dp-difference result as the LSH verify
    # path (`similarity.cosine_similarity_vec` docstring).
    from .similarity import cosine_similarity_vec

    if eager:
        tagged = tagged.persist(StorageLevel.MEMORY_AND_DISK)
    if max_cluster_size is not None:
        hot = (
            tagged.groupBy("cluster_id")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") > max_cluster_size)
            .limit(1)
            .collect()
        )
        if hot:
            raise ValueError(
                f"semdedup_keep: cluster {hot[0].cluster_id} has {hot[0].n} rows "
                f"(> max_cluster_size={max_cluster_size}); raise k in kmeans_fit "
                "(SemDeDup scales k with n) or raise/disable max_cluster_size"
            )
    left = tagged.select("cluster_id", F.col("id").alias("a_id"), F.col("__v").alias("a_v"))
    right = tagged.select("cluster_id", F.col("id").alias("b_id"), F.col("__v").alias("b_v"))
    dominated = (
        left.join(right, "cluster_id")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(
            F.round(cosine_similarity_vec(F.col("a_v"), F.col("b_v")), 6)
            >= F.lit(float(cosine_threshold))
        )
        .select(F.col("b_id").alias("id"))
        .distinct()
    )
    result = tagged.join(
        dominated.withColumn("__drop", F.lit(True)), "id", "left"
    ).select(
        "id",
        "cluster_id",
        F.coalesce(~F.col("__drop"), F.lit(True)).alias("kept"),
    )
    # Materialize the kept-set eagerly so `tagged`'s cache lifetime is
    # bounded by this call: without the unpersist, repeated invocations
    # in one session (bench secondary loop, scaled-k scaling harness)
    # accumulate MEMORY_AND_DISK blocks and lean on LRU eviction.  The
    # caller computes the result exactly once anyway, so the eager
    # localCheckpoint costs one pass it was about to pay regardless.
    if eager:
        result = result.localCheckpoint(eager=True)
        tagged.unpersist()
    return result


def hd_rotation_matrix(d: int) -> list[list[float]]:
    """The deterministic structured rotation ``R = H · D / sqrt(d)``:
    Sylvester-Hadamard ``H[i][j] = (-1)^popcount(i & j)`` composed with
    a sign-flip diagonal ``D[j]`` drawn from the md5 lattice
    (``+1`` iff the first hex char of ``md5('rot-v1' + j)`` < '8') —
    the FJLT/OPQ-lite preconditioner (Ailon & Chazelle 2006; the
    random-rotation baseline of Ge et al.'s OPQ, FAISS's OPQ init).
    Exactly orthogonal by construction, PARAMETER-FREE (no fit, no
    stored matrix — both engines re-derive it from the formula), and
    every entry is ``±1/sqrt(d)``, exactly representable for
    power-of-two ``d``, so rotated coordinates are identical IEEE
    doubles in any engine that folds the matvec in index order."""
    if d & (d - 1):
        raise ValueError(
            f"hd_rotation_matrix needs a power-of-two dim (got {d}): "
            "the Sylvester-Hadamard construction does not exist "
            "otherwise — pad the vectors or use plain PQ."
        )
    import hashlib
    import math

    s = 1.0 / math.sqrt(d)
    signs = [
        s
        if hashlib.md5(f"rot-v1{j}".encode()).hexdigest()[0] in "01234567"
        else -s
        for j in range(d)
    ]
    return [
        [
            (signs[j] if bin(i & j).count("1") % 2 == 0 else -signs[j])
            for j in range(d)
        ]
        for i in range(d)
    ]


def _matrix_literal(rows: list[list[float]]) -> F.Column:
    """``array<array<double>>`` literal, one parsed expression (the
    :func:`_centroid_literal` anti-py4j pattern at matrix size)."""
    body = ", ".join(
        "array(" + ", ".join(f"{float(x)!r}D" for x in row) + ")" for row in rows
    )
    return F.expr(f"array({body})")


def structured_rotation(vec_col, d: int) -> F.Column:
    """Rotate a vector column by :func:`hd_rotation_matrix` — a
    row-local matvec against the broadcast matrix literal, folded in
    index order (engine-portable: the oracle re-derives the identical
    matrix from bit_count + md5 in SQL).  No shuffle, no fit: at
    100 TB the rotation is a map job fused into whatever scan follows
    it."""
    mat = _matrix_literal(hd_rotation_matrix(d))
    v = F.transform(
        F.col(vec_col) if isinstance(vec_col, str) else vec_col,
        lambda x: x.cast("double"),
    )
    return F.transform(
        F.sequence(F.lit(1), F.lit(d)),
        lambda i: F.aggregate(
            F.zip_with(v, F.element_at(mat, i), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )


def pq_fit(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[tuple[int, list[float]]]]:
    """Product-quantization codebooks (Jégou et al. 2011 — the standard
    vector-compression rung above :func:`quantize_int8`: d/m-dim
    subspaces each quantized to k centroids, storing ``m * log2(k)``
    bits per vector instead of ``d * 32``): the deterministic Lloyd
    recurrence (:func:`kmeans_fit`'s exact arithmetic — lowest-id
    seeds, 6dp rounding, empty clusters carried) applied PER SUBSPACE,
    but with all m subspaces fitted in ONE job per round: seeds are a
    single ordered take sliced driver-side, and each update round is
    one explode to (subspace, cid, dim, val) + one keyed aggregate —
    ``2 * iters + 1`` Spark jobs total instead of ``m * (iters + 1)``
    sequential fits (measured 24 s -> ~8 s at sf0.1 for m=8, iters=2,
    bit-identical codebooks).  Returns ``m`` codebooks, subspace
    order."""
    if k < 1 or iters < 1:
        raise ValueError("k and iters must be >= 1")
    seeds = (
        df.select(
            F.col(id_col).alias("id"),
            F.transform(F.col(vec_col), lambda x: F.round(x.cast("double"), 6)).alias(
                "v"
            ),
        )
        .orderBy("id")
        .limit(k)
        .collect()
    )
    if not seeds:
        raise ValueError("pq_fit on an empty DataFrame")
    d = len(seeds[0].v)
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m} subspaces")
    if len(seeds) < k:
        raise ValueError(f"pq_fit: need >= {k} rows, got {len(seeds)}")
    dsub = d // m
    books = [
        [(i, list(r.v[s * dsub : (s + 1) * dsub])) for i, r in enumerate(seeds)]
        for s in range(m)
    ]
    for _ in range(iters):
        # All m subspace assignments in ONE Arrow batch kernel, in its
        # OWN projection below the explode (the kmeans_fit lesson: an
        # argmin inlined into the explode select re-evaluates per
        # exploded row).
        coded = df.select(
            F.col(vec_col).alias("__v"),
            pq_codes_struct_col(vec_col, books).alias("__codes"),
        )
        structs = [
            F.struct(
                F.lit(s).alias("s"),
                F.col("__codes")[f"c{s}"].alias("cid"),
                F.slice(F.col("__v"), s * dsub + 1, dsub).alias("sv"),
            )
            for s in range(m)
        ]
        assigned = coded.select(F.explode(F.array(*structs)).alias("a")).select(
            F.col("a.s").alias("s"), F.col("a.cid").alias("cid"), F.col("a.sv").alias("sv")
        )
        means = (
            assigned.select("s", "cid", F.posexplode("sv").alias("dim", "val"))
            .groupBy("s", "cid", "dim")
            .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("mv"))
            .groupBy("s", "cid")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "mv"))).alias("dm"))
            .collect()
        )
        updated = {(r.s, r.cid): [p.mv for p in r.dm] for r in means}
        books = [
            [(cid, updated.get((s, cid), c)) for cid, c in books[s]]
            for s in range(m)
        ]
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode vectors against fitted PQ codebooks and surface the
    reconstruction error actually incurred: ``(id, codes, max_abs_err,
    mse)`` where ``codes[s]`` is subspace ``s``'s nearest-centroid id
    (6dp-rounded distances, lowest-cid ties — the shared
    ``_assign_cols`` argmin) and the error columns compare the vector
    against its DECODED form (codebook rows substituted back).  A
    narrow row-local projection — codebooks ride as broadcast literals,
    no join, no shuffle: the 100-TB encode is a map job, exactly like
    the int8 quantizer.  Error terms accumulate in subspace order, so
    the fold is engine-portable."""
    if not codebooks:
        raise ValueError("pq_encode needs at least one codebook")
    dsub = len(codebooks[0][0][1])
    n_dims = dsub * len(codebooks)
    # Codes from the Arrow kernel (the k*dsub-per-subspace argmin was
    # the per-row hot spot); staged in its own projection so the error
    # expressions below read plain int columns.  The O(d) decode-diff
    # folds stay as Column expressions — they are linear per row, not
    # the k-fold the kernel removes.
    staged = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("__v"),
        pq_codes_struct_col(vec_col, codebooks).alias("__codes"),
    )
    code_cols = []
    err_maxes = []
    sq_sums = []
    for s, book in enumerate(codebooks):
        sub = F.slice(F.col("__v"), s * dsub + 1, dsub)
        cid = F.col("__codes")[f"c{s}"]
        code_cols.append(cid)
        decoded = F.element_at(_centroid_literal(book), cid + 1)["c"]
        diffs = F.zip_with(sub, decoded, lambda x, c: F.abs(x.cast("double") - c))
        err_maxes.append(F.array_max(diffs))
        sq_sums.append(
            F.aggregate(diffs, F.lit(0.0), lambda acc, e: acc + e * e)
        )
    mse = sq_sums[0]
    for t in sq_sums[1:]:
        mse = mse + t
    return staged.select(
        "id",
        F.array(*code_cols).alias("codes"),
        F.round(F.greatest(*err_maxes), 6).alias("max_abs_err"),
        F.round(mse / F.lit(float(n_dims)), 6).alias("mse"),
    )


def pq_adc_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes (Jégou et al.
    2011): corpus vectors are represented ONLY by their m codes, the
    query stays full-precision, and the search distance is the sum of
    per-subspace exact distances to the DECODED centroids — the
    standard memory-bound ANN scoring rung (at 100 TB the corpus side
    reads 8 bytes/vector instead of 256).

    Shape: corpus codes come from the same row-local argmin the encoder
    uses; the bounded query set broadcasts (``cosine_top_k``'s
    documented rider contract); per-(query, corpus) ADC is a row-local
    fold over codebook literals — no shuffle beyond the per-query top-k
    window.  Per-subspace terms round to 6dp (lattice inputs) and sum
    in subspace order, so the APPROXIMATE ranking is engine-portable.
    Returns ``(query_id, neighbor_id, adc)``, k rows per query,
    ``(adc asc, neighbor_id)`` order."""
    from ..operators.windows import top_k_per_group

    if not codebooks:
        raise ValueError("pq_adc_top_k needs codebooks")
    dsub = len(codebooks[0][0][1])
    cs = pq_codes_struct_col(vec_col, codebooks)
    coded = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        *[cs[f"c{s}"].alias(f"__c{s}") for s in range(len(codebooks))],
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    # Per-QUERY ADC lookup tables (no residual here, so the key is the
    # query alone — see pq_index._adc_scored for the probed-list twin):
    # each rounded subspace term computes ONCE per query via the
    # identical expression the per-candidate fold evaluated, so
    # looked-up sums are bit-identical; candidates pay m array lookups
    # instead of m interpreted folds.
    m = len(codebooks)
    staged = q.select(
        "query_id",
        *[F.slice(F.col("__qv"), s * dsub + 1, dsub).alias(f"__qs{s}") for s in range(m)],
    )
    def lut_col(book, qs_col):
        # named def => the transform lambda stays unary; the raw float
        # slice casts inside the zip_with, exactly as the per-candidate
        # fold did.
        return F.transform(
            _centroid_literal(book),
            lambda e: F.round(
                F.aggregate(
                    F.zip_with(
                        F.col(qs_col),
                        e["c"],
                        lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ),
        )

    luts = staged.select(
        "query_id",
        *[
            lut_col(book, f"__qs{s}").alias(f"__lut{s}")
            for s, book in enumerate(codebooks)
        ],
    )
    joined = coded.join(F.broadcast(luts))
    terms = [
        F.element_at(F.col(f"__lut{s}"), F.col(f"__c{s}") + 1) for s in range(m)
    ]
    adc = terms[0]
    for t in terms[1:]:
        adc = adc + t
    scored = (
        joined.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("adc", F.round(adc, 6))
        .select("query_id", "neighbor_id", "adc")
    )
    return top_k_per_group(
        scored, ["query_id"], [F.col("adc").asc(), F.col("neighbor_id").asc()], k
    )


def ivfpq_probed_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    coarse_centroids: list[tuple[int, list[float]]],
    codebooks: list[list[tuple[int, list[float]]]],
    k: int = 5,
    n_probe: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ — the production ANN composition (Jégou et al. 2011, the
    FAISS default): a coarse quantizer prunes WHICH vectors are scored
    (only the ``n_probe`` probed inverted lists), product quantization
    prunes WHAT is read per scored vector (m codes, not d floats), and
    the distance is ADC against the RESIDUAL codebooks (vectors encode
    ``x - coarse_centroid(x)`` — residuals concentrate near 0, where a
    shared codebook spends its centroids best).

    Scale shape: coarse assignment and PQ encoding are row-local
    against broadcast literals; the only join is the probed
    (query, list) side — bounded by ``|queries| * n_probe`` — against
    the list-partitioned codes, then a per-query top-k window.  All
    distance terms 6dp-round and sum in subspace order (the
    engine-portable approximate-ranking convention).  Returns
    ``(query_id, neighbor_id, adc)``."""
    from ..operators.windows import top_k_per_group

    if not codebooks:
        raise ValueError("ivfpq_probed_top_k needs codebooks")
    dsub = len(codebooks[0][0][1])
    # corpus side: home list + residual codes in ONE Arrow batch kernel
    enc = ivfpq_encode_struct_col(vec_col, coarse_centroids, codebooks)
    coded = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        enc["list"].alias("__list"),
        *[enc[f"c{s}"].alias(f"__c{s}") for s in range(len(codebooks))],
    )
    # query side: n_probe nearest coarse lists, row-local sort
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scored_lists = F.transform(
        _centroid_literal(coarse_centroids),
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
    n_probe = min(n_probe, len(coarse_centroids))
    probed = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.explode(
            F.transform(
                F.slice(F.array_sort(scored_lists), 1, n_probe), lambda p: p["cid"]
            )
        ).alias("__list"),
    )
    # ADC against the residual codebooks via per-(query, list) lookup
    # tables (see pq_index._adc_scored): every rounded subspace term is
    # computed ONCE on the probed frame — the identical expression the
    # per-candidate fold evaluated, so looked-up sums are bit-identical
    # — and each candidate pays m array lookups instead of m
    # interpreted folds.
    qresid = F.zip_with(
        F.col("__qv"),
        F.element_at(_centroid_literal(coarse_centroids), F.col("__list") + 1)["c"],
        lambda x, c: x.cast("double") - c,
    )
    m = len(codebooks)
    staged = probed.select("query_id", "__list", qresid.alias("__qr")).select(
        "query_id",
        "__list",
        *[F.slice("__qr", s * dsub + 1, dsub).alias(f"__qs{s}") for s in range(m)],
    )
    from .pq_index import _adc_lut_col

    luts = staged.select(
        "query_id",
        "__list",
        *[
            _adc_lut_col(book, f"__qs{s}").alias(f"__lut{s}")
            for s, book in enumerate(codebooks)
        ],
    )
    joined = coded.join(F.broadcast(luts), "__list").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    terms = []
    for s in range(m):
        terms.append(
            F.element_at(F.col(f"__lut{s}"), F.col(f"__c{s}") + 1)
        )
    adc = terms[0]
    for t in terms[1:]:
        adc = adc + t
    scored = joined.withColumn("adc", F.round(adc, 6)).select(
        "query_id", "neighbor_id", "adc"
    )
    return top_k_per_group(
        scored, ["query_id"], [F.col("adc").asc(), F.col("neighbor_id").asc()], k
    )


def ivfpq_fit(
    df: DataFrame,
    coarse_k: int = 8,
    m: int = 8,
    k: int = 16,
    coarse_iters: int = 3,
    pq_iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """Fit the IVF-PQ pair: the coarse Lloyd quantizer on raw vectors,
    then PQ codebooks on the RESIDUALS ``x - coarse_centroid(x)`` —
    residuals concentrate near zero, where one shared codebook spends
    its centroids best (the reason FAISS encodes residuals, not raw
    vectors).  Returns ``(coarse_centroids, codebooks)``."""
    coarse = kmeans_fit(df, vec_col=vec_col, id_col=id_col, k=coarse_k, iters=coarse_iters)
    home_cid = _assign_struct_col(vec_col, coarse)["cid"]
    resid = F.zip_with(
        F.col(vec_col),
        F.element_at(_centroid_literal(coarse), home_cid + 1)["c"],
        lambda x, c: x.cast("double") - c,
    )

    # Pin the residuals once: the coarse argmin (k x d literal fold)
    # would otherwise re-evaluate inside every one of the PQ fit's
    # scans (2 * iters + 1 of them) — identical codebooks either way,
    # the fit rounds just read checkpointed doubles instead.
    resid_df = df.select(F.col(id_col), resid.alias("__res")).localCheckpoint(
        eager=False
    )
    books = pq_fit(resid_df, m=m, k=k, iters=pq_iters, vec_col="__res", id_col=id_col)
    return coarse, books
