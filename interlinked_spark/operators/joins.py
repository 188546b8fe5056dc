"""Join operators (SURVEY.md §2b-C).

The reference has no joins (cite of absence: SURVEY.md §2a); these are
the standard Spark surface plus two engineered operators Spark lacks as
builtins: range join and as-of join.

Scale notes per operator are inline.  General posture: equi-joins
shuffle both sides on the key (sort-merge or shuffled-hash, AQE picks);
dimensions under ~100 MB should be broadcast explicitly; skewed keys are
handled by AQE skew-join (enabled in session defaults) or salting.
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .partitioning import spread

OnType = Union[str, Sequence[str], Column]


def equi_join(left: DataFrame, right: DataFrame, on: OnType, how: str = "inner") -> DataFrame:
    """Plain equi-join; Catalyst/AQE choose sort-merge vs shuffled-hash
    vs broadcast based on observed sizes."""
    return left.join(right, on=on, how=how)


def broadcast_join(left: DataFrame, dim: DataFrame, on: OnType, how: str = "inner") -> DataFrame:
    """Map-side join: ships the dim table to every executor — no shuffle
    of the (big) left side.  Use for dims that fit in executor memory;
    at 100 TB this is THE way to join fact tables with dimensions."""
    return left.join(F.broadcast(dim), on=on, how=how)


def semi_join(left: DataFrame, right: DataFrame, on: OnType) -> DataFrame:
    """Rows of ``left`` with at least one match — no right columns, no
    row multiplication (cheaper than inner+distinct)."""
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: OnType) -> DataFrame:
    """Rows of ``left`` with no match in ``right``."""
    return left.join(right, on=on, how="left_anti")


def cross_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """Cartesian product (BroadcastNestedLoopJoin when one side is
    small).  Guard: only sensible when |left| * |right| is bounded."""
    return left.crossJoin(right)


def range_join(
    left: DataFrame,
    right: DataFrame,
    conditions: Sequence[Column],
    how: str = "inner",
    broadcast_right: bool = True,
) -> DataFrame:
    """Theta/interval join (``lo <= x < hi`` style conditions).

    Spark executes non-equi joins as nested-loop; with a small ``right``
    (bucket/band dims — the common case) broadcasting makes it a cheap
    map-side scan of the big side.  For two BIG sides, pre-bucket both
    on ``floor(x / band)`` and equi-join the bucket key first, then
    apply the residual condition — see ``banded_range_join``.
    """
    cond = conditions[0]
    for extra in conditions[1:]:
        cond = cond & extra
    if broadcast_right:
        right = F.broadcast(right)
    return left.join(right, on=cond, how=how)


def banded_range_join(
    big_left: DataFrame,
    big_right: DataFrame,
    left_val: str,
    right_lo: str,
    right_hi: str,
    band: float,
    extra_on: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Scale path for BIG x BIG interval joins: equi-join on a band key
    (interval buckets right rows into every band it overlaps), then
    filter the exact range — turns O(n*m) nested-loop into a shuffle
    equi-join.  ``band`` should approximate the typical interval width.
    """
    lb = F.floor(F.col(left_val) / F.lit(band)).alias("__band")
    left_b = big_left.withColumn("__band", lb)
    right_b = big_right.withColumn(
        "__bands",
        F.sequence(
            F.floor(F.col(right_lo) / F.lit(band)),
            F.floor(F.col(right_hi) / F.lit(band)),
        ),
    ).withColumn("__band", F.explode("__bands")).drop("__bands")
    on = ["__band"] + list(extra_on or [])
    return (
        left_b.join(right_b, on=on)
        .filter((F.col(left_val) >= F.col(right_lo)) & (F.col(left_val) < F.col(right_hi)))
        .drop("__band")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on_ts: str,
    right_ts: str,
    by: Sequence[str],
    value_cols: Optional[Sequence[str]] = None,
    direction: str = "backward",
) -> DataFrame:
    """As-of join: for each left row, the single most recent right row
    with ``right_ts <= left[on_ts]`` per ``by`` key (``backward``; the
    ``forward`` direction mirrors it).

    Implementation is the union-tag trick: tag both sides, sort within
    key, carry the last-seen right values forward with ``last(...,
    ignorenulls)`` over an unbounded-preceding window, keep left rows.
    ONE shuffle on the key — no nested-loop, no per-key collect; scales
    to arbitrarily large sides (skew on the key is the only hazard).
    """
    value_cols = list(value_cols or [c for c in right.columns if c not in by and c != right_ts])
    by = list(by)

    lhs = left.withColumn("__ts", F.col(on_ts)).withColumn("__is_left", F.lit(1))
    for c in value_cols:
        lhs = lhs.withColumn(f"__r_{c}", F.lit(None).cast(right.schema[c].dataType))
    rhs = right.select(
        *by,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__is_left"),
        *[F.col(c).alias(f"__r_{c}") for c in value_cols],
    )
    for c in left.columns:
        if c not in rhs.columns:
            rhs = rhs.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    lhs = lhs.select(*rhs.columns)  # align column order for union

    ts_order = F.col("__ts").asc() if direction == "backward" else F.col("__ts").desc()
    # Right rows sort before left rows at equal ts => "<=" semantics.
    w = (
        Window.partitionBy(*by)
        .orderBy(ts_order, F.col("__is_left").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    merged = lhs.unionByName(rhs)
    for c in value_cols:
        merged = merged.withColumn(f"__r_{c}", F.last(f"__r_{c}", ignorenulls=True).over(w))
    out = merged.filter(F.col("__is_left") == 1).drop("__is_left", "__ts")
    for c in value_cols:
        out = out.withColumnRenamed(f"__r_{c}", c)
    return out


def norm_string(col: Union[str, Column]) -> Column:
    """Canonical string normalization shared by every string-matching
    operator and its SQL oracle twin (lowercase, trim, collapse
    whitespace) — the two sides must stay expression-identical."""
    return F.regexp_replace(
        F.lower(F.trim(F.col(col) if isinstance(col, str) else col)), r"\s+", " "
    )


def _qgrams_of_norm(col: Union[str, Column], q: int) -> Column:
    """Distinct character q-grams of an ALREADY-normalized string
    column.  The hot paths stage :func:`norm_string` into its own
    projection first and shingle from the staged column: inside the
    transform lambda a free subexpression re-evaluates per gram
    position (HOFs run interpreted), so shingling straight off the
    ``norm_string`` expression is O(len^2) per string."""
    s = F.col(col) if isinstance(col, str) else col
    idx = F.sequence(F.lit(1), F.greatest(F.length(s) - F.lit(q - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: s.substr(i, F.lit(q))))


def qgram_array(col: Union[str, Column], q: int = 3) -> Column:
    """Distinct character q-grams of a normalized string (lowercased,
    trimmed, whitespace collapsed); strings shorter than ``q`` yield
    one gram — the whole string.  Shared by :func:`fuzzy_string_join`
    and its SQL oracle twin (the two must stay expression-identical).
    Single-expression form (normalize re-evaluates per gram position);
    pipelines stage ``norm_string`` first and use
    :func:`_qgrams_of_norm`."""
    return _qgrams_of_norm(norm_string(col), q)


def qgram_array_sql(expr: str, q: int = 3) -> str:
    """DuckDB twin of :func:`qgram_array` (oracle parity helper)."""
    s = f"regexp_replace(lower(trim({expr})), '\\s+', ' ', 'g')"
    return (
        f"list_distinct(list_transform("
        f"range(1, greatest(len({s}) - {q - 1}, 1) + 1), "
        f"i -> substr({s}, i, {q})))"
    )


def _fuzzy_frames(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    left_id: str,
    right_id: str,
    threshold: float,
    q: int,
    extra: list,
    dedupe_self: bool,
    max_qgram_df: Optional[int],
    prefix_filter: bool,
    same_side: bool = False,
    positional_filter: bool = False,
):
    """Shared candidate-generation pipeline for :func:`fuzzy_string_join`
    and :func:`fuzzy_candidate_stats` — returns ``(lg, rg, lpost, rpost,
    cand)`` where ``cand`` is the RAW posting-join output (pre-distinct,
    post ``dedupe_self``): its row count is the candidate MASS the
    prefix filter exists to cut.

    ``positional_filter`` (PPJoin, Xiao et al. 2008; requires
    ``prefix_filter``): postings additionally carry the gram's 1-based
    rank in the canonical order plus the gram-set size, and a candidate
    occurrence survives only if the overlap still REACHABLE from that
    rank — ``min(|gl| - pl, |gr| - pr) + 1`` grams including the shared
    one — meets the Jaccard-equivalent requirement
    ``ceil(t / (1 + t) * (|gl| + |gr|))``.  EXACT: the pair's first
    common gram in canonical order always passes the bound when
    J >= t, so at least one occurrence survives for every true pair
    (only redundant occurrences and hopeless pairs are cut — measured
    in SCALING.json ``fuzzy_positional_ab``).

    Exactness caveat (ADVICE r15): the first-common-gram argument
    assumes no posting is dropped, so it holds WITHOUT
    ``max_qgram_df``.  Combining both is lossier than either alone:
    when the hot-gram cap removes a pair's first common prefix gram,
    the remaining occurrences carry ranks past it (reachable <= O-1),
    which can fall below alpha for pairs whose overlap is exactly at
    the bound — pairs the plain prefix path under the same cap still
    kept.  Both remain APPROXIMATE under a df cap either way; the
    combination is allowed (it is the standard recall-for-cost trade)
    but warns, so the loss is a decision, not a surprise."""
    if positional_filter and not prefix_filter:
        raise ValueError(
            "positional_filter requires prefix_filter: positions are "
            "ranks in the canonical prefix order."
        )
    if positional_filter and max_qgram_df is not None:
        import warnings

        warnings.warn(
            "positional_filter + max_qgram_df: dropping hot grams can "
            "push a boundary pair's surviving occurrences past the "
            "positional bound — recall can dip below the plain "
            "prefix-filter path under the same cap (see docstring). "
            "Exactness holds only without max_qgram_df.",
            stacklevel=3,
        )

    def gram_frame(side: DataFrame, col: str, id_col: str) -> DataFrame:
        # Normalize staged + spread BEFORE shingling: the q-gram build
        # is the compute-heavy narrow stage, and a single-file scan
        # would run it all on one task (operators/partitioning.spread).
        staged = spread(
            side.select(F.col(id_col), *extra, norm_string(col).alias("__qs"))
        )
        return staged.select(
            F.col(id_col), *extra, _qgrams_of_norm("__qs", q).alias("__gr")
        ).withColumn("__n", F.size("__gr"))

    def postings(gf: DataFrame, id_col: str, tag: str) -> DataFrame:
        if prefix_filter:
            # Global canonical gram order = md5(gram): deterministic,
            # data-independent (df-ascending would be optimal but costs
            # a frequency pass; md5 decorrelates from the text either
            # way).  Prefix length |g| - ceil(t|g|) + 1.
            plen = (
                F.col("__n")
                - F.ceil(F.lit(float(threshold)) * F.col("__n")).cast("int")
                + F.lit(1)
            )
            ordered = F.transform(
                F.array_sort(
                    F.transform(
                        "__gr", lambda g: F.struct(F.md5(g).alias("h"), g.alias("g"))
                    )
                ),
                lambda s: s["g"],
            )
            grams = F.slice(ordered, F.lit(1), plen)
        else:
            grams = F.col("__gr")
        if positional_filter:
            return gf.select(
                id_col, *extra, F.col("__n").alias(f"__n{tag}"),
                F.posexplode(grams).alias(f"__p{tag}", "__g"),
            )
        return gf.select(id_col, *extra, F.explode(grams).alias("__g"))

    # Each gram frame feeds BOTH the posting explode and the exact-
    # Jaccard verify join; without truncation the base scan + normalize
    # + shingle lineage re-runs for each consumer (twice per side — at
    # 100 TB the scan IS the cost).  Same executor-local checkpoint as
    # the dedup family (llm/dedup.py).
    lg = gram_frame(left, left_col, left_id).localCheckpoint(eager=False)
    # same_side: right is the SAME relation as left (self-join) — its
    # gram frame is a rename of the materialized left one, so the
    # corpus is scanned + shingled + checkpointed ONCE, not twice.
    rg = (
        lg.withColumnRenamed(left_id, right_id)
        if same_side
        else gram_frame(right, right_col, right_id).localCheckpoint(eager=False)
    )
    lpost, rpost = postings(lg, left_id, "l"), postings(rg, right_id, "r")
    if max_qgram_df is not None:
        hot = (
            lpost.select("__g")
            .unionByName(rpost.select("__g"))
            .groupBy("__g")
            .count()
            .filter(F.col("count") > max_qgram_df)
            .select("__g")
        )
        lpost = lpost.join(F.broadcast(hot), "__g", "left_anti")
        rpost = rpost.join(F.broadcast(hot), "__g", "left_anti")
    cand = lpost.join(rpost, ["__g", *extra])
    if positional_filter:
        # remaining-overlap bound, counting the shared gram: posexplode
        # positions are 0-based, so rank i+1 leaves |g| - i grams.
        reachable = F.least(
            F.col("__nl") - F.col("__pl"), F.col("__nr") - F.col("__pr")
        )
        alpha = F.ceil(
            F.lit(float(threshold) / (1.0 + float(threshold)))
            * (F.col("__nl") + F.col("__nr"))
        )
        cand = cand.filter(reachable >= alpha)
    if dedupe_self:
        cand = cand.filter(F.col(left_id) < F.col(right_id))
    return lg, rg, lpost, rpost, cand


def fuzzy_candidate_stats(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    left_id: str,
    right_id: str,
    threshold: float = 0.5,
    q: int = 3,
    extra_on: Optional[Sequence[str]] = None,
    dedupe_self: bool = False,
    max_qgram_df: Optional[int] = None,
    prefix_filter: bool = True,
    same_side: bool = False,
    positional_filter: bool = False,
) -> dict:
    """Diagnostic twin of :func:`fuzzy_string_join`: instead of the
    verified pairs, return the pipeline's volume counters as driver
    scalars — posting rows per side, raw candidate mass (posting-join
    output, pre-distinct), and distinct candidate pairs (= exact-Jaccard
    verifications that would run).  This is the A/B instrument for the
    prefix filter's claimed cut (``prefix_filter`` on vs off); the
    counts are what an operator would watch before unleashing the join
    on a 100-TB corpus."""
    extra = list(extra_on or [])
    _lg, _rg, lpost, rpost, cand = _fuzzy_frames(
        left, right, left_col, right_col, left_id, right_id,
        threshold, q, extra, dedupe_self, max_qgram_df, prefix_filter,
        same_side, positional_filter,
    )
    return {
        "postings_left": lpost.count(),
        "postings_right": rpost.count(),
        "candidate_mass": cand.count(),
        "candidate_pairs": (
            cand.select(left_id, right_id, *extra).distinct().count()
        ),
    }


def fuzzy_string_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    left_id: str,
    right_id: str,
    threshold: float = 0.5,
    q: int = 3,
    extra_on: Optional[Sequence[str]] = None,
    dedupe_self: bool = False,
    max_qgram_df: Optional[int] = None,
    prefix_filter: bool = True,
    same_side: bool = False,
    positional_filter: bool = False,
) -> DataFrame:
    """Entity-resolution fuzzy join: pairs of rows whose strings match
    at q-gram Jaccard >= ``threshold`` — duplicate product listings,
    near-identical vendor names, record linkage across feeds.

    Scale posture — never the cartesian, and not even the full posting
    join: candidates come from PREFIX-FILTERED (id, gram) postings
    (SSJoin/PPJoin): grams sort in a global md5 order and each row
    indexes only its first ``|g| - ceil(t*|g|) + 1`` grams — EXACT,
    because a pair with J >= t shares >= ceil(t*|x|) grams per side,
    so its globally-smallest shared gram must sit inside BOTH
    prefixes.  Measured at t=0.5 on the part corpus (SCALING.json
    ``fuzzy_prefix_filter_ab``): 0.60x posting volume, 0.54x raw
    candidate mass vs indexing every gram — it halves both (the
    earlier "quarters candidate mass" estimate overshot; blocking
    keys already absorb part of the cut).  The posting equi-join (on
    the gram + ``extra_on``
    exact blocking keys — the standard ER practice: block on
    brand/zip/etc.) yields DISTINCT candidate pairs; verification then
    computes exact Jaccard from the two full gram ARRAYS
    (``array_intersect`` on ~tens of elements per pair, JVM-side).
    ``max_qgram_df`` additionally drops prefix grams whose combined
    document frequency exceeds the cap (one gram-level aggregate +
    broadcast anti-joins), trading recall ONLY for pairs whose every
    shared prefix gram is ultra-common (documented, like the MinHash
    hot-bucket cap).  ``prefix_filter=False`` indexes every gram (the
    naive posture; kept for A/B).  At 100 TB the posting join shuffles
    O(rows x prefix), not O(rows^2).

    ``left``/``right`` must carry unique ``left_id``/``right_id``
    (other columns are ignored — join the ids back for payloads);
    ``dedupe_self=True`` keeps only ``left_id < right_id`` pairs
    BEFORE the distinct (the self-join case: halves the candidate
    mass and drops self-matches).  Returns
    ``extra_on + (left_id, right_id, jaccard)`` with jaccard rounded
    to 6dp; the threshold compares the UNROUNDED ratio (exact in
    doubles — small-integer numerator/denominator), so the boundary
    cannot flip across engines.

    Each side's gram frame is checkpointed (``localCheckpoint``, as
    in the dedup family) because it feeds both the posting explode
    and the verification join — one base scan + shingle pass per side
    instead of two.  ``same_side=True`` declares that ``right`` is the
    SAME relation as ``left`` (the self-join/dedupe shape): one gram
    frame is built and checkpointed, the other is a column rename of it
    — one corpus scan + shingle pass TOTAL instead of two."""
    lg, rg, _lpost, _rpost, cand = _fuzzy_frames(
        left, right, left_col, right_col, left_id, right_id,
        threshold, q, list(extra_on or []), dedupe_self,
        max_qgram_df, prefix_filter, same_side, positional_filter,
    )
    extra = list(extra_on or [])
    cand = cand.select(left_id, right_id, *extra).distinct()
    verified = cand.join(
        lg.select(left_id, F.col("__gr").alias("__lgr"), F.col("__n").alias("__ln")),
        left_id,
    ).join(
        rg.select(right_id, F.col("__gr").alias("__rgr"), F.col("__n").alias("__rn")),
        right_id,
    )
    inter = F.size(F.array_intersect("__lgr", "__rgr"))
    jac = inter / (F.col("__ln") + F.col("__rn") - inter)
    return (
        verified.filter(jac >= F.lit(float(threshold)))
        .select(*extra, left_id, right_id, F.round(jac, 6).alias("jaccard"))
    )


def _edit_frames(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    left_id: str,
    right_id: str,
    d: int,
    q: int,
    extra: list,
    max_qgram_df: Optional[int],
    prefix_filter: bool,
    prefix_count: int,
    dedupe_self: bool,
    same_side: bool,
):
    """Shared candidate-generation pipeline for :func:`edit_distance_join`
    and :func:`edit_candidate_stats` — returns ``(lg, rg, lpost, rpost,
    raw, cand, short)`` where ``raw`` is the posting-join output after
    the length filter (pre-aggregate: its row count is the candidate
    MASS the prefix filter exists to cut), ``cand`` the distinct id
    pairs surviving the shared-prefix-count aggregate, and ``short`` the
    short-string band's id pairs."""

    def gram_frame(side: DataFrame, col: str, id_col: str) -> DataFrame:
        # Staged normalize + spread before the q-gram build (see
        # _fuzzy_frames.gram_frame).
        staged = spread(
            side.select(F.col(id_col), *extra, norm_string(col).alias("__s"))
        )
        return (
            staged.select(
                F.col(id_col), *extra,
                F.col("__s"),
                F.length("__s").alias("__len"),
                _qgrams_of_norm("__s", q).alias("__gr"),
            ).withColumn("__n", F.size("__gr"))
            .localCheckpoint(eager=False)
        )

    lg = gram_frame(left, left_col, left_id)
    # same_side: the self-join declaration — right is the SAME relation
    # as left (modulo id column name), so the right gram frame is a
    # rename of the already-materialized left one: one scan + normalize
    # + shingle + checkpoint instead of two.
    rg = (
        lg.withColumnRenamed(left_id, right_id)
        if same_side
        else gram_frame(right, right_col, right_id)
    )

    t = max(int(prefix_count), 1)

    def postings(gf: DataFrame, id_col: str) -> DataFrame:
        if prefix_filter:
            # Ed-Join count-filter prefix, generalized to the t-prefix
            # scheme: a pair within d edits shares c = max(|Gx|,|Gy|) -
            # q*d distinct grams, and the standard prefix-filter lemma
            # says sets sharing >= c elements have their length
            # (|G| - c + k) prefixes (in any GLOBAL total order — md5
            # here) sharing >= k elements, for every k <= c.  With
            # k = min(c, t) and c >= |G_side| - q*d, prefix length
            # min(|G|, q*d + t) per side guarantees >= min(c, t) shared
            # PREFIX grams for every valid pair — exact, and posting
            # volume per row is O(q*d + t), not O(|G|).
            ordered = F.transform(
                F.array_sort(
                    F.transform(
                        "__gr", lambda g: F.struct(F.md5(g).alias("h"), g.alias("g"))
                    )
                ),
                lambda s: s["g"],
            )
            grams = F.slice(
                ordered, F.lit(1), F.least(F.col("__n"), F.lit(q * d + t))
            )
        else:
            grams = F.col("__gr")
        return gf.select(
            id_col, *extra, F.col("__len"), F.col("__n"),
            F.explode(grams).alias("__g"),
        )

    lpost = (
        postings(lg, left_id)
        .withColumnRenamed("__len", "__llen")
        .withColumnRenamed("__n", "__ln")
    )
    rpost = (
        postings(rg, right_id)
        .withColumnRenamed("__len", "__rlen")
        .withColumnRenamed("__n", "__rn")
    )
    if max_qgram_df is not None:
        hot = (
            lpost.select("__g")
            .unionByName(rpost.select("__g"))
            .groupBy("__g")
            .count()
            .filter(F.col("count") > max_qgram_df)
            .select("__g")
        )
        lpost = lpost.join(F.broadcast(hot), "__g", "left_anti")
        rpost = rpost.join(F.broadcast(hot), "__g", "left_anti")
    raw = lpost.join(rpost, ["__g", *extra]).filter(
        F.abs(F.col("__llen") - F.col("__rlen")) <= d
    )
    if dedupe_self:
        # halve the aggregate input for the self-join case BEFORE the
        # shuffle, not after the distinct (same policy as _fuzzy_frames)
        raw = raw.filter(F.col(left_id) < F.col(right_id))
    if prefix_filter and t > 1:
        # Shared-prefix-count aggregate: a valid pair shares >=
        # min(c, t) prefix grams (lemma above), and c = max(|Gx|,|Gy|)
        # - q*d is computable per pair from the carried sizes — the
        # count filter prunes candidates BEFORE the verify join fetches
        # any string.  least(c, t) >= 1 for every pair outside the
        # short band (max > q*d there).  The sizes ride as GROUP KEYS
        # (functionally dependent on the ids — no first() aggregates).
        cand = (
            raw.groupBy(left_id, right_id, *extra, "__ln", "__rn")
            .agg(F.count("*").alias("__shared_pref"))
            .filter(
                F.col("__shared_pref")
                >= F.least(
                    F.greatest(F.col("__ln"), F.col("__rn")) - F.lit(q * d),
                    F.lit(t),
                )
            )
            .select(left_id, right_id, *extra)
        )
    else:
        # t == 1: count >= 1 is implied by the join itself — distinct
        # replaces the counting aggregate (same shuffle, no counters).
        cand = raw.select(left_id, right_id, *extra).distinct()
    # Short-string band: |G| <= q*d strings can evade the posting join
    # entirely (a valid pair may share zero grams).  Any partner must
    # ALSO be short — c >= 1 whenever EITHER side has |G| > q*d, and the
    # prefix argument then guarantees a posting collision — so the band
    # is short x short within the blocking keys, never short x corpus.
    # The pairing is a length-BUCKETED equi-join (width d+1: partners
    # within d characters land in the same or an adjacent bucket, left
    # explodes 3 buckets, right keeps one — each pair matches exactly
    # once), so even a corpus heavy in short or gram-poor repetitive
    # strings ("aaaa...", |G|=1 at any length) never cross-joins: the
    # hazard population is same-bucket SAME-LENGTH-BAND rows within a
    # block.  A corpus with millions of equal-length gram-poor strings
    # in one block still floods this band — that residual contract is
    # documented on edit_distance_join.
    ls = lg.filter(F.col("__n") <= q * d).select(
        left_id, *extra, F.col("__len").alias("__llen")
    )
    rs = rg.filter(F.col("__n") <= q * d).select(
        right_id, *extra, F.col("__len").alias("__rlen")
    )
    lb = F.floor(F.col("__llen") / (d + 1))
    short = (
        ls.withColumn("__b", F.explode(F.array(lb - 1, lb, lb + 1)))
        .join(
            rs.withColumn("__b", F.floor(F.col("__rlen") / (d + 1))),
            ["__b", *extra],
        )
        .filter(F.abs(F.col("__llen") - F.col("__rlen")) <= d)
        .select(left_id, right_id, *extra)
    )
    if dedupe_self:
        short = short.filter(F.col(left_id) < F.col(right_id))
    return lg, rg, lpost, rpost, raw, cand, short


def edit_candidate_stats(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    left_id: str,
    right_id: str,
    max_distance: int = 2,
    q: int = 2,
    extra_on: Optional[Sequence[str]] = None,
    dedupe_self: bool = False,
    max_qgram_df: Optional[int] = None,
    prefix_filter: bool = True,
    prefix_count: int = 1,
    same_side: bool = False,
) -> dict:
    """Diagnostic twin of :func:`edit_distance_join` (the
    :func:`fuzzy_candidate_stats` analog, r12 verdict item 2): posting
    rows per side, raw candidate mass (posting-join output after the
    length filter, pre-aggregate), short-band pairs, and distinct
    candidate pairs (= exact ``levenshtein`` verifications that would
    run).  The A/B instrument for the Ed-Join prefix filter's cut."""
    extra = list(extra_on or [])
    _lg, _rg, lpost, rpost, raw, cand, short = _edit_frames(
        left, right, left_col, right_col, left_id, right_id,
        int(max_distance), q, extra, max_qgram_df, prefix_filter,
        int(prefix_count), dedupe_self, same_side,
    )
    return {
        "postings_left": lpost.count(),
        "postings_right": rpost.count(),
        "candidate_mass": raw.count(),
        "short_band_pairs": short.count(),
        "candidate_pairs": cand.unionByName(short).distinct().count(),
    }


def edit_distance_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    left_id: str,
    right_id: str,
    max_distance: int = 2,
    q: int = 2,
    extra_on: Optional[Sequence[str]] = None,
    dedupe_self: bool = False,
    max_qgram_df: Optional[int] = None,
    prefix_filter: bool = True,
    prefix_count: int = 1,
    same_side: bool = False,
) -> DataFrame:
    """Edit-distance (Levenshtein) similarity join: pairs of rows whose
    NORMALIZED strings (:func:`norm_string`) are within ``max_distance``
    edits — typo-tolerant record linkage, the complement of
    :func:`fuzzy_string_join`'s token-overlap notion (Jaccard tolerates
    word reordering, edit distance tolerates character noise).

    Scale posture — never the cartesian, and (r13) not even the full
    posting join: candidates come from PREFIX-FILTERED (id, gram)
    postings in the global md5 gram order.  The Ed-Join/qgram-join
    count bound says a pair within ``d`` edits shares at least
    ``c = max(|Gx|,|Gy|) - q*d`` distinct grams (one edit destroys at
    most ``q`` of them); the prefix-filter lemma then says the length
    ``min(|G|, q*d + t)`` prefixes of both sides (``t`` =
    ``prefix_count``) share at least ``min(c, t)`` grams — so each row
    indexes only ``min(|G|, q*d + t)`` grams, EXACT, and posting volume
    per row is O(q*d + t), not O(|G|): at q=2, d=2 that is 5-6 postings
    per row regardless of string length, which removes the
    ultra-common-2-gram ("er", "a ") blowup the r12 full-posting
    variant had (A/B at sf0.1: postings 163k -> 100k, raw candidate
    mass 22.1M -> 6.3M after the in-join self-dedupe, SCALING.md r13).
    The posting equi-join (gram + ``extra_on`` blocking keys) carries a
    normalized-length filter (``| |x|-|y| | <= d`` — each edit changes
    length by at most 1).  At t=1 a ``distinct`` yields candidate
    pairs (any prefix collision is the necessary condition); at t>=2
    ONE counting aggregate keeps only pairs sharing ``>= min(c, t)``
    prefix grams (``c`` recomputed per pair from carried gram-set
    sizes) — measured at sf0.1, t=2 trims verify pairs 1.44x (3.09M ->
    2.15M) but the extra posting volume and counters cost more than
    the threshold-levenshtein verify saves, so t=1 is the default and
    t is a knob for corpora with expensive verification (long strings).
    ``max_qgram_df`` additionally drops prefix grams whose combined
    document frequency exceeds the cap (one gram-level aggregate +
    broadcast anti-joins), trading recall ONLY for pairs whose every
    shared prefix gram is ultra-common — documented, like the fuzzy
    join's lever; ``prefix_filter=False`` restores the index-every-gram
    posture for A/B (:func:`edit_candidate_stats`).

    Verification joins candidate ids back to the normalized STRINGS
    only (no gram arrays cross the shuffle) and runs
    ``levenshtein(x, y, threshold=d)`` — the early-exit O(d*len) form.
    The r12 full-count ``array_intersect`` re-check was measured
    slower than threshold-levenshtein itself on surviving candidates
    and is gone — the count bound already did its work selecting the
    prefix.

    Strings too short for the bound to bite (``|G| <= q*d``) can share
    ZERO grams with a valid partner, so they go through a separate
    short-string band: length-BUCKETED pairs (width ``d+1`` equi-join,
    never a cross join) within the blocking keys, unioned in before
    verification.  Residual contract: a corpus with a huge population
    of same-length-band gram-poor strings (e.g. millions of
    ``"aaaa..."`` of equal length) in ONE block concentrates that
    band's pairing; block finer or pre-dedupe such strings.

    Exact (100% recall) by construction: prefix, length and count
    filters are all necessary conditions for ``ed <= d``.  Returns
    ``extra_on + (left_id, right_id, distance)``.  ``dedupe_self=True``
    keeps ``left_id < right_id`` (self-join case).  Gram frames are
    checkpointed (``localCheckpoint``) — they feed postings, the short
    band, and verification; ``same_side=True`` declares that ``right``
    is the SAME relation as ``left`` (self-join), so one gram frame is
    built and checkpointed and the other is a column rename of it —
    one corpus scan + shingle pass instead of two."""
    extra = list(extra_on or [])
    d = int(max_distance)
    lg, rg, _lpost, _rpost, _raw, cand, short = _edit_frames(
        left, right, left_col, right_col, left_id, right_id,
        d, q, extra, max_qgram_df, prefix_filter, int(prefix_count),
        dedupe_self, same_side,
    )
    cand = cand.unionByName(short).distinct()
    verified = cand.join(
        lg.select(left_id, F.col("__s").alias("__lstr")), left_id
    ).join(rg.select(right_id, F.col("__s").alias("__rstr")), right_id)
    dist = F.levenshtein("__lstr", "__rstr", d)
    return (
        verified.filter((dist >= 0) & (dist <= d))
        .select(*extra, left_id, right_id, dist.alias("distance"))
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    on: Optional[Sequence[str]] = None,
    grain: str = "week",
    dedupe_self: bool = False,
    round_dp: int = 6,
) -> DataFrame:
    """Interval-overlap join (§2b-C): pairs whose time intervals
    ``[start, end]`` intersect (closed ends: ``s1 <= e2 AND s2 <= e1``),
    optionally within exact ``on`` blocking keys — shift-collision
    detection, concurrent-shipment analysis, meeting conflicts.

    Scale posture — never the cartesian and never a theta-only join:
    each interval explodes to the ``grain`` buckets it spans
    (``sequence(date_trunc(grain, start), date_trunc(grain, end))`` —
    row-local generation), the equi-join runs on (bucket, keys), and
    the exact overlap predicate filters residually.  Completeness: two
    overlapping intervals share a point p, and both sides' bucket lists
    contain ``date_trunc(grain, p)`` — so every true pair collides in
    at least one bucket.  A pair can collide in several buckets, hence
    the final ``distinct``.  Posting volume is O(rows x span/grain):
    pick ``grain`` near the TYPICAL interval span (a week-long interval
    at day grain posts 8 rows; at week grain, 1-2) — the same
    volume-vs-selectivity dial as the banded range join's band width.

    Intervals must satisfy ``start <= end`` (rows violating it can
    never match the overlap predicate against themselves but are kept
    as-is — garbage in, no pairs out).  Returns ``on + (left_id,
    right_id, overlap_seconds)`` where ``overlap_seconds =
    least(e1,e2) - greatest(s1,s2)`` (>= 0, closed-interval seconds);
    ``dedupe_self=True`` keeps ``left_id < right_id``."""
    keys = list(on or [])
    step = F.expr(f"INTERVAL 1 {grain.upper()}")

    def bucketed(side, id_col, s_col, e_col, sa, ea):
        return side.select(
            F.col(id_col),
            *keys,
            F.col(s_col).alias(sa),
            F.col(e_col).alias(ea),
            F.explode(
                F.sequence(
                    F.date_trunc(grain, F.col(s_col)),
                    F.date_trunc(grain, F.col(e_col)),
                    step,
                )
            ).alias("__b"),
        )

    lb = bucketed(left, left_id, left_start, left_end, "__ls", "__le")
    rb = bucketed(right, right_id, right_start, right_end, "__rs", "__re")
    joined = lb.join(rb, ["__b", *keys]).filter(
        (F.col("__ls") <= F.col("__re")) & (F.col("__rs") <= F.col("__le"))
    )
    if dedupe_self:
        joined = joined.filter(F.col(left_id) < F.col(right_id))
    overlap = F.least("__le", "__re").cast("double") - F.greatest(
        "__ls", "__rs"
    ).cast("double")
    return (
        joined.select(
            *keys, left_id, right_id,
            F.round(overlap, round_dp).alias("overlap_seconds"),
        )
        .distinct()
    )


def soft_tfidf_self_join(
    df: DataFrame,
    col: str,
    id_col: str,
    threshold: float = 0.7,
    extra_on: Optional[Sequence[str]] = None,
    max_token_df: Optional[int] = None,
    round_dp: int = 6,
) -> DataFrame:
    """TF-IDF-weighted token-set cosine self-join (§2b-C): entity
    resolution where shared RARE tokens count and shared boilerplate
    ("ltd", "the") barely does — the soft-TF-IDF family's set-cosine
    core.  Each row's normalized distinct tokens get weight
    ``idf = ln(N / df)`` (corpus-global document frequency); pair score
    is the cosine of the two idf-weighted indicator vectors:
    ``sum_{t in A∩B} idf_t^2 / (||A|| * ||B||)``.

    Scale posture — never the cartesian: candidates come from the
    (token + ``extra_on`` blocking key) posting self-join — exact,
    because score > 0 requires a shared token — and the dot product is
    ONE counting aggregate over posting collisions (same shape as the
    q-gram joins; the idf join adds one token-level aggregate + an
    equi-join, both token-cardinality-sized).  The weighted frame is
    checkpointed once (``localCheckpoint``) — it feeds both posting
    sides and the norm frame.  ``max_token_df`` drops postings for
    tokens above the df cap BEFORE the self-join (one broadcast
    anti-join): the O(df^2) viral-token candidate blowup is traded for
    documented recall loss on pairs whose every shared token is that
    common — idf already makes such pairs low-scoring.  N rides as a
    broadcast ONE-ROW frame (the engine's blessed scalar pattern), not
    a driver collect.

    Returns ``extra_on + (left_id, right_id, cosine)`` with
    ``left_id < right_id`` (self-join canonical order); the threshold
    compares the UNROUNDED ratio, cosine rounds to ``round_dp``."""
    extra = list(extra_on or [])
    toks = df.select(
        F.col(id_col).alias("__id"),
        *extra,
        F.explode(
            F.array_distinct(F.split(norm_string(col), " "))
        ).alias("__t"),
    )
    total = df.agg(F.count("*").alias("__N"))
    dfreq = toks.groupBy("__t").agg(F.count("*").alias("__df"))
    w = (
        toks.join(dfreq, "__t")
        .join(F.broadcast(total))
        .withColumn("__idf", F.log(F.col("__N") / F.col("__df")))
        .select("__id", *extra, "__t", "__idf")
        .localCheckpoint(eager=False)
    )
    norms = w.groupBy("__id").agg(
        F.sqrt(F.sum(F.col("__idf") * F.col("__idf"))).alias("__nrm")
    )
    post = w
    if max_token_df is not None:
        hot = (
            dfreq.filter(F.col("__df") > int(max_token_df)).select("__t")
        )
        post = post.join(F.broadcast(hot), "__t", "left_anti")
    l = post.select(
        F.col("__id").alias("left_id"), *extra, "__t", F.col("__idf").alias("__li")
    )
    r = post.select(
        F.col("__id").alias("right_id"), *extra, "__t", F.col("__idf").alias("__ri")
    )
    dots = (
        l.join(r, ["__t", *extra])
        .filter(F.col("left_id") < F.col("right_id"))
        .groupBy("left_id", "right_id", *extra)
        .agg(F.sum(F.col("__li") * F.col("__ri")).alias("__dot"))
    )
    scored = (
        dots.join(norms.select(F.col("__id").alias("left_id"), F.col("__nrm").alias("__ln")), "left_id")
        .join(norms.select(F.col("__id").alias("right_id"), F.col("__nrm").alias("__rn")), "right_id")
    )
    cos = F.col("__dot") / (F.col("__ln") * F.col("__rn"))
    return (
        scored.filter(cos >= F.lit(float(threshold)))
        .select(*extra, "left_id", "right_id", F.round(cos, round_dp).alias("cosine"))
    )


def _snm_global_rank(ranked: DataFrame) -> DataFrame:
    """Global total-order rank over ``(__s, __id)`` WITHOUT a
    single-partition window — the two-phase distributed prefix sum
    (``llm/packing.py::global_running_sum`` keyed on strings): rows
    rank locally inside their ``__bkt`` key-prefix bucket, bucket
    counts form a tiny broadcast offset table, ``__rk = local +
    offset``.  Shared by every sorted-neighborhood family member so
    the blocking semantics can't drift between verifiers."""
    intra = Window.partitionBy("__bkt").orderBy("__s", "__id")
    local = ranked.withColumn("__intra", F.row_number().over(intra))
    counts = ranked.groupBy("__bkt").agg(F.count("*").alias("__cnt"))
    off_w = Window.partitionBy().orderBy("__bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "__bkt", F.coalesce(F.sum("__cnt").over(off_w), F.lit(0)).alias("__off")
    )
    return (
        local.join(F.broadcast(offsets), "__bkt").withColumn(
            "__rk", F.col("__intra") + F.col("__off")
        )
        .localCheckpoint(eager=False)
    )


def jaro_winkler_bytes(a: bytes, b: bytes) -> float:
    """Jaro-Winkler similarity over UTF-8 BYTES — bit-for-bit the
    algorithm DuckDB's ``jaro_winkler_similarity`` implements (verified
    empirically: byte-level matching window, transpositions halved by
    integer division, Winkler prefix boost up to 4 with p=0.1 applied
    only above the 0.7 jaro threshold; on ASCII, byte == codepoint).
    Pure integer counting + a fixed expression tree of IEEE divisions,
    so the two engines produce the IDENTICAL double and an unrounded
    threshold compare can never disagree."""
    la, lb = len(a), len(b)
    if not la or not lb:
        return 0.0  # DuckDB: any empty side scores 0, even '' vs ''
    if a == b:
        return 1.0
    window = max(la, lb) // 2 - 1
    ma = [False] * la
    mb = [False] * lb
    m = 0
    for i in range(la):
        lo, hi = max(0, i - window), min(lb, i + window + 1)
        for j in range(lo, hi):
            if not mb[j] and b[j] == a[i]:
                ma[i] = mb[j] = True
                m += 1
                break
    if not m:
        return 0.0
    t = 0
    k = 0
    for i in range(la):
        if ma[i]:
            while not mb[k]:
                k += 1
            if a[i] != b[k]:
                t += 1
            k += 1
    t //= 2
    jaro = (m / la + m / lb + (m - t) / m) / 3
    if jaro <= 0.7:
        return jaro
    prefix = 0
    for x, y in zip(a[:4], b[:4]):
        if x != y:
            break
        prefix += 1
    return jaro + prefix * 0.1 * (1 - jaro)


def jaro_winkler_join(
    df: DataFrame,
    col: str,
    id_col: str,
    window: int = 5,
    threshold: float = 0.9,
    bucket_chars: int = 2,
    round_dp: int = 6,
) -> DataFrame:
    """Sorted-neighborhood Jaro-Winkler ER self-join (§2b-C/I): the
    same O(n·w) SNM blocking as :func:`sorted_neighborhood_join`, but
    verified with Jaro-Winkler — the edit-model tuned for NAMES (short
    strings, typos concentrated mid-string, shared prefixes meaningful)
    where q-gram Jaccard is too coarse and Levenshtein over-penalizes
    transpositions.

    This is the documented Arrow-UDF-tier verifier: Jaro-Winkler has
    no relational decomposition (the matching window is positional and
    stateful), so the score runs as a vectorized Pandas UDF over the
    ALREADY-BLOCKED candidate pairs — Python touches O(n·w) rows, never
    O(n²), and everything around it (rank, block join, threshold
    filter) stays JVM-side.  Same SNM recall contract as the Jaccard
    variant: a true pair further than ``window`` ranks apart in the
    sort order is missed — run with a second pass on the REVERSED
    string (or compose with :func:`fuzzy_string_join`) for the classic
    multi-pass SNM recall fix.

    Returns ``(left_id, right_id, rank_gap, jw)`` with ``jw >=
    threshold`` (unrounded compare — see :func:`jaro_winkler_bytes` for
    why that is engine-exact; ``round_dp`` output)."""
    from pyspark.sql.functions import pandas_udf

    w = int(window)
    ranked = (
        df.select(
            F.col(id_col).alias("__id"),
            norm_string(col).alias("__s"),
        ).withColumn("__bkt", F.substring("__s", 1, int(bucket_chars)))
        .localCheckpoint(eager=False)
    )
    ranked = _snm_global_rank(ranked)
    blk = F.floor((F.col("__rk") - 1) / w)
    l = ranked.select(
        F.col("__id").alias("left_id"), F.col("__rk").alias("__lrk"),
        F.col("__s").alias("__ls"),
        F.explode(F.array(blk, blk + 1)).alias("__blk"),
    )
    r = ranked.select(
        F.col("__id").alias("right_id"), F.col("__rk").alias("__rrk"),
        F.col("__s").alias("__rs"),
        blk.alias("__blk"),
    )
    cand = l.join(r, "__blk").filter(
        (F.col("__rrk") - F.col("__lrk") >= 1)
        & (F.col("__rrk") - F.col("__lrk") <= w)
    )

    @pandas_udf("double")
    def _jw(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [
                jaro_winkler_bytes(x.encode("utf-8"), y.encode("utf-8"))
                for x, y in zip(a, b)
            ],
            dtype="float64",
        )

    score = _jw(F.col("__ls"), F.col("__rs"))
    return (
        cand.withColumn("__jw", score)
        .filter(F.col("__jw") >= F.lit(float(threshold)))
        .select(
            "left_id", "right_id",
            (F.col("__rrk") - F.col("__lrk")).alias("rank_gap"),
            F.round("__jw", round_dp).alias("jw"),
        )
    )


def sorted_neighborhood_join(
    df: DataFrame,
    col: str,
    id_col: str,
    window: int = 5,
    q: int = 3,
    threshold: float = 0.5,
    bucket_chars: int = 2,
    round_dp: int = 6,
) -> DataFrame:
    """Sorted-neighborhood (SNM) entity-resolution self-join (§2b-C):
    sort the corpus by the normalized string, pair every row with its
    next ``window`` neighbors in that order, verify with exact q-gram
    Jaccard — the classic merge/purge blocking strategy, complementary
    to posting-join blocking (:func:`fuzzy_string_join`): SNM finds
    near-SORTED-PREFIX duplicates in O(n*w) candidates regardless of
    how common their grams are.

    Scale posture — the global rank NEVER uses a single-partition
    window: rows bucket by the sort key's first ``bucket_chars``
    characters (a lexicographic prefix, so (bucket, key) order == key
    order), each bucket ranks locally in parallel, bucket counts form a
    tiny table whose own running sum is cheap, and a broadcast join
    adds each bucket's starting offset — the same two-phase distributed
    prefix-sum as ``llm/packing.py::global_running_sum``, keyed on
    strings.  Candidate pairing is an equi-join on rank blocks of width
    ``window`` (left explodes 2 blocks, right keeps one) + the exact
    ``1 <= rank_gap <= window`` filter — O(n*w) candidates, one narrow
    shuffle.  Skew contract: bucket population follows the key-prefix
    distribution; corpora concentrated on one prefix need more
    ``bucket_chars`` (the per-bucket rank window is the only
    serialization point).

    Ties in the normalized key break by id — the rank is total, so both
    engines see the same neighbor sets.  Returns ``(left_id, right_id,
    rank_gap, jaccard)`` with ``jaccard >= threshold`` (unrounded
    compare, ``round_dp`` output)."""
    w = int(window)
    ranked = (
        spread(
            df.select(
                F.col(id_col).alias("__id"), norm_string(col).alias("__s")
            )
        )
        .select("__id", "__s", _qgrams_of_norm("__s", q).alias("__gr"))
        .withColumn("__n", F.size("__gr"))
        .withColumn("__bkt", F.substring("__s", 1, int(bucket_chars)))
        .localCheckpoint(eager=False)
    )
    ranked = _snm_global_rank(ranked)
    blk = F.floor((F.col("__rk") - 1) / w)
    l = ranked.select(
        F.col("__id").alias("left_id"), F.col("__rk").alias("__lrk"),
        F.col("__gr").alias("__lgr"), F.col("__n").alias("__ln"),
        F.explode(F.array(blk, blk + 1)).alias("__blk"),
    )
    r = ranked.select(
        F.col("__id").alias("right_id"), F.col("__rk").alias("__rrk"),
        F.col("__gr").alias("__rgr"), F.col("__n").alias("__rn"),
        blk.alias("__blk"),
    )
    cand = l.join(r, "__blk").filter(
        (F.col("__rrk") - F.col("__lrk") >= 1)
        & (F.col("__rrk") - F.col("__lrk") <= w)
    )
    inter = F.size(F.array_intersect("__lgr", "__rgr"))
    jac = inter / (F.col("__ln") + F.col("__rn") - inter)
    return (
        cand.filter(jac >= F.lit(float(threshold)))
        .select(
            "left_id", "right_id",
            (F.col("__rrk") - F.col("__lrk")).alias("rank_gap"),
            F.round(jac, round_dp).alias("jaccard"),
        )
    )
