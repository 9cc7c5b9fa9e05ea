"""Distribution-drift monitoring (q151-q156): the production counterpart
to the profiling family. A pipeline that retrains models (reference:
sol_2/house_predict.py's train/score loop) or continuously ingests corpus
drops (the q87 incremental-dedup shape) needs to know when the INPUT
distribution moved before the outputs go wrong. Oracle-paired monitors:

- q151 PSI  (numeric, binned): Population Stability Index of o_totalprice
  between a deterministic reference/current hash split, over equal-width
  bins frozen from the REFERENCE population (the deployed-model monitor
  contract: bin edges are fixed at training time).
- q152 KS   (numeric, exact): two-sample Kolmogorov-Smirnov statistic —
  max ECDF gap — same split, no binning assumptions.
- q153 chi2 (categorical): per-category chi-square homogeneity
  contributions of o_orderpriority between the splits.

Below, q154 (embedding-centroid shift) and q155 (token JS divergence)
extend the family to vectors and text, and q156 is q152's sketch-based
scale path for unbounded value domains (rows-only: t-digest CDF gap).

Determinism rules (the repo-wide cross-engine contract):
- The split is the md5-bucket hash (q75/q87 idiom) — engine-portable.
- ln() outputs are ROUNDED on both sides (the q54 transcendental rule:
  Java and C log differ in the last ulp).
- No cross-row sums of irrational doubles (the q103 rule): per-bin /
  per-category terms are emitted as rows; the scalar KS max is a max of
  EXACT doubles (bigint/bigint divisions), so it needs no rounding.

Scale shapes: PSI and chi2 are one narrow map + one tiny groupBy each —
shuffle carries O(bins) / O(categories) rows. KS cumulates per-VALUE
counts on the bucketed prefix scan (operators/prefix.py, bucket =
floor(v/1000) — the q203 discipline on the same price domain), so no
stage serializes the distinct-value frame into one task; the documented
scale path for unbounded domains is the t-digest store (q88): D
evaluated on sketch quantiles instead of exact ECDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import text as X
from ..operators.prefix import prefix_agg
from ..sources.io import local_frame
from .registry import register

_N_BINS = 10
_EPS = 1e-9  # floor for empty-bin shares inside ln()


def _sql_bucket(key: str) -> str:
    return f"('0x' || substring(md5(CAST({key} AS VARCHAR)), 1, 15))::BIGINT % 100"


def _bucket(key: str) -> F.Column:
    """The repo's engine-portable hash bucket (q75/q87 idiom) for any key
    column — one definition for all three drift splits (o_orderkey,
    vec_id, doc_id)."""
    return X.md5_bucket(F.col(key))


_SQL_OBUCKET = _sql_bucket("o_orderkey")


def _obucket() -> F.Column:
    return _bucket("o_orderkey")


def bin_expr(v: F.Column, lo, width, n_bins: int = _N_BINS) -> F.Column:
    """q151's clamped equal-width bin index — shared with the streaming
    PSI store (streaming/events.run_stream_psi_counts) so the batch and
    stream twins bin identically by construction."""
    return F.least(
        F.greatest(F.floor((v - lo) / width).cast("int"), F.lit(0)),
        F.lit(n_bins - 1),
    )


def psi_term_expr(ref_share: F.Column, cur_share: F.Column, eps: float = _EPS) -> F.Column:
    """q151's per-bin PSI term (UNrounded; callers apply the 12-dp q54
    rounding) — shared with streaming/events.psi_from_store."""
    return (cur_share - ref_share) * F.log(
        F.greatest(cur_share, F.lit(eps)) / F.greatest(ref_share, F.lit(eps))
    )


def js_term_expr(p: F.Column, q: F.Column) -> F.Column:
    """Per-item Jensen-Shannon contribution (UNrounded; callers apply the
    12-dp q54 rounding): 1/2·p·log2(p/m) + 1/2·q·log2(q/m) with
    m=(p+q)/2 and zero-share branches defined as 0 — ONE definition for
    the corpus-wide (q155) and per-source (q161) twins."""
    m = (p + q) / 2.0

    def _half(share: F.Column) -> F.Column:
        return F.when(share > 0, 0.5 * share * F.log2(share / m)).otherwise(F.lit(0.0))

    return _half(p) + _half(q)


def fold_mean_expr(flag: F.Column, val: F.Column) -> F.Column:
    """FP-deterministic split mean (the q72 sorted-fold rule): collect
    the flagged values, sort, left-fold sum, divide — bit-identical on
    any partitioning, so shift columns hash-match with NO rounding. ONE
    definition for the all-vector (q154) and per-label (q162) twins."""
    vals = F.array_sort(F.collect_list(F.when(flag, val)))
    return F.aggregate(vals, F.lit(0.0), lambda a, x: a + x) / F.count(F.when(flag, 1))


def _split_counts() -> list[F.Column]:
    """The reference/current row counts of the hash split (``is_ref``)."""
    return [
        F.count(F.when(F.col("is_ref"), 1)).alias("n_ref"),
        F.count(F.when(~F.col("is_ref"), 1)).alias("n_cur"),
    ]


def _by_keys(left: DataFrame, right: DataFrame, keys: list[str]) -> DataFrame:
    """Broadcast a per-key frame back onto ``left``: joined on ``keys``,
    or crossed in as one row when there are none."""
    if keys:
        return left.join(F.broadcast(right), keys)
    return left.crossJoin(F.broadcast(right))


def with_split_totals(counts: DataFrame, keys: list[str]) -> DataFrame:
    """``counts`` plus each key's split totals ``tr``/``tc`` (the sums of
    its ``n_ref``/``n_cur``), the denominators of every drift share —
    shared with streaming/events._psi_fold."""
    tot = counts.groupBy(*keys).agg(
        F.sum("n_ref").alias("tr"), F.sum("n_cur").alias("tc")
    )
    return _by_keys(counts, tot, keys)


# ---------------------------------------------------------------------------
# q151 — PSI per bin. Bin width/origin come from the reference split's
# min/max only (current rows outside clamp into the edge bins, exactly the
# deployed-monitor behavior for out-of-range drift). All shares are
# bigint/bigint divisions (exact, order-free); only the ln() term is
# rounded (12 dp — PSI magnitudes are O(1), no representable-tie hazard).
# ---------------------------------------------------------------------------

_Q151_ORACLE = f"""
WITH d AS (
  SELECT o_totalprice AS v, {_SQL_OBUCKET} < 80 AS is_ref FROM orders
), edges AS (
  SELECT MIN(v) AS lo, MAX(v) AS hi FROM d WHERE is_ref
), binned AS (
  SELECT LEAST(GREATEST(CAST(FLOOR((v - lo) / ((hi - lo) / {_N_BINS}.0) ) AS INTEGER), 0),
               {_N_BINS - 1}) AS bin,
         is_ref
  FROM d, edges
), counts AS (
  SELECT bin,
         COUNT(*) FILTER (is_ref) AS n_ref,
         COUNT(*) FILTER (NOT is_ref) AS n_cur
  FROM binned GROUP BY bin
), tot AS (
  SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc FROM counts
)
SELECT bin,
       CAST(n_ref AS BIGINT) AS n_ref,
       CAST(n_cur AS BIGINT) AS n_cur,
       CAST(n_ref AS DOUBLE) / tr AS ref_share,
       CAST(n_cur AS DOUBLE) / tc AS cur_share,
       ROUND((CAST(n_cur AS DOUBLE) / tc - CAST(n_ref AS DOUBLE) / tr)
             * ln(GREATEST(CAST(n_cur AS DOUBLE) / tc, {_EPS!r})
                  / GREATEST(CAST(n_ref AS DOUBLE) / tr, {_EPS!r})), 12) AS psi_term
FROM counts, tot
ORDER BY bin
"""


@register("q151_psi_drift", oracle=_Q151_ORACLE)
def q151_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return _psi_terms(
        orders.select(F.col("o_totalprice").alias("v"), (_obucket() < 80).alias("is_ref")),
        [],
    )


def _psi_terms(d: DataFrame, keys: list[str]) -> DataFrame:
    """Frozen-bin PSI terms of ``d(*keys, v, is_ref)``: edges, bins,
    shares and totals per key — q151 unkeyed, q160 per segment."""
    edges = d.where("is_ref").groupBy(*keys).agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / float(_N_BINS)
    binned = _by_keys(d, edges, keys).select(
        *keys,
        bin_expr(F.col("v"), F.col("lo"), width).alias("bin"),
        "is_ref",
    )
    counts = binned.groupBy(*keys, "bin").agg(*_split_counts())
    ref_share = F.col("n_ref").cast("double") / F.col("tr")
    cur_share = F.col("n_cur").cast("double") / F.col("tc")
    return (
        with_split_totals(counts, keys)
        .select(
            *keys,
            "bin",
            "n_ref",
            "n_cur",
            ref_share.alias("ref_share"),
            cur_share.alias("cur_share"),
            F.round(psi_term_expr(ref_share, cur_share), 12).alias("psi_term"),
        )
        .orderBy(*keys, "bin")
    )


# ---------------------------------------------------------------------------
# q152 — exact two-sample KS. Cumulative counts per distinct value, max
# absolute ECDF gap. The cumulative scan rides the bucketed prefix
# operator (operators/prefix.py) — the distinct-value frame grows with
# the value domain, and a Window.orderBy("v") would serialize it into one
# task; bucket = floor(v/1000), the q203 discipline on the same
# o_totalprice domain. Every arithmetic step is
# exact (bigint cumsums, correctly-rounded divisions) and the scan
# produces the SAME cumulative counts as the naive window, so the
# statistic hash-matches the oracle unchanged.
# ---------------------------------------------------------------------------

_Q152_ORACLE = f"""
WITH d AS (
  SELECT o_totalprice AS v, {_SQL_OBUCKET} < 80 AS is_ref FROM orders
), per AS (
  SELECT v,
         COUNT(*) FILTER (is_ref) AS nr,
         COUNT(*) FILTER (NOT is_ref) AS nc
  FROM d GROUP BY v
), c AS (
  SELECT SUM(nr) OVER (ORDER BY v) AS cr,
         SUM(nc) OVER (ORDER BY v) AS cc,
         SUM(nr) OVER () AS tr,
         SUM(nc) OVER () AS tc
  FROM per
)
SELECT CAST(MAX(tr) AS BIGINT) AS n_ref,
       CAST(MAX(tc) AS BIGINT) AS n_cur,
       MAX(ABS(CAST(cr AS DOUBLE) / tr - CAST(cc AS DOUBLE) / tc)) AS ks_stat
FROM c
"""


@register("q152_ks_drift", oracle=_Q152_ORACLE)
def q152_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    d = orders.select(
        F.col("o_totalprice").alias("v"), (_obucket() < 80).alias("is_ref")
    )
    # Both cumsums and both split totals ride ONE bucketed pass (four
    # prefix_agg specs share the partial groupBy, offset window,
    # within-bucket sort and join), and the distinct-value frame is cached
    # for its two consumers (partials + row join), so the orders scan +
    # collapse runs once. The cache is bounded by the value domain, the
    # same cardinality argument as exact_quantiles' collapsed frame
    # (SCALING.md persist-vs-recompute policy).
    per = (
        d.groupBy("v")
        .agg(
            F.count(F.when(F.col("is_ref"), 1)).alias("nr"),
            F.count(F.when(~F.col("is_ref"), 1)).alias("nc"),
        )
        .cache()
    )
    bkt = F.floor(F.col("v") / 1000).cast("bigint")
    specs = [
        ("nr", "cr", "sum"),
        ("nc", "cc", "sum"),
        ("nr", "tr", "total"),
        ("nc", "tc", "total"),
    ]
    return prefix_agg(per, ["v"], specs, bucket=bkt).agg(
        F.max("tr").cast("bigint").alias("n_ref"),
        F.max("tc").cast("bigint").alias("n_cur"),
        F.max(
            F.abs(
                F.col("cr").cast("double") / F.col("tr")
                - F.col("cc").cast("double") / F.col("tc")
            )
        ).alias("ks_stat"),
    )


# ---------------------------------------------------------------------------
# q153 — chi-square homogeneity per category. Expected counts come from
# the pooled distribution; contributions (obs-exp)^2/exp are emitted per
# category for both splits as COLUMNS (no cross-row sum of irrational
# doubles — the q103 rule). Terms are rational in integer counts, but the
# division chain ((n*t)/T then squaring) makes the last ulp sensitive to
# association order, so terms are rounded (the q54 rule, 9 dp).
# ---------------------------------------------------------------------------

_Q153_ORACLE = f"""
WITH d AS (
  SELECT o_orderpriority AS cat, {_SQL_OBUCKET} < 80 AS is_ref FROM orders
), counts AS (
  SELECT cat,
         COUNT(*) FILTER (is_ref) AS n_ref,
         COUNT(*) FILTER (NOT is_ref) AS n_cur
  FROM d GROUP BY cat
), tot AS (
  SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc, SUM(n_ref + n_cur) AS t FROM counts
)
SELECT cat,
       CAST(n_ref AS BIGINT) AS n_ref,
       CAST(n_cur AS BIGINT) AS n_cur,
       ROUND(POW(n_ref - (CAST(n_ref + n_cur AS DOUBLE) * tr / t), 2)
             / (CAST(n_ref + n_cur AS DOUBLE) * tr / t), 9) AS chi2_ref_term,
       ROUND(POW(n_cur - (CAST(n_ref + n_cur AS DOUBLE) * tc / t), 2)
             / (CAST(n_ref + n_cur AS DOUBLE) * tc / t), 9) AS chi2_cur_term
FROM counts, tot
ORDER BY cat
"""


@register("q153_chi2_drift", oracle=_Q153_ORACLE)
def q153_chi2_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    d = orders.select(
        F.col("o_orderpriority").alias("cat"), (_obucket() < 80).alias("is_ref")
    )
    counts = d.groupBy("cat").agg(*_split_counts())
    tot = counts.agg(
        F.sum("n_ref").alias("tr"),
        F.sum("n_cur").alias("tc"),
        F.sum(F.col("n_ref") + F.col("n_cur")).alias("t"),
    )
    exp_ref = (F.col("n_ref") + F.col("n_cur")).cast("double") * F.col("tr") / F.col("t")
    exp_cur = (F.col("n_ref") + F.col("n_cur")).cast("double") * F.col("tc") / F.col("t")
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "cat",
            "n_ref",
            "n_cur",
            F.round(F.pow(F.col("n_ref") - exp_ref, 2) / exp_ref, 9).alias(
                "chi2_ref_term"
            ),
            F.round(F.pow(F.col("n_cur") - exp_cur, 2) / exp_cur, 9).alias(
                "chi2_cur_term"
            ),
        )
        .orderBy("cat")
    )


# ---------------------------------------------------------------------------
# q154 — embedding drift: per-dimension centroid shift between the
# reference/current hash split of the embeddings table — the vector-space
# face of the drift family (a retriever whose corpus embedding centroid
# moved is about to mis-rank). Centroids use q72's FP-deterministic
# sorted-fold mean, so c_ref/c_cur bit-match the oracle and the derived
# shift columns need no rounding (subtraction and squaring of identical
# doubles are exact). Scale: one explode + one groupBy(dim) — shuffle
# carries O(dims) result rows; the explode volume is rows x dims, the
# same class as q72.
# ---------------------------------------------------------------------------

_SQL_VBUCKET = _sql_bucket("vec_id")

_Q154_ORACLE = f"""
WITH v AS (
  SELECT {_SQL_VBUCKET} < 80 AS is_ref,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), ex AS (
  SELECT is_ref, unnest(range(len(e))) AS dim, unnest(e) AS val FROM v
), c AS (
  SELECT dim,
         CAST(COUNT(*) FILTER (is_ref) AS BIGINT) AS n_ref,
         CAST(COUNT(*) FILTER (NOT is_ref) AS BIGINT) AS n_cur,
         list_sum(list_sort(list(val) FILTER (is_ref)))
           / COUNT(*) FILTER (is_ref) AS c_ref,
         list_sum(list_sort(list(val) FILTER (NOT is_ref)))
           / COUNT(*) FILTER (NOT is_ref) AS c_cur
  FROM ex GROUP BY dim
)
SELECT dim, n_ref, n_cur, c_ref, c_cur,
       c_cur - c_ref AS shift,
       (c_cur - c_ref) * (c_cur - c_ref) AS shift2
FROM c ORDER BY dim
"""


@register("q154_embedding_drift", oracle=_Q154_ORACLE)
def q154_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _centroid_shift(spark, sf_dir, [])


def _centroid_shift(spark: SparkSession, sf_dir: str, keys: list[str]) -> DataFrame:
    """Per-(key..., dim) sorted-fold centroids of the embeddings split
    and their shift — q154 unkeyed, q162 per label."""
    from .similarity import as_double

    v = load_table(spark, sf_dir, "embeddings").select(
        *keys,
        (_bucket("vec_id") < 80).alias("is_ref"),
        as_double(F.col("embedding")).alias("e"),
    )
    ex = v.select(*keys, "is_ref", F.posexplode("e").alias("dim", "val"))
    c = ex.groupBy(*keys, "dim").agg(
        *_split_counts(),
        fold_mean_expr(F.col("is_ref"), F.col("val")).alias("c_ref"),
        fold_mean_expr(~F.col("is_ref"), F.col("val")).alias("c_cur"),
    )
    shift = F.col("c_cur") - F.col("c_ref")
    return c.select(
        *keys,
        "dim",
        "n_ref",
        "n_cur",
        "c_ref",
        "c_cur",
        shift.alias("shift"),
        (shift * shift).alias("shift2"),
    ).orderBy(*keys, "dim")


# ---------------------------------------------------------------------------
# q155 — token-distribution JS divergence between the documents hash split:
# the corpus-drift monitor an LLM-data pipeline runs per crawl drop (a
# vocabulary whose head terms shifted means the mixture moved). Per-term
# Jensen-Shannon contributions — 1/2·p·log2(p/m) + 1/2·q·log2(q/m),
# m=(p+q)/2, zero-share branches defined as 0 — emitted as rows (the
# q103 no-cross-row-irrational-sum rule; Σ terms = JSD ∈ [0,1]). Shares
# are exact bigint divisions; only the log2 terms are rounded (q54 rule).
# Scale: explode -> one groupBy(term) — the q67 exact-TF class; output is
# O(vocabulary). For unbounded vocabularies the monitor runs on the q100
# certified heavy-hitter head instead.
# ---------------------------------------------------------------------------


def _sql_js_term(p: str, m: str) -> str:
    return f"CASE WHEN {p} > 0 THEN 0.5 * {p} * log2({p} / {m}) ELSE 0.0 END"


def _q155_oracle() -> str:
    from .dedup import _SQL_BUCKET
    from .textops import _SQL_TOKS

    p = "(CAST(n_ref AS DOUBLE) / tr)"
    q = "(CAST(n_cur AS DOUBLE) / tc)"
    m = f"(({p} + {q}) / 2.0)"
    return f"""
WITH tok AS (
  SELECT {_SQL_BUCKET} < 80 AS is_ref, unnest({_SQL_TOKS}) AS term
  FROM documents
), counts AS (
  SELECT term,
         COUNT(*) FILTER (is_ref) AS n_ref,
         COUNT(*) FILTER (NOT is_ref) AS n_cur
  FROM tok WHERE term <> '' GROUP BY term
), tot AS (
  SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc FROM counts
)
SELECT term,
       CAST(n_ref AS BIGINT) AS n_ref,
       CAST(n_cur AS BIGINT) AS n_cur,
       ROUND({_sql_js_term(p, m)} + {_sql_js_term(q, m)}, 12) AS js_term
FROM counts, tot
ORDER BY term
"""


@register("q155_token_js_drift", oracle=_q155_oracle())
def q155_token_js_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _js_terms(spark, sf_dir, [])


def _js_terms(spark: SparkSession, sf_dir: str, keys: list[str]) -> DataFrame:
    """Per-(key..., term) JS terms of the documents' ``(*keys, is_ref,
    term)`` token frame, shares over each key's totals — q155 unkeyed,
    q161 per source."""
    # the split bucket is projected before the explode: one md5 per
    # document, not one per token
    toks = load_table(spark, sf_dir, "documents").select(
        *keys, (_bucket("doc_id") < 80).alias("is_ref"), X.tokens(F.col("text")).alias("toks")
    )
    tok = toks.select(
        *keys, "is_ref", F.explode_outer("toks").alias("term")
    ).where(F.col("term").isNotNull() & (F.col("term") != ""))
    counts = tok.groupBy(*keys, "term").agg(*_split_counts())
    p = F.col("n_ref").cast("double") / F.col("tr")
    q = F.col("n_cur").cast("double") / F.col("tc")
    return (
        with_split_totals(counts, keys)
        .select(*keys, "term", "n_ref", "n_cur", F.round(js_term_expr(p, q), 12).alias("js_term"))
        .orderBy(*keys, "term")
    )


# ---------------------------------------------------------------------------
# q156 — sketch-based two-sample KS: the UNBOUNDED-domain scale path q152
# documents. Each split builds a mergeable t-digest (map-side partials,
# operators/sketches); the approximate statistic is the max CDF gap over
# the union of centroid means. Only O(partitions x delta) centroid floats
# ever reach the driver — the exact q152's per-value ordered window is
# replaced by sketch kilobytes, so this form runs on a value domain of
# any cardinality. Rows-only per the driver contract (a sketch is not
# SQL-expressible); tests/test_drift.py pins |approx - exact| against
# q152 on the gate data AND on planted shifts.
# ---------------------------------------------------------------------------


@register("q156_ks_drift_sketch")
def q156_ks_drift_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import (
        ks_from_digests,
        merge_partial_rows,
        tdigest_partials,
    )

    orders = load_table(spark, sf_dir, "orders")
    d = orders.select(
        F.when(_bucket("o_orderkey") < 80, "ref").otherwise("cur").alias("k"),
        F.col("o_totalprice").alias("v"),
    )
    rows = tdigest_partials(d, "k", "v").collect()
    merged: dict[str, tuple] = {}
    counts: dict[str, int] = {}
    for key in ("ref", "cur"):
        m, w = merge_partial_rows([r for r in rows if r["key"] == key], 200.0)
        # counts are the digested (non-NaN) masses — q152 counts raw rows,
        # so they agree exactly on NaN-free measures like o_totalprice
        counts[key] = int(round(float(w.sum())))
        merged[key] = (m, w)
    # an empty split (every key hashed one way, or an empty table) reads
    # NaN — no distribution to compare, same grace as ks_from_digests
    ks = ks_from_digests(*merged["ref"], *merged["cur"])
    return local_frame(
        spark,
        [(counts["ref"], counts["cur"], float(ks))],
        "n_ref bigint, n_cur bigint, ks_stat_approx double",
    )


# ---------------------------------------------------------------------------
# q160 — PSI per SEGMENT (multi-population monitor): q151's frozen-bin PSI
# computed independently per o_orderpriority — the per-model-segment
# deployment shape (one scored segment drifting hides inside a flat
# corpus-level PSI; per-segment terms localize it). Bin edges are frozen
# per segment from THAT segment's reference rows; shares are per-segment
# exact int/int divisions; only the ln() term is rounded (q54 rule).
#
# Scale: edges = one |segments|-row aggregate broadcast back; then one
# narrow map + one (segment, bin)-keyed aggregate (O(segments x bins)
# output) + a |segments|-row totals broadcast. No window, no skew hazard
# beyond the groupBy itself.
# ---------------------------------------------------------------------------

_Q160_ORACLE = f"""
WITH d AS (
  SELECT o_orderpriority AS segment, o_totalprice AS v,
         {_SQL_OBUCKET} < 80 AS is_ref
  FROM orders
), edges AS (
  SELECT segment, MIN(v) AS lo, MAX(v) AS hi FROM d WHERE is_ref GROUP BY segment
), binned AS (
  SELECT d.segment,
         LEAST(GREATEST(CAST(FLOOR((v - lo) / ((hi - lo) / {_N_BINS}.0)) AS INTEGER), 0),
               {_N_BINS - 1}) AS bin,
         is_ref
  FROM d JOIN edges ON d.segment = edges.segment
), counts AS (
  SELECT segment, bin,
         COUNT(*) FILTER (is_ref) AS n_ref,
         COUNT(*) FILTER (NOT is_ref) AS n_cur
  FROM binned GROUP BY segment, bin
), tot AS (
  SELECT segment, SUM(n_ref) AS tr, SUM(n_cur) AS tc FROM counts GROUP BY segment
)
SELECT counts.segment,
       bin,
       CAST(n_ref AS BIGINT) AS n_ref,
       CAST(n_cur AS BIGINT) AS n_cur,
       CAST(n_ref AS DOUBLE) / tr AS ref_share,
       CAST(n_cur AS DOUBLE) / tc AS cur_share,
       ROUND((CAST(n_cur AS DOUBLE) / tc - CAST(n_ref AS DOUBLE) / tr)
             * ln(GREATEST(CAST(n_cur AS DOUBLE) / tc, {_EPS!r})
                  / GREATEST(CAST(n_ref AS DOUBLE) / tr, {_EPS!r})), 12) AS psi_term
FROM counts JOIN tot ON counts.segment = tot.segment
ORDER BY counts.segment, bin
"""


@register("q160_psi_by_segment", oracle=_Q160_ORACLE)
def q160_psi_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    d = orders.select(
        F.col("o_orderpriority").alias("segment"),
        F.col("o_totalprice").alias("v"),
        (_obucket() < 80).alias("is_ref"),
    )
    return _psi_terms(d, ["segment"])


# ---------------------------------------------------------------------------
# q161 — token JS divergence PER SOURCE (q155's multi-population face,
# the same localization move q160 makes for PSI): one crawl feed whose
# vocabulary moved hides inside the corpus-level JSD; per-source terms
# name the feed. Counts key on (source, term); totals and shares are
# per-source exact bigint divisions; zero-share branches are 0 and only
# the log2 terms are rounded (q54 rule).
# Scale: explode -> one groupBy(source, term) (the q67 per-source TF
# class) + a |sources|-row totals broadcast; output is O(sources x
# per-source vocabulary) — the unbounded-vocab path is the q100
# certified head per source, exactly as q155 documents corpus-wide.
# ---------------------------------------------------------------------------


def _q161_oracle() -> str:
    from .dedup import _SQL_BUCKET
    from .textops import _SQL_TOKS

    p = "(CAST(n_ref AS DOUBLE) / tr)"
    q = "(CAST(n_cur AS DOUBLE) / tc)"
    m = f"(({p} + {q}) / 2.0)"
    return f"""
WITH tok AS (
  SELECT source, {_SQL_BUCKET} < 80 AS is_ref, unnest({_SQL_TOKS}) AS term
  FROM documents
), counts AS (
  SELECT source, term,
         COUNT(*) FILTER (is_ref) AS n_ref,
         COUNT(*) FILTER (NOT is_ref) AS n_cur
  FROM tok WHERE term <> '' GROUP BY source, term
), tot AS (
  SELECT source, SUM(n_ref) AS tr, SUM(n_cur) AS tc FROM counts GROUP BY source
)
SELECT counts.source, term,
       CAST(n_ref AS BIGINT) AS n_ref,
       CAST(n_cur AS BIGINT) AS n_cur,
       ROUND({_sql_js_term(p, m)} + {_sql_js_term(q, m)}, 12) AS js_term
FROM counts JOIN tot ON counts.source = tot.source
ORDER BY counts.source, term
"""


@register("q161_token_js_by_source", oracle=_q161_oracle())
def q161_token_js_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _js_terms(spark, sf_dir, ["source"])


# ---------------------------------------------------------------------------
# q162 — embedding-centroid shift PER LABEL (q154's multi-population
# face): a drifting class centroid (one label's vectors moved — a
# re-embedded slice, a poisoned class) hides inside the all-vector
# means; per-(label, dim) shifts name the class. Same FP determinism as
# q154/q72: per-group means are sorted-fold sums (hash-exact, NO
# rounding), splits by the vec_id md5 bucket.
# Scale: posexplode -> one groupBy(label, dim); collect_list holds one
# group's values per (label, dim) — bounded by the largest class, the
# same envelope as q154's per-dim lists; output O(labels x dims).
# ---------------------------------------------------------------------------

_Q162_ORACLE = f"""
WITH v AS (
  SELECT label, {_SQL_VBUCKET} < 80 AS is_ref,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), ex AS (
  SELECT label, is_ref, unnest(range(len(e))) AS dim, unnest(e) AS val FROM v
), c AS (
  SELECT label, dim,
         CAST(COUNT(*) FILTER (is_ref) AS BIGINT) AS n_ref,
         CAST(COUNT(*) FILTER (NOT is_ref) AS BIGINT) AS n_cur,
         list_sum(list_sort(list(val) FILTER (is_ref)))
           / COUNT(*) FILTER (is_ref) AS c_ref,
         list_sum(list_sort(list(val) FILTER (NOT is_ref)))
           / COUNT(*) FILTER (NOT is_ref) AS c_cur
  FROM ex GROUP BY label, dim
)
SELECT label, dim, n_ref, n_cur, c_ref, c_cur,
       c_cur - c_ref AS shift,
       (c_cur - c_ref) * (c_cur - c_ref) AS shift2
FROM c ORDER BY label, dim
"""


@register("q162_embedding_drift_by_label", oracle=_Q162_ORACLE)
def q162_embedding_drift_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _centroid_shift(spark, sf_dir, ["label"])
