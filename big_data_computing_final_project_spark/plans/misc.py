"""Remaining inventory queries: group-collect (A10), the generic describe
API in exact mode (A2), bootstrap sampling (J4), tree-rule dump (M13).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.profiling import bootstrap_sample, describe
from ..sources.io import local_frame
from .registry import register

# ---------------------------------------------------------------------------
# q59 — group-by collect (A10: `groupby(...)` per-group listing,
# `data_analysis.ipynb` cell 58736659): sorted distinct nation set per
# market segment. collect_set shuffles only the distinct values.
# ---------------------------------------------------------------------------

_Q59_ORACLE = """
SELECT c_mktsegment,
       string_agg(DISTINCT c_nationkey, ',' ORDER BY c_nationkey) AS nations,
       COUNT(DISTINCT c_nationkey) AS n_nations
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@register("q59_group_collect", oracle=_Q59_ORACLE)
def q59_group_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The driver surface emits the set as a comma-joined scalar string
    # (numeric sort order preserved) — the comparison harness hashes column
    # values with pandas, which cannot hash list cells.
    customer = load_table(spark, sf_dir, "customer")
    return (
        customer.groupBy("c_mktsegment")
        .agg(
            F.concat_ws(
                ",", F.sort_array(F.collect_set("c_nationkey")).cast("array<string>")
            ).alias("nations"),
            F.countDistinct("c_nationkey").alias("n_nations"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# q60 — the generic describe API, exact mode (A2/A4/A6/A7 in one call).
# ---------------------------------------------------------------------------

_Q60_COLS = ["l_quantity", "l_discount", "l_extendedprice"]


def _q60_oracle() -> str:
    parts = []
    for c in _Q60_COLS:
        s1 = f"CAST(CAST(SUM(CAST({c} AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE)"
        s2 = f"CAST(CAST(SUM(CAST({c} * {c} AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE)"
        n = f"CAST(COUNT({c}) AS DOUBLE)"
        parts.append(
            f"""
SELECT '{c}' AS column_name,
       COUNT({c}) AS count,
       {s1} / {n} AS mean,
       sqrt(({s2} - {s1} * {s1} / {n}) / ({n} - 1.0)) AS stddev,
       CAST(MIN({c}) AS DOUBLE) AS min,
       CAST(quantile_cont({c}, 0.25) AS DOUBLE) AS p25,
       CAST(quantile_cont({c}, 0.50) AS DOUBLE) AS p50,
       CAST(quantile_cont({c}, 0.75) AS DOUBLE) AS p75,
       CAST(MAX({c}) AS DOUBLE) AS max,
       COUNT(DISTINCT {c}) AS n_distinct
FROM lineitem"""
        )
    return " UNION ALL ".join(parts) + " ORDER BY column_name"


@register("q60_describe_exact", oracle=_q60_oracle())
def q60_describe_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return describe(li, _Q60_COLS, exact=True)


# ---------------------------------------------------------------------------
# q61 — bootstrap sample aggregate (J4). Rows-only: Spark's Poisson-based
# with-replacement sampling has no DuckDB twin; pytest asserts the
# seed-determinism + size distribution instead.
# ---------------------------------------------------------------------------


@register("q61_bootstrap_sample")
def q61_bootstrap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    boot = bootstrap_sample(orders, seed=42)
    return boot.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n")).orderBy("o_orderstatus")


# ---------------------------------------------------------------------------
# q62 — decision-path rule dump (M13: `get_tree_rules`,
# `house_predict_model.ipynb` cell 2ccce02e → `toDebugString`). Rows-only:
# one row per rule line, stable ordering.
# ---------------------------------------------------------------------------


@register("q62_tree_rules")
def q62_tree_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.models import decision_tree
    from .ml_queries import _embedding_features

    df = _embedding_features(spark, sf_dir)
    model = decision_tree(max_depth=4, min_instances_per_node=5).fit(df)
    lines = [
        (i, line.strip()) for i, line in enumerate(model.toDebugString.splitlines()) if line.strip()
    ]
    return local_frame(spark, lines, "line_no int, rule string").orderBy("line_no")


# ---------------------------------------------------------------------------
# q63 — sort by expression key (O2: `sort_values('correlation', key=abs)`,
# `Sol_2.ipynb` cell f0d404e5): correlation pairs ranked by |r|.
# ---------------------------------------------------------------------------

_Q63_ORACLE = """
WITH m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS sq,
         CAST(CAST(SUM(CAST(l_discount AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS sd,
         CAST(CAST(SUM(CAST(l_tax AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS st,
         CAST(CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS sqq,
         CAST(CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS sdd,
         CAST(CAST(SUM(CAST(l_tax * l_tax AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS stt,
         CAST(CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS sqd,
         CAST(CAST(SUM(CAST(l_quantity * l_tax AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS sqt,
         CAST(CAST(SUM(CAST(l_discount * l_tax AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS sdt
  FROM lineitem
), r AS (
  SELECT 'l_quantity' AS col_x, 'l_discount' AS col_y,
         (n*sqd - sq*sd) / sqrt((n*sqq - sq*sq) * (n*sdd - sd*sd)) AS r FROM m
  UNION ALL
  SELECT 'l_quantity', 'l_tax',
         (n*sqt - sq*st) / sqrt((n*sqq - sq*sq) * (n*stt - st*st)) FROM m
  UNION ALL
  SELECT 'l_discount', 'l_tax',
         (n*sdt - sd*st) / sqrt((n*sdd - sd*sd) * (n*stt - st*st)) FROM m
)
SELECT col_x, col_y, r FROM r
ORDER BY abs(r) DESC, col_x, col_y
"""


@register("q63_sort_by_abs_corr", oracle=_Q63_ORACLE)
def q63_sort_by_abs_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profiling import corr_matrix

    li = load_table(spark, sf_dir, "lineitem")
    # wide=False: |quantity| <= 50, |discount|,|tax| <= ~0.1, so every
    # square/cross product * 10^8 sits far under the fast-path bound —
    # digit-identical to the BigDecimal path, ~3x faster aggregate
    return corr_matrix(li, ["l_quantity", "l_discount", "l_tax"], wide=False).orderBy(
        F.abs(F.col("r")).desc(), "col_x", "col_y"
    )


# ---------------------------------------------------------------------------
# q215 — order reconciliation metrics (MAE / RMSE / R2): o_totalprice
# against the recomputed line-charge sum — simultaneously the classic DQ
# reconciliation check and the regression-metric primitives (M11's
# regression half). Every sum runs in EXACT decimal: the residual is a
# scale-8 decimal difference, its square an exact decimal(37,16) product
# (per-row casts are lossless, so both engines see identical values under
# any reduction order); only the final mean/sqrt/ratio are double ops,
# which are bit-identical IEEE on identical inputs. The synthetic
# o_totalprice is deliberately uncorrelated with the line sum, so the
# metrics are non-degenerate at every SF.
# ---------------------------------------------------------------------------

_Q215_ORACLE = """
WITH s AS (
  SELECT l_orderkey,
         SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                  AS DECIMAL(38,8))) AS yhat
  FROM lineitem GROUP BY l_orderkey
), j AS (
  SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS y, yhat,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) - yhat AS DECIMAL(18,8)) AS r
  FROM orders JOIN s ON o_orderkey = l_orderkey
)
-- decimal -> VARCHAR -> DOUBLE on every >2^53 sum: DuckDB's direct
-- decimal-to-double cast double-rounds through the unscaled int128 (1 ulp
-- off the correctly-rounded value), exactly like Spark's
-- BigDecimal.doubleValue; the decimal string parses correctly-rounded in
-- both engines, so both sides convert identically (see the Spark twin)
SELECT COUNT(*) AS n,
       CAST(CAST(SUM(ABS(r)) AS VARCHAR) AS DOUBLE) / COUNT(*) AS mae,
       -- the widening cast forces DuckDB's int128 multiply path (the
       -- int64 storage product overflows); value and scale unchanged
       SQRT(CAST(CAST(SUM(CAST(r AS DECIMAL(19,8)) * r) AS VARCHAR) AS DOUBLE) / COUNT(*)) AS rmse,
       1 - CAST(CAST(SUM(CAST(r AS DECIMAL(19,8)) * r) AS VARCHAR) AS DOUBLE)
         / (CAST(CAST(SUM(y * y) AS VARCHAR) AS DOUBLE)
            - CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) * CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) / COUNT(*)) AS r2
FROM j
"""


@register("q215_reconciliation_metrics", oracle=_Q215_ORACLE)
def q215_reconciliation_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    charge = (
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    ).cast("decimal(38,8)")
    s = li.groupBy("l_orderkey").agg(F.sum(charge).alias("yhat"))
    y = F.col("o_totalprice").cast("decimal(18,2)")
    j = orders.join(s, orders.o_orderkey == s.l_orderkey).select(
        y.alias("y"), (y - F.col("yhat")).cast("decimal(18,8)").alias("r")
    )
    agg = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.abs(F.col("r"))).alias("sr"),
        F.sum(F.col("r") * F.col("r")).alias("srr"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n")

    # decimal -> string -> double: Spark's direct decimal-to-double cast
    # (BigDecimal.doubleValue) double-rounds (unscaled/10^scale — two
    # roundings) and can be 1 ulp off the correctly-rounded value DuckDB
    # produces for >2^53 sums; the decimal STRING parses correctly-rounded
    # in both engines
    def d(c: F.Column) -> F.Column:
        return c.cast("string").cast("double")

    srr = d(F.col("srr"))
    return agg.select(
        "n",
        (d(F.col("sr")) / n).alias("mae"),
        F.sqrt(srr / n).alias("rmse"),
        (
            F.lit(1)
            - srr / (d(F.col("syy")) - d(F.col("sy")) * d(F.col("sy")) / n)
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# q216 — approximate query processing (AQP) audit: revenue estimated from
# a deterministic 2% hash sample vs the exact total, with the realized
# relative error. The pattern a 100-TB dashboard runs (scan 1/50th of the
# fact, scale by the sampling rate) made fully oracle-checkable because
# the sample is the md5 bucket split (functions/text.md5_bucket — the
# engine-portable hash), not Bernoulli randomness. Exact decimal sums on
# both branches; the estimate/error division happens on correctly-rounded
# doubles. Also the honest-AQP demo: the committed artifact includes the
# realized error, not just the estimate.
# ---------------------------------------------------------------------------

_Q216_SAMPLE_MOD = 50  # keep bucket 0 of 50 => 2% sample

_Q216_ORACLE = f"""
WITH s AS (
  SELECT SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS rev_s,
         COUNT(*) AS n_s
  FROM lineitem
  WHERE ('0x' || substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT
        % {_Q216_SAMPLE_MOD} = 0
), e AS (
  SELECT SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS rev,
         COUNT(*) AS n
  FROM lineitem
)
SELECT n, n_s,
       CAST(CAST(rev AS VARCHAR) AS DOUBLE) AS exact_revenue,
       CAST(CAST(rev_s AS VARCHAR) AS DOUBLE) * {_Q216_SAMPLE_MOD} AS est_revenue,
       ABS(CAST(CAST(rev_s AS VARCHAR) AS DOUBLE) * {_Q216_SAMPLE_MOD}
           - CAST(CAST(rev AS VARCHAR) AS DOUBLE))
         / CAST(CAST(rev AS VARCHAR) AS DOUBLE) AS rel_error
FROM s, e
"""


@register("q216_aqp_sample_estimate", oracle=_Q216_ORACLE)
def q216_aqp_sample_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import md5_bucket

    li = load_table(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,6)")

    def d(c: F.Column) -> F.Column:  # correctly-rounded decimal->double
        return c.cast("string").cast("double")

    sample = li.filter(md5_bucket(F.col("l_orderkey"), _Q216_SAMPLE_MOD) == 0).agg(
        F.sum(rev).alias("rev_s"), F.count(F.lit(1)).alias("n_s")
    )
    exact = li.agg(F.sum(rev).alias("rev"), F.count(F.lit(1)).alias("n"))
    est = d(F.col("rev_s")) * _Q216_SAMPLE_MOD
    ex = d(F.col("rev"))
    return sample.crossJoin(F.broadcast(exact)).select(
        "n",
        "n_s",
        ex.alias("exact_revenue"),
        est.alias("est_revenue"),
        (F.abs(est - ex) / ex).alias("rel_error"),
    )


# ---------------------------------------------------------------------------
# q217 — stratified AQP: the q216 estimator per stratum (return flag),
# plus the stratified combined estimate. Stratification is the standard
# variance-reduction for group-skewed facts — each stratum is scaled by
# its own rate, so a small stratum is never swamped by the global sample.
# Same deterministic md5 bucket, same exact decimal sums, same
# correctly-rounded conversions; fully oracle-checkable.
# ---------------------------------------------------------------------------

_Q217_ORACLE = f"""
WITH s AS (
  SELECT l_returnflag AS stratum,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS rev_s,
         COUNT(*) AS n_s
  FROM lineitem
  WHERE ('0x' || substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT
        % {_Q216_SAMPLE_MOD} = 0
  GROUP BY l_returnflag
), e AS (
  SELECT l_returnflag AS stratum,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS rev,
         COUNT(*) AS n
  FROM lineitem GROUP BY l_returnflag
)
SELECT e.stratum, n, n_s,
       CAST(CAST(rev AS VARCHAR) AS DOUBLE) AS exact_revenue,
       CAST(CAST(rev_s AS VARCHAR) AS DOUBLE) * {_Q216_SAMPLE_MOD} AS est_revenue,
       ABS(CAST(CAST(rev_s AS VARCHAR) AS DOUBLE) * {_Q216_SAMPLE_MOD}
           - CAST(CAST(rev AS VARCHAR) AS DOUBLE))
         / CAST(CAST(rev AS VARCHAR) AS DOUBLE) AS rel_error
FROM e JOIN s ON e.stratum = s.stratum
ORDER BY e.stratum
"""


@register("q217_aqp_stratified", oracle=_Q217_ORACLE)
def q217_aqp_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import md5_bucket

    li = load_table(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,6)")

    def d(c: F.Column) -> F.Column:
        return c.cast("string").cast("double")

    sample = (
        li.filter(md5_bucket(F.col("l_orderkey"), _Q216_SAMPLE_MOD) == 0)
        .groupBy(F.col("l_returnflag").alias("stratum"))
        .agg(F.sum(rev).alias("rev_s"), F.count(F.lit(1)).alias("n_s"))
    )
    exact = li.groupBy(F.col("l_returnflag").alias("stratum")).agg(
        F.sum(rev).alias("rev"), F.count(F.lit(1)).alias("n")
    )
    est = d(F.col("rev_s")) * _Q216_SAMPLE_MOD
    ex = d(F.col("rev"))
    return (
        exact.join(sample, "stratum")
        .select(
            "stratum",
            "n",
            "n_s",
            ex.alias("exact_revenue"),
            est.alias("est_revenue"),
            (F.abs(est - ex) / ex).alias("rel_error"),
        )
        .orderBy("stratum")
    )
