"""Profiling / descriptive-statistics queries (SURVEY.md §2.6 A1-A17 and
§2.4 binning) — the reference's `data_analysis.ipynb` workload re-expressed
as distributed single-pass aggregations.

Scale notes:
- every stat is a one-pass partial+final aggregate (Catalyst HashAggregate);
  nothing collects raw data to the driver;
- bin edges are computed *inside the plan* (cross join with a 1-row agg,
  broadcast) rather than driver-side collect-then-literal — the same plan
  works when the table is 100 TB;
- skew/kurtosis use bias-corrected G1/G2 from decimal power sums
  (pandas semantics, order-independent — see functions/stats.py);
- quantiles use exact `percentile` to match the oracle; the engine's
  at-scale default is `percentile_approx` (see operators/profiling.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.stats import (
    dec_sum,
    kurtosis_g2,
    power_sums,
    sample_variance,
    skewness_g1,
    sql_dec_sum,
)
from ..operators.sizing import broadcast_if_small
from .registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# q17 — value_counts with normalized share (A1: `df['label'].value_counts()`;
# `Sol_2.ipynb:230-231`). Total via scalar-subquery-shaped broadcast, not a
# single-partition window.
# ---------------------------------------------------------------------------

_Q17_ORACLE = """
SELECT event_type, COUNT(*) AS n,
       CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM events) AS share
FROM events
GROUP BY event_type
ORDER BY n DESC, event_type
"""


@register("q17_value_counts", oracle=_Q17_ORACLE)
def q17_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    total = ev.agg(F.count(F.lit(1)).alias("_total"))
    return (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(F.broadcast(total))
        .select(
            "event_type",
            "n",
            (F.col("n").cast("double") / F.col("_total")).alias("share"),
        )
        .orderBy(F.col("n").desc(), "event_type")
    )


# ---------------------------------------------------------------------------
# q18 — null counts per column (A3: `df.isnull().sum()`,
# `data_analysis.ipynb:243`). COUNT(filter) keeps both engines in BIGINT.
# ---------------------------------------------------------------------------

_Q18_ORACLE = """
SELECT
  COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS o_orderkey_nulls,
  COUNT(*) FILTER (WHERE o_custkey IS NULL) AS o_custkey_nulls,
  COUNT(*) FILTER (WHERE o_orderstatus IS NULL) AS o_orderstatus_nulls,
  COUNT(*) FILTER (WHERE o_totalprice IS NULL) AS o_totalprice_nulls,
  COUNT(*) FILTER (WHERE o_orderdate IS NULL) AS o_orderdate_nulls,
  COUNT(*) FILTER (WHERE o_orderpriority IS NULL) AS o_orderpriority_nulls,
  COUNT(*) AS n_rows
FROM orders
"""


@register("q18_null_counts", oracle=_Q18_ORACLE)
def q18_null_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    aggs = [
        F.count(F.when(F.col(c).isNull(), F.lit(1))).alias(f"{c}_nulls") for c in orders.columns
    ]
    return orders.agg(*aggs, F.count(F.lit(1)).alias("n_rows"))


# ---------------------------------------------------------------------------
# q19 — describe in long format (A2/A4: `df.describe()`,
# `data_analysis.ipynb:241`): one row per numeric column with
# count/mean/std/min/max. One aggregation pass over the table, then a
# driver-free unpivot (stack).
# ---------------------------------------------------------------------------

_Q19_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _q19_oracle() -> str:
    parts = []
    for c in _Q19_COLS:
        parts.append(
            f"""
SELECT '{c}' AS column_name,
       COUNT({c}) AS n,
       {sql_dec_sum(c)} / COUNT({c}) AS mean,
       ({sql_dec_sum(f'{c} * {c}', 8)} - {sql_dec_sum(c)} * {sql_dec_sum(c)} / COUNT({c}))
         / (COUNT({c}) - 1) AS variance,
       CAST(MIN({c}) AS DOUBLE) AS min_val,
       CAST(MAX({c}) AS DOUBLE) AS max_val
FROM lineitem"""
        )
    return " UNION ALL ".join(parts) + " ORDER BY column_name"


@register("q19_describe_lineitem", oracle=_q19_oracle())
def q19_describe_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    aggs = []
    for c in _Q19_COLS:
        col = F.col(c)
        aggs += [
            F.count(col).alias(f"{c}__n"),
            dec_sum(col).alias(f"{c}__s1"),
            dec_sum(col * col, 8, wide=True).alias(f"{c}__s2"),
            F.min(col).cast("double").alias(f"{c}__min"),
            F.max(col).cast("double").alias(f"{c}__max"),
        ]
    one = li.agg(*aggs)
    # unpivot the single aggregated row into long format — mirrors the
    # oracle's UNION ALL arithmetic exactly (same sums, same double ops)
    stack_args = []
    for c in _Q19_COLS:
        n = F.col(f"{c}__n")
        s1 = F.col(f"{c}__s1")
        s2 = F.col(f"{c}__s2")
        stack_args.append(
            F.struct(
                F.lit(c).alias("column_name"),
                n.alias("n"),
                (s1 / n).alias("mean"),
                ((s2 - s1 * s1 / n) / (n - F.lit(1))).alias("variance"),
                F.col(f"{c}__min").alias("min_val"),
                F.col(f"{c}__max").alias("max_val"),
            )
        )
    return (
        one.select(F.explode(F.array(*stack_args)).alias("s"))
        .select("s.*")
        .orderBy("column_name")
    )


# ---------------------------------------------------------------------------
# q20 — bias-corrected skewness/kurtosis (A5: pandas `skew()`/`kurtosis()`
# semantics, `data_analysis.ipynb:516-517`). Spark's built-ins are
# population-form; G1/G2 computed from exact decimal power sums match the
# pandas definition AND are order-independent.
# ---------------------------------------------------------------------------


def _moment_sql(col: str, base_scale: int) -> str:
    s = base_scale
    return f"""
SELECT '{col}' AS column_name,
       CAST(COUNT({col}) AS DOUBLE) AS n,
       {sql_dec_sum(col, s)} AS s1,
       {sql_dec_sum(f'{col} * {col}', 2 * s)} AS s2,
       {sql_dec_sum(f'{col} * {col} * {col}', 3 * s)} AS s3,
       {sql_dec_sum(f'{col} * {col} * {col} * {col}', 4 * s)} AS s4
FROM {{table}}"""


_Q20_ORACLE = f"""
WITH m AS (
  {_moment_sql('l_quantity', 2).format(table='lineitem')}
  UNION ALL
  {_moment_sql('l_discount', 4).format(table='lineitem')}
)
SELECT column_name,
       (s3/n - 3*(s1/n)*(s2/n) + 2*(s1/n)*(s1/n)*(s1/n))
         / ((s2/n - (s1/n)*(s1/n)) * SQRT(s2/n - (s1/n)*(s1/n)))
         * SQRT(n*(n-1)) / (n-2) AS skew_g1,
       ((n+1) * ((s4/n - 4*(s1/n)*(s3/n) + 6*(s1/n)*(s1/n)*(s2/n)
                  - 3*(s1/n)*(s1/n)*(s1/n)*(s1/n))
                 / ((s2/n - (s1/n)*(s1/n)) * (s2/n - (s1/n)*(s1/n))) - 3) + 6)
         * (n-1) / ((n-2)*(n-3)) AS kurt_g2
FROM m
ORDER BY column_name
"""


@register("q20_skew_kurtosis", oracle=_Q20_ORACLE)
def q20_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    frames = []
    for c, s in [("l_quantity", 2), ("l_discount", 4)]:
        n, s1, s2, s3, s4 = power_sums(F.col(c), s)
        frames.append(
            li.agg(
                n.alias("n"), s1.alias("s1"), s2.alias("s2"), s3.alias("s3"), s4.alias("s4")
            ).select(
                F.lit(c).alias("column_name"),
                skewness_g1(F.col("n"), F.col("s1"), F.col("s2"), F.col("s3")).alias("skew_g1"),
                kurtosis_g2(
                    F.col("n"), F.col("s1"), F.col("s2"), F.col("s3"), F.col("s4")
                ).alias("kurt_g2"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("column_name")


# ---------------------------------------------------------------------------
# q21 — exact quantiles (A7: `data.quantile(...)`,
# `data_analysis.ipynb:520-523`). Exact `percentile` for oracle parity;
# `percentile_approx` is the documented at-scale default.
# ---------------------------------------------------------------------------

_Q21_ORACLE = """
SELECT 'l_extendedprice' AS column_name,
       quantile_cont(l_extendedprice, 0.25) AS p25,
       quantile_cont(l_extendedprice, 0.50) AS p50,
       quantile_cont(l_extendedprice, 0.75) AS p75,
       quantile_cont(l_extendedprice, 0.75) - quantile_cont(l_extendedprice, 0.25) AS iqr
FROM lineitem
UNION ALL
SELECT 'o_totalprice' AS column_name,
       quantile_cont(o_totalprice, 0.25),
       quantile_cont(o_totalprice, 0.50),
       quantile_cont(o_totalprice, 0.75),
       quantile_cont(o_totalprice, 0.75) - quantile_cont(o_totalprice, 0.25)
FROM orders
ORDER BY column_name
"""


@register("q21_quantiles", oracle=_Q21_ORACLE)
def q21_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quartiles WITHOUT Spark's `percentile()` aggregate: that
    aggregate buffers every (value, count) in one final agg buffer —
    driver-sized state on an ungrouped 100-TB fact. The linear-interpolated
    distributed path (operators/quantiles.exact_quantiles, mode="linear")
    produces bit-identical values (same IEEE interpolation shape as both
    Spark `percentile()` and DuckDB `quantile_cont`)."""
    from ..operators.quantiles import exact_quantiles

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")

    def quartiles(df: DataFrame, c: str) -> DataFrame:
        qv = exact_quantiles(df, c, [0.25, 0.5, 0.75])

        def at(q: float):
            return F.max(F.when(F.col("q") == F.lit(q), F.col("value")))

        return qv.agg(
            at(0.25).alias("p25"), at(0.5).alias("p50"), at(0.75).alias("p75")
        ).select(
            F.lit(c).alias("column_name"),
            "p25",
            "p50",
            "p75",
            (F.col("p75") - F.col("p25")).alias("iqr"),
        )

    return quartiles(li, "l_extendedprice").unionByName(quartiles(orders, "o_totalprice")).orderBy(
        "column_name"
    )


# ---------------------------------------------------------------------------
# q22 — pairwise Pearson correlation in long format (A8: `df.corr()`,
# `data_analysis.ipynb:350`). All pairs in ONE aggregation pass (the
# reference's pandas `.corr()` also single-pass); exact decimal cross sums.
# ---------------------------------------------------------------------------

_Q22_PAIRS = [
    ("l_quantity", "l_extendedprice"),
    ("l_quantity", "l_discount"),
    ("l_extendedprice", "l_discount"),
    ("l_extendedprice", "l_tax"),
]


def _q22_oracle() -> str:
    sums, outs = [], []
    for i, (x, y) in enumerate(_Q22_PAIRS):
        # products at scale 4: the 2-decimal x 2-decimal true values are
        # scale-4-exact, and |x*x|*10^4 stays within the limb fast path's
        # magnitude contract (scale 8 would put the rounding position in
        # double-noise digits AND overflow the 2^53 window)
        sums += [
            f"CAST(COUNT(*) AS DOUBLE) AS n{i}",
            f"{sql_dec_sum(x)} AS sx{i}",
            f"{sql_dec_sum(y)} AS sy{i}",
            f"{sql_dec_sum(f'{x} * {x}', 4)} AS sxx{i}",
            f"{sql_dec_sum(f'{y} * {y}', 4)} AS syy{i}",
            f"{sql_dec_sum(f'{x} * {y}', 4)} AS sxy{i}",
        ]
        outs.append(
            f"SELECT '{x}' AS col_x, '{y}' AS col_y, "
            f"(n{i}*sxy{i} - sx{i}*sy{i}) / SQRT((n{i}*sxx{i} - sx{i}*sx{i}) * (n{i}*syy{i} - sy{i}*sy{i})) AS r "
            f"FROM m"
        )
    return (
        "WITH m AS (SELECT " + ", ".join(sums) + " FROM lineitem) "
        + " UNION ALL ".join(outs)
        + " ORDER BY col_x, col_y"
    )


@register("q22_corr_pairs", oracle=_q22_oracle())
def q22_corr_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # Shared-moment dedup: each distinct column contributes sum/sum-of-squares
    # ONCE (not once per pair) — n + 2·|cols| + |pairs| decimal aggregates
    # instead of 6·|pairs|. Same single pass, same exact decimal math.
    cols = sorted({c for pair in _Q22_PAIRS for c in pair})
    # ~20 decimal aggregates dominate the scan here, so a single-split file
    # leaves all that math on one core: prune to the needed columns, then
    # guarded round-robin fan-out (no-op on any multi-split layout)
    from ..catalog import fan_out

    li = fan_out(li.select(*cols), spark, None)
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for c in cols:
        aggs.append(dec_sum(F.col(c)).alias(f"s_{c}"))
        aggs.append(dec_sum(F.col(c) * F.col(c), 4).alias(f"ss_{c}"))
    for i, (x, y) in enumerate(_Q22_PAIRS):
        aggs.append(dec_sum(F.col(x) * F.col(y), 4).alias(f"sxy{i}"))
    one = li.agg(*aggs)
    rows = []
    for i, (x, y) in enumerate(_Q22_PAIRS):
        n = F.col("n")
        sx, sy = F.col(f"s_{x}"), F.col(f"s_{y}")
        sxx, syy, sxy = F.col(f"ss_{x}"), F.col(f"ss_{y}"), F.col(f"sxy{i}")
        r = (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
        rows.append(F.struct(F.lit(x).alias("col_x"), F.lit(y).alias("col_y"), r.alias("r")))
    return (
        one.select(F.explode(F.array(*rows)).alias("s")).select("s.*").orderBy("col_x", "col_y")
    )


# ---------------------------------------------------------------------------
# q23 — equal-width binning histogram (B2: `np.linspace` edges + `pd.cut`,
# `house_predict.py:81-97`). Edges derive from a broadcast 1-row min/max agg
# INSIDE the plan — no driver collect, works at any scale.
# ---------------------------------------------------------------------------

_Q23_NBINS = 8

_Q23_ORACLE = f"""
WITH b AS (SELECT MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx FROM orders)
SELECT LEAST(CAST(FLOOR((o_totalprice - mn) / ((mx - mn) / {_Q23_NBINS})) AS BIGINT),
             {_Q23_NBINS - 1}) AS bucket,
       COUNT(*) AS n,
       {sql_dec_sum('o_totalprice')} AS total
FROM orders, b
GROUP BY bucket
ORDER BY bucket
"""


@register("q23_equal_width_hist", oracle=_Q23_ORACLE)
def q23_equal_width_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    bounds = orders.agg(F.min("o_totalprice").alias("mn"), F.max("o_totalprice").alias("mx"))
    width = (F.col("mx") - F.col("mn")) / F.lit(_Q23_NBINS)
    bucket = F.least(
        F.floor((F.col("o_totalprice") - F.col("mn")) / width).cast("bigint"),
        F.lit(_Q23_NBINS - 1),
    )
    return (
        orders.join(F.broadcast(bounds))
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"), dec_sum(F.col("o_totalprice")).alias("total"))
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# q24 — quantile (equal-frequency) binning (B3: quantile edges +
# `duplicates='drop'`, `house_predict.py:84-88`). Exact decile edges via
# `percentile`, bucket = #edges strictly below the value (array fold, no UDF).
# ---------------------------------------------------------------------------

_Q24_ORACLE = """
WITH e AS (
  SELECT quantile_cont(l_extendedprice,
                       [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS edges
  FROM lineitem
)
SELECT len(list_filter(edges, x -> l_extendedprice > x)) AS bucket,
       COUNT(*) AS n
FROM lineitem, e
GROUP BY bucket
ORDER BY bucket
"""


@register("q24_quantile_bins", oracle=_Q24_ORACLE)
def q24_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    qs = [i / 10 for i in range(1, 10)]
    edges = li.agg(
        F.expr(f"percentile(l_extendedprice, array({', '.join(map(str, qs))}))").alias("edges")
    )
    bucket = F.size(F.filter(F.col("edges"), lambda e: F.col("l_extendedprice") > e))
    return (
        li.join(F.broadcast(edges))
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# q25 — the reference's derived-feature projection (E1-E10,
# `house_predict.py:146-178`) instantiated over customer ⋈ orders:
# affordability/ratio/score engineering as pure Column arithmetic.
# ---------------------------------------------------------------------------

_Q25_ORACLE = """
SELECT
  o.o_orderkey,
  c.c_custkey,
  c.c_acctbal / (o.o_totalprice + 1) AS affordability_ratio,
  o.o_totalprice / (c.c_acctbal + 1) AS price_to_balance,
  c.c_acctbal - o.o_totalprice AS payment_capacity,
  0.5 * (c.c_acctbal / (o.o_totalprice + 1)) + 0.5 * c.c_nationkey AS blended_score
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_totalprice > 100000
"""


@register("q25_derived_features", oracle=_Q25_ORACLE)
def q25_derived_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.expressions import affordability_ratio, payment_capacity, safe_ratio, weighted_score

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    customer = _t(spark, sf_dir, "customer")
    afford = affordability_ratio(F.col("c_acctbal"), F.col("o_totalprice"))
    return (
        orders.join(broadcast_if_small(customer), orders.o_custkey == customer.c_custkey)
        .select(
            "o_orderkey",
            "c_custkey",
            afford.alias("affordability_ratio"),
            safe_ratio(F.col("o_totalprice"), F.col("c_acctbal")).alias("price_to_balance"),
            payment_capacity(F.col("c_acctbal"), F.col("o_totalprice")).alias("payment_capacity"),
            weighted_score([(afford, 0.5), (F.col("c_nationkey").cast("double"), 0.5)]).alias(
                "blended_score"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q26 — argmax rows (A15: `idxmax` / `max(results, key=...)`,
# `house_predict.py:317-320`): per nation, the customer(s) holding the max
# balance — tie-safe (all argmax rows), one agg + broadcast equi-join.
# ---------------------------------------------------------------------------

_Q26_ORACLE = """
WITH mx AS (SELECT c_nationkey AS nk, MAX(c_acctbal) AS max_bal FROM customer GROUP BY c_nationkey)
SELECT c.c_nationkey, c.c_custkey, c.c_acctbal
FROM customer c JOIN mx ON c.c_nationkey = mx.nk AND c.c_acctbal = mx.max_bal
ORDER BY c.c_nationkey, c.c_custkey
"""


@register("q26_argmax_per_group", oracle=_Q26_ORACLE)
def q26_argmax_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    mx = (
        customer.groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.max("c_acctbal").alias("max_bal"))
    )
    return (
        customer.join(
            F.broadcast(mx),
            (F.col("c_nationkey") == F.col("nk")) & (F.col("c_acctbal") == F.col("max_bal")),
        )
        .select("c_nationkey", "c_custkey", "c_acctbal")
        .orderBy("c_nationkey", "c_custkey")
    )


# ---------------------------------------------------------------------------
# q88 — mergeable t-digest quantile sketch (A7 scale path, pairs with q21's
# exact quartiles the way q79's HLL pairs with exact distinct): per return
# flag, sketched p50/p90/p99 of l_extendedprice. Raw values never shuffle —
# only delta-bounded centroid arrays do. Rows-only for the driver (sketch
# estimates are not bit-exact); tests/test_sketches.py bounds the rank error
# against the exact percentiles.
# ---------------------------------------------------------------------------


@register("q88_tdigest_quantiles")
def q88_tdigest_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import tdigest_quantiles

    li = _t(spark, sf_dir, "lineitem")
    return tdigest_quantiles(li, "l_returnflag", "l_extendedprice", [0.5, 0.9, 0.99])


# ---------------------------------------------------------------------------
# q203 — exact quantiles WITHOUT the single aggregation buffer. q21's
# exact mode uses Spark's `percentile(...)` aggregate, which materializes
# every (value, count) in ONE final agg buffer — fine per group at gate
# SFs, a driver-sized object on a 100-TB ungrouped fact. The distributed-
# exact form: collapse to distinct values (one partial-aggregated
# groupBy), bucketed prefix scan for cumulative counts (operators/
# prefix.py — no single-partition window), then each requested quantile
# is the smallest value whose cumulative count reaches ceil(q*n) (lower
# discrete percentile). All comparisons are exact integers; q*n is the
# same IEEE product in both engines.
# ---------------------------------------------------------------------------

_Q203_QS = [0.25, 0.5, 0.75, 0.95]

_Q203_ORACLE = f"""
WITH c AS (
  SELECT l_extendedprice AS val, COUNT(*) AS n FROM lineitem GROUP BY val
), w AS (
  SELECT val,
         SUM(n) OVER (ORDER BY val ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(n) OVER () AS tot
  FROM c
)
SELECT qs.q, MIN(w.val) AS value
FROM (VALUES {", ".join(f"(CAST({q!r} AS DOUBLE))" for q in _Q203_QS)}) qs(q)
JOIN w ON w.cum >= CEIL(qs.q * w.tot)
GROUP BY qs.q
ORDER BY qs.q
"""


@register("q203_distributed_percentiles", oracle=_Q203_ORACLE)
def q203_distributed_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quantiles import exact_quantiles

    li = _t(spark, sf_dir, "lineitem")
    return exact_quantiles(li, "l_extendedprice", _Q203_QS, mode="lower")


# ---------------------------------------------------------------------------
# q204 — describe(include='all'): pandas' mixed-type describe (reference
# `data_analysis.ipynb:241` — the 24-column describe with count/unique/
# top/freq rows for object columns; SURVEY A2's countDistinct + max_by).
# String columns get count/unique/top/freq via operators/profiling.
# describe_strings (one value-counts groupBy + a 1-row min_by pick per
# column — no sort, no collect); numeric columns get count/unique/mean/
# variance/stddev/min/max from one decimal power-sum pass (q19's exact
# shape). Superset of pandas: numeric columns also get n_unique (pandas
# leaves it NaN; countDistinct is free in the same pass).
# Deterministic top-tie rule: highest count, then smallest value.
# ---------------------------------------------------------------------------

_Q204_STR_COLS = ["o_orderpriority", "o_orderstatus"]
_Q204_NUM_COLS = ["o_custkey", "o_totalprice"]


def _q204_oracle() -> str:
    parts = []
    for c in _Q204_STR_COLS:
        parts.append(
            f"""
SELECT '{c}' AS column_name,
       COUNT({c}) AS n,
       COUNT(DISTINCT {c}) AS n_unique,
       (SELECT {c} FROM orders WHERE {c} IS NOT NULL
          GROUP BY {c} ORDER BY COUNT(*) DESC, {c} LIMIT 1) AS top,
       (SELECT COUNT(*) FROM orders WHERE {c} IS NOT NULL
          GROUP BY {c} ORDER BY COUNT(*) DESC, {c} LIMIT 1) AS top_freq,
       CAST(NULL AS DOUBLE) AS mean,
       CAST(NULL AS DOUBLE) AS variance,
       CAST(NULL AS DOUBLE) AS min_val,
       CAST(NULL AS DOUBLE) AS max_val
FROM orders"""
        )
    for c in _Q204_NUM_COLS:
        parts.append(
            f"""
SELECT '{c}' AS column_name,
       COUNT({c}) AS n,
       COUNT(DISTINCT {c}) AS n_unique,
       CAST(NULL AS VARCHAR) AS top,
       CAST(NULL AS BIGINT) AS top_freq,
       {sql_dec_sum(c)} / COUNT({c}) AS mean,
       ({sql_dec_sum(f'{c} * {c}', 8)} - {sql_dec_sum(c)} * {sql_dec_sum(c)} / COUNT({c}))
         / (COUNT({c}) - 1) AS variance,
       CAST(MIN({c}) AS DOUBLE) AS min_val,
       CAST(MAX({c}) AS DOUBLE) AS max_val
FROM orders"""
        )
    return " UNION ALL ".join(parts) + " ORDER BY column_name"


@register("q204_describe_all", oracle=_q204_oracle())
def q204_describe_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profiling import describe_strings

    orders = _t(spark, sf_dir, "orders")
    null_d = F.lit(None).cast("double")
    strings = describe_strings(orders, _Q204_STR_COLS).select(
        "column_name",
        F.col("n_rows").alias("n"),
        "n_unique",
        "top",
        "top_freq",
        null_d.alias("mean"),
        null_d.alias("variance"),
        null_d.alias("min_val"),
        null_d.alias("max_val"),
    )
    aggs = []
    for c in _Q204_NUM_COLS:
        col = F.col(c)
        aggs += [
            F.count(col).alias(f"{c}__n"),
            dec_sum(col).alias(f"{c}__s1"),
            dec_sum(col * col, 8, wide=True).alias(f"{c}__s2"),
            F.min(col).cast("double").alias(f"{c}__min"),
            F.max(col).cast("double").alias(f"{c}__max"),
        ]
    one = orders.agg(*aggs)
    # one 1-row agg PER distinct count: two COUNT(DISTINCT x) in a single
    # aggregate trigger the Expand rewrite, whose column ordering is
    # session-nondeterministic (the q60/q173 snapshot instability) AND
    # drags every other buffer through an input x n_cols expansion
    for c in _Q204_NUM_COLS:
        one = one.crossJoin(
            F.broadcast(
                orders.agg(F.countDistinct(F.col(c)).alias(f"{c}__u"))
            )
        )
    stack_args = []
    for c in _Q204_NUM_COLS:
        n, s1, s2 = F.col(f"{c}__n"), F.col(f"{c}__s1"), F.col(f"{c}__s2")
        stack_args.append(
            F.struct(
                F.lit(c).alias("column_name"),
                n.alias("n"),
                F.col(f"{c}__u").cast("bigint").alias("n_unique"),
                F.lit(None).cast("string").alias("top"),
                F.lit(None).cast("bigint").alias("top_freq"),
                (s1 / n).alias("mean"),
                ((s2 - s1 * s1 / n) / (n - F.lit(1))).alias("variance"),
                F.col(f"{c}__min").alias("min_val"),
                F.col(f"{c}__max").alias("max_val"),
            )
        )
    numerics = (
        one.select(F.explode(F.array(*stack_args)).alias("s")).select("s.*")
    )
    return strings.unionByName(numerics).orderBy("column_name")


# ---------------------------------------------------------------------------
# q209 — grouped distributed percentiles: per-return-flag exact quartiles
# of l_extendedprice WITHOUT `percentile(...) GROUP BY` (whose per-group
# buffer holds every distinct value — a skewed group recreates q21's
# driver-sized-buffer cliff inside one executor). exact_quantiles with
# group_cols partitions the prefix scan per group while within-group work
# still splits by price band; linear interpolation is bit-identical to
# DuckDB's quantile_cont (see operators/quantiles.py).
# ---------------------------------------------------------------------------

_Q209_QS = [0.25, 0.5, 0.75]

_Q209_ORACLE = f"""
SELECT l_returnflag,
       {", ".join(f"quantile_cont(l_extendedprice, {q}) AS p{int(q * 100)}" for q in _Q209_QS)}
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("q209_grouped_percentiles", oracle=_Q209_ORACLE)
def q209_grouped_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quantiles import exact_quantiles

    li = _t(spark, sf_dir, "lineitem")
    qv = exact_quantiles(
        li, "l_extendedprice", _Q209_QS, group_cols=["l_returnflag"]
    )

    def at(q: float):
        return F.max(F.when(F.col("q") == F.lit(q), F.col("value"))).alias(
            f"p{int(q * 100)}"
        )

    return (
        qv.groupBy("l_returnflag")
        .agg(*[at(q) for q in _Q209_QS])
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# q218 — weighted percentiles: quantity-weighted price quartiles per
# return flag. "Half the UNITS shipped cost at most X" is a different
# statement than "half the line items..." — the weighted quantile is the
# inventory / price-mix primitive. Same distributed machinery as q203/q209
# (exact_quantiles, mode="lower", weight=l_quantity): weights accumulate
# in exact BIGINT through the bucketed prefix scan; the answer is the
# smallest value whose cumulative weight reaches ceil(q * total_weight).
# ---------------------------------------------------------------------------

_Q218_QS = [0.25, 0.5, 0.75]

_Q218_ORACLE = f"""
WITH c AS (
  SELECT l_returnflag AS flag, l_extendedprice AS val,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS n
  FROM lineitem GROUP BY flag, val
), w AS (
  SELECT flag, val,
         SUM(n) OVER (PARTITION BY flag ORDER BY val
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(n) OVER (PARTITION BY flag) AS tot
  FROM c
)
SELECT flag AS l_returnflag, qs.q, MIN(w.val) AS value
FROM (VALUES {", ".join(f"(CAST({q!r} AS DOUBLE))" for q in _Q218_QS)}) qs(q)
JOIN w ON w.cum >= CEIL(qs.q * w.tot)
GROUP BY flag, qs.q
ORDER BY l_returnflag, q
"""


@register("q218_weighted_percentiles", oracle=_Q218_ORACLE)
def q218_weighted_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quantiles import exact_quantiles

    li = _t(spark, sf_dir, "lineitem")
    return exact_quantiles(
        li,
        "l_extendedprice",
        _Q218_QS,
        mode="lower",
        group_cols=["l_returnflag"],
        weight=F.col("l_quantity"),
    )


# ---------------------------------------------------------------------------
# q219 — weighted INTERPOLATED percentiles: q218's
# family completed with mode="linear". The weighted linear quantile is
# defined on the EXPANDED multiset — each price repeated l_quantity times
# — which is the one unambiguous extension of quantile_cont to integer
# weights, and the one the oracle can state directly: DuckDB expands via
# range(w) and runs its stock quantile_cont. Spark never materializes the
# expansion: cumulative ranks accumulate exact BIGINT weights through the
# bucketed prefix scan, h = (W-1)*q is the same IEEE product on both
# sides, and v_lo*(1-d) + v_hi*d is the same symmetric interpolation
# shape quantile_cont uses — so the hash matches bit-exactly.
# ---------------------------------------------------------------------------

_Q219_QS = [0.25, 0.5, 0.75]

_Q219_ORACLE = f"""
WITH e AS (
  SELECT l_returnflag AS flag, l_extendedprice AS val,
         UNNEST(range(CAST(l_quantity AS BIGINT))) AS rep
  FROM lineitem
), a AS (
  SELECT flag, quantile_cont(val, {_Q219_QS!r}) AS vs
  FROM e GROUP BY flag
)
SELECT flag AS l_returnflag, qs.q, vs[qs.i] AS value
FROM a, (VALUES {", ".join(f"({i + 1}, CAST({q!r} AS DOUBLE))" for i, q in enumerate(_Q219_QS))}) qs(i, q)
ORDER BY l_returnflag, q
"""


@register("q219_weighted_interp_percentiles", oracle=_Q219_ORACLE)
def q219_weighted_interp_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quantiles import exact_quantiles

    li = _t(spark, sf_dir, "lineitem")
    return exact_quantiles(
        li,
        "l_extendedprice",
        _Q219_QS,
        mode="linear",
        group_cols=["l_returnflag"],
        weight=F.col("l_quantity"),
    )
