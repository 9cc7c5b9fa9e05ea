"""Relational-core queries (SURVEY.md §2.2, §2.3, §2.5, §2.7 + the
driver-mandated join/set-op extension surface).

Every query is written scale-first:

- filters/projections sit directly on the parquet scan (pushdown + pruning);
- dimension joins carry an explicit ``broadcast()`` hint (region/nation/
  customer/supplier/part are dimension-sized at any SF);
- fact-fact joins (orders ⋈ lineitem) shuffle on the join key and rely on
  AQE for skew handling;
- aggregates use the decimal-sum trick (functions.stats) so results are
  order-independent — identical on local[32] and on 1000 executors;
- every ORDER BY carries a unique tiebreaker so top-k sets are deterministic.

Oracle SQL mirrors the exact arithmetic (same decimal casts, same double
ops) so value hashes match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.expressions import safe_ratio
from ..functions.stats import dec_sum, sql_dec_sum
from ..operators.sizing import broadcast_if_small
from .registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# q01 — flagship: pricing summary (scan → filter → groupBy → agg → sort).
# Exercises P1/P3 projections+filters, E-series arithmetic, A4/A16 aggregates,
# O1 sort (SURVEY §7 step 1). TPC-H Q1 shape over the driver's lineitem.
# ---------------------------------------------------------------------------

_Q01_ORACLE = f"""
SELECT
  l_returnflag,
  l_linestatus,
  {sql_dec_sum('l_quantity')} AS sum_qty,
  {sql_dec_sum('l_extendedprice')} AS sum_base_price,
  {sql_dec_sum('l_extendedprice * (1 - l_discount)', 6)} AS sum_disc_price,
  {sql_dec_sum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 8)} AS sum_charge,
  {sql_dec_sum('l_quantity')} / COUNT(l_quantity) AS avg_qty,
  {sql_dec_sum('l_extendedprice')} / COUNT(l_extendedprice) AS avg_price,
  {sql_dec_sum('l_discount')} / COUNT(l_discount) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register("q01_pricing_summary", oracle=_Q01_ORACLE)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    charge = disc_price * (F.lit(1) + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum(F.col("l_quantity")).alias("sum_qty"),
            dec_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            dec_sum(disc_price, 6).alias("sum_disc_price"),
            dec_sum(charge, 8).alias("sum_charge"),
            (dec_sum(F.col("l_quantity")) / F.count("l_quantity")).alias("avg_qty"),
            (dec_sum(F.col("l_extendedprice")) / F.count("l_extendedprice")).alias("avg_price"),
            (dec_sum(F.col("l_discount")) / F.count("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# q02 — filter + projection with derived columns (P1/P3, E1-E10 idiom).
# The reference's safe-ratio feature engineering (`house_predict.py:146-178`)
# instantiated over lineitem. Narrow map over a pushed-down scan.
# ---------------------------------------------------------------------------

# NOTE: no ROUND() on scalar projections — IEEE double ops on identical
# operands are bit-identical across engines, while round() itself diverges
# (Spark rounds the shortest decimal string half-up, DuckDB rounds the
# binary value) exactly at representable ties like x.xxx1875.
_Q02_ORACLE = """
SELECT
  l_orderkey,
  l_linenumber,
  l_extendedprice * (1 - l_discount) AS net_price,
  l_extendedprice / (l_quantity + 1) AS price_per_unit,
  l_tax / (l_discount + 1) AS tax_to_discount
FROM lineitem
WHERE l_quantity > 30 AND l_discount >= 0.05
"""


@register("q02_filter_derive", oracle=_Q02_ORACLE)
def q02_filter_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_quantity") > 30) & (F.col("l_discount") >= 0.05)).select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).alias("net_price"),
        safe_ratio(F.col("l_extendedprice"), F.col("l_quantity")).alias("price_per_unit"),
        safe_ratio(F.col("l_tax"), F.col("l_discount")).alias("tax_to_discount"),
    )


# ---------------------------------------------------------------------------
# q03 — star join with broadcast dims: revenue by region/nation.
# lineitem ⋈ orders shuffles on o_orderkey (the only fact-fact edge);
# customer/nation/region broadcast. At 100 TB this is the canonical plan:
# one shuffle, all dimension edges broadcast.
# ---------------------------------------------------------------------------

_Q03_ORACLE = f"""
SELECT
  r.r_name AS region_name,
  n.n_name AS nation_name,
  {sql_dec_sum('l.l_extendedprice * (1 - l.l_discount)', 6)} AS revenue,
  COUNT(*) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name
ORDER BY region_name, nation_name
"""


@register("q03_star_join_revenue", oracle=_Q03_ORACLE)
def q03_star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    revenue = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        # customer is the LARGEST "dimension" here — no broadcast hint:
        # size estimates / AQE pick broadcast while it fits and fall back
        # to a shuffle join at SF where a forced broadcast would OOM the
        # driver. nation/region are bounded (25/5 rows at any SF) so their
        # hints are unconditionally safe.
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(region.r_name.alias("region_name"), nation.n_name.alias("nation_name"))
        .agg(dec_sum(revenue, 6).alias("revenue"), F.count(F.lit(1)).alias("n_items"))
        .orderBy("region_name", "nation_name")
    )


# ---------------------------------------------------------------------------
# q04/q05 — semi/anti joins (driver-mandated extension, SURVEY §2.5).
# Semi/anti avoid materializing the probe side — at scale this is a
# broadcast-able existence check, not a full join.
# ---------------------------------------------------------------------------

_Q04_ORACLE = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F' AND o.o_totalprice > 200000
)
ORDER BY c_custkey
"""


@register("q04_semi_join", oracle=_Q04_ORACLE)
def q04_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 200000)
    )
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


_Q05_ORACLE = """
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
ORDER BY c_custkey
"""


@register("q05_anti_join", oracle=_Q05_ORACLE)
def q05_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# q06 — global top-k with deterministic tiebreak (O3; `house_predict.py:536`
# head(10) idiom done distributively: partial top-k per partition, merged).
# ---------------------------------------------------------------------------

_Q06_ORACLE = f"""
SELECT
  c.c_custkey,
  c.c_name,
  {sql_dec_sum('o.o_totalprice')} AS total_spend,
  COUNT(*) AS n_orders
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey, c.c_name
ORDER BY total_spend DESC, c_custkey
LIMIT 10
"""


@register("q06_topk_customers", oracle=_Q06_ORACLE)
def q06_topk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        broadcast_if_small(customer)
        .join(orders, orders.o_custkey == customer.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(dec_sum(F.col("o_totalprice")).alias("total_spend"), F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("total_spend").desc(), F.col("c_custkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q07 — grouped top-k via ranking window (O3 grouped variant; SURVEY §2.7).
# row_number over (status, price desc) — no global sort, one shuffle on the
# partition key.
# ---------------------------------------------------------------------------

_Q07_ORACLE = """
SELECT o_orderstatus, o_orderkey, o_totalprice, rk
FROM (
  SELECT o_orderstatus, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders
) t
WHERE rk <= 5
ORDER BY o_orderstatus, rk
"""


@register("q07_grouped_topk", oracle=_Q07_ORACLE)
def q07_grouped_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("o_orderstatus", "o_orderkey", "o_totalprice", "rk")
        .orderBy("o_orderstatus", "rk")
    )


# ---------------------------------------------------------------------------
# q08/q09/q10 — set operations (J1 union + driver-mandated intersect/except).
# The reference's only set-op is the encoder-domain union
# (`house_predict.py:123`); generalized here over the star schema.
# ---------------------------------------------------------------------------

_Q08_ORACLE = """
SELECT c_custkey AS custkey, c_acctbal AS acctbal, 'customer' AS side FROM customer WHERE c_acctbal > 9000
UNION ALL
SELECT s_suppkey AS custkey, s_acctbal AS acctbal, 'supplier' AS side FROM supplier WHERE s_acctbal > 9000
"""


@register("q08_union_accounts", oracle=_Q08_ORACLE)
def q08_union_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    supplier = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 9000)
    a = customer.select(
        F.col("c_custkey").alias("custkey"), F.col("c_acctbal").alias("acctbal"), F.lit("customer").alias("side")
    )
    b = supplier.select(
        F.col("s_suppkey").alias("custkey"), F.col("s_acctbal").alias("acctbal"), F.lit("supplier").alias("side")
    )
    return a.unionByName(b)


_Q09_ORACLE = """
SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1995
INTERSECT
SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
ORDER BY custkey
"""


@register("q09_intersect_active", oracle=_Q09_ORACLE)
def q09_intersect_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    y95 = orders.filter(F.year("o_orderdate") == 1995).select(F.col("o_custkey").alias("custkey"))
    y96 = orders.filter(F.year("o_orderdate") == 1996).select(F.col("o_custkey").alias("custkey"))
    return y95.intersect(y96).orderBy("custkey")


_Q10_ORACLE = """
SELECT o_custkey AS custkey FROM orders
EXCEPT
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
ORDER BY custkey
"""


@register("q10_except_unfinished", oracle=_Q10_ORACLE)
def q10_except_unfinished(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    all_c = orders.select(F.col("o_custkey").alias("custkey"))
    f_c = orders.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    return all_c.subtract(f_c).orderBy("custkey")


# ---------------------------------------------------------------------------
# q11/q12 — rollup & cube (SURVEY §2.6 closing note: in-scope extensions;
# Catalyst expands these into grouping-set unions with partial aggregation).
# ---------------------------------------------------------------------------

_Q11_ORACLE = f"""
SELECT
  o_orderstatus,
  o_orderpriority,
  {sql_dec_sum('o_totalprice')} AS total_price,
  COUNT(*) AS n_orders
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
"""


@register("q11_rollup", oracle=_Q11_ORACLE)
def q11_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(dec_sum(F.col("o_totalprice")).alias("total_price"), F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("o_orderstatus").asc_nulls_first(), F.col("o_orderpriority").asc_nulls_first())
    )


_Q12_ORACLE = f"""
SELECT
  c_mktsegment,
  c_nationkey,
  {sql_dec_sum('c_acctbal')} AS total_bal,
  COUNT(*) AS n_customers
FROM customer
GROUP BY CUBE (c_mktsegment, c_nationkey)
ORDER BY c_mktsegment NULLS FIRST, c_nationkey NULLS FIRST
"""


@register("q12_cube", oracle=_Q12_ORACLE)
def q12_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    return (
        customer.cube("c_mktsegment", "c_nationkey")
        .agg(dec_sum(F.col("c_acctbal")).alias("total_bal"), F.count(F.lit(1)).alias("n_customers"))
        .orderBy(F.col("c_mktsegment").asc_nulls_first(), F.col("c_nationkey").asc_nulls_first())
    )


# ---------------------------------------------------------------------------
# q13/q14/q15 — analytic windows (SURVEY §2.7 note: windows enter via the
# driver surface). Running totals, lag/lead deltas, ranking.
# ---------------------------------------------------------------------------

_Q13_ORACLE = """
SELECT
  o_custkey,
  o_orderkey,
  CAST(o_orderdate AS DATE) AS order_date,
  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS running_spend
FROM orders
ORDER BY o_custkey, o_orderdate, o_orderkey
"""


@register("q13_running_total", oracle=_Q13_ORACLE)
def q13_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("order_date"),
        F.sum(F.col("o_totalprice").cast("decimal(38,4)")).over(w).cast("double").alias("running_spend"),
    ).orderBy("o_custkey", "order_date", "o_orderkey")


_Q14_ORACLE = """
SELECT
  o_custkey,
  o_orderkey,
  date_diff('day',
            lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
            o_orderdate) AS days_since_prev
FROM orders
ORDER BY o_custkey, o_orderdate, o_orderkey
"""


@register("q14_lag_days_between", oracle=_Q14_ORACLE)
def q14_lag_days_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderdate").over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), prev).alias("days_since_prev"),
    ).orderBy("o_custkey", F.col("o_orderdate"), "o_orderkey")


_Q15_ORACLE = """
SELECT
  c_nationkey,
  c_custkey,
  c_acctbal,
  RANK()       OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS bal_rank,
  DENSE_RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS bal_dense_rank
FROM customer
ORDER BY c_nationkey, bal_rank, c_custkey
"""


@register("q15_rank_in_nation", oracle=_Q15_ORACLE)
def q15_rank_in_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc())
    return customer.select(
        "c_nationkey",
        "c_custkey",
        "c_acctbal",
        F.rank().over(w).alias("bal_rank"),
        F.dense_rank().over(w).alias("bal_dense_rank"),
    ).orderBy("c_nationkey", "bal_rank", "c_custkey")


# ---------------------------------------------------------------------------
# q16 — crosstab / pivot (A9: `pd.crosstab` at `data_analysis.ipynb:727-729`).
# groupBy().pivot() with explicit value list — at scale an implicit pivot
# needs an extra distinct pass, so values are pinned.
# ---------------------------------------------------------------------------

_Q16_ORACLE = """
SELECT
  c_mktsegment,
  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS F,
  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS O,
  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS P
FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@register("q16_crosstab_segment_status", oracle=_Q16_ORACLE)
def q16_crosstab_segment_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        broadcast_if_small(customer)
        .join(orders, orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .na.fill(0, ["F", "O", "P"])
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# q86 — distribution-rank window suite (O4 extension rounding out the
# window-function surface next to q15's rank/dense_rank): ntile quartiles,
# percent_rank, cume_dist per nation. The window order carries c_custkey as
# a unique tiebreaker — without it ntile on tied acctbals is
# engine-dependent. percent_rank/cume_dist are single IEEE divisions of
# integer rank/count values, so they hash-match exactly cross-engine.
# ---------------------------------------------------------------------------

_Q86_ORACLE = """
SELECT c_nationkey, c_custkey, c_acctbal,
       ntile(4)       OVER w AS bal_quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist()    OVER w AS cume
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
ORDER BY c_nationkey, c_acctbal DESC, c_custkey
"""


@register("q86_window_rank_suite", oracle=_Q86_ORACLE)
def q86_window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), "c_custkey")
    return customer.select(
        "c_nationkey",
        "c_custkey",
        "c_acctbal",
        F.ntile(4).over(w).alias("bal_quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    ).orderBy("c_nationkey", F.col("c_acctbal").desc(), "c_custkey")


# ---------------------------------------------------------------------------
# q206 — referential-integrity audit: per FK edge of the star schema, the
# child row count, orphan count (anti-join against the parent key), and
# distinct orphan keys — the data-quality gate a warehouse load runs
# before anything downstream trusts the join graph. Scale shape: each
# edge is one LEFT ANTI hash join on the key (parent side estimate-
# guarded broadcastable dims; facts shuffle) + one aggregate; no window, no
# collect. Null FKs count as orphans only in the null_fk column — SQL
# anti-join semantics (NULL never matches) are surfaced explicitly so the
# audit distinguishes "missing parent" from "missing key".
# ---------------------------------------------------------------------------

_Q206_EDGES = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]


def _q206_oracle() -> str:
    parts = []
    for child, fk, parent, pk in _Q206_EDGES:
        parts.append(
            f"""
SELECT '{child}.{fk}' AS edge,
       (SELECT COUNT(*) FROM {child}) AS n_child_rows,
       (SELECT COUNT(*) FROM {child} WHERE {fk} IS NULL) AS n_null_fk,
       (SELECT COUNT(*) FROM {child} c WHERE c.{fk} IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pk} = c.{fk}))
         AS n_orphans,
       (SELECT COUNT(DISTINCT c.{fk}) FROM {child} c WHERE c.{fk} IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pk} = c.{fk}))
         AS n_orphan_keys"""
        )
    return " UNION ALL ".join(parts) + " ORDER BY edge"


@register("q206_referential_integrity", oracle=_q206_oracle())
def q206_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One pass per edge (not a totals scan plus an anti-join scan, which
    # would be 14 fact passes for 7 edges): LEFT join against the
    # parent's DISTINCT keys (distinct makes the outer join multiplicity-
    # safe even on a dirty parent, and anti-join/NOT EXISTS semantics
    # never counted parent duplicates anyway) and fold totals + null-fk +
    # orphan counters into ONE conditional aggregate. The three lineitem
    # edges additionally share one cached 3-FK projection, so lineitem is
    # scanned once per query, not six times. Per-edge aggs keep a single
    # COUNT(DISTINCT) each — no Expand-rewrite plan instability.
    shared_li = None
    frames = []
    for child, fk, parent, pk in _Q206_EDGES:
        if child == "lineitem":
            if shared_li is None:
                shared_li = (
                    _t(spark, sf_dir, "lineitem")
                    .select("l_orderkey", "l_partkey", "l_suppkey")
                    .cache()
                )
            c = shared_li
        else:
            c = _t(spark, sf_dir, child)
        p = _t(spark, sf_dir, parent).select(F.col(pk).alias("__pk")).distinct()
        orphan = F.col(fk).isNotNull() & F.col("__pk").isNull()
        row = (
            c.select(fk)
            .join(broadcast_if_small(p), F.col(fk) == F.col("__pk"), "left")
            .agg(
                F.count(F.lit(1)).alias("n_child_rows"),
                F.count(F.when(F.col(fk).isNull(), 1)).alias("n_null_fk"),
                F.count(F.when(orphan, 1)).alias("n_orphans"),
                F.countDistinct(F.when(orphan, F.col(fk))).alias("n_orphan_keys"),
            )
        )
        frames.append(
            row.select(
                F.lit(f"{child}.{fk}").alias("edge"),
                "n_child_rows",
                "n_null_fk",
                "n_orphans",
                F.col("n_orphan_keys").cast("bigint").alias("n_orphan_keys"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("edge")


# ---------------------------------------------------------------------------
# q211 — multiset set operations (INTERSECT ALL / EXCEPT ALL): the part
# keys ordered by two order-priority segments AS MULTISETS — duplicates
# preserved, so "parts both segments keep re-ordering" and "surplus
# urgent-only order lines" are COUNTED, not just flagged (the q09/q10
# distinct-set twins lose multiplicity). Spark's intersectAll/exceptAll
# lower to a count-rebalancing hash aggregate + generate — no join
# explosion, partial-aggregated, scale-safe.
# ---------------------------------------------------------------------------

_Q211_ORACLE = """
WITH u AS (
  SELECT l_partkey FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderpriority = '1-URGENT'
), lo AS (
  SELECT l_partkey FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderpriority = '5-LOW'
)
SELECT 'intersect_all' AS op, COUNT(*) AS n_rows, COUNT(DISTINCT l_partkey) AS n_keys
FROM (SELECT l_partkey FROM u INTERSECT ALL SELECT l_partkey FROM lo)
UNION ALL
SELECT 'except_all' AS op, COUNT(*) AS n_rows, COUNT(DISTINCT l_partkey) AS n_keys
FROM (SELECT l_partkey FROM u EXCEPT ALL SELECT l_partkey FROM lo)
ORDER BY op
"""


@register("q211_multiset_set_ops", oracle=_Q211_ORACLE)
def q211_multiset_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")

    def seg(p: str) -> DataFrame:
        keys = orders.filter(F.col("o_orderpriority") == p).select("o_orderkey")
        return li.join(
            broadcast_if_small(keys), li.l_orderkey == F.col("o_orderkey")
        ).select("l_partkey")

    u, lo = seg("1-URGENT"), seg("5-LOW")

    def agg(df: DataFrame, op: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("l_partkey").cast("bigint").alias("n_keys"),
        ).select(F.lit(op).alias("op"), "n_rows", "n_keys")

    return (
        agg(u.intersectAll(lo), "intersect_all")
        .unionByName(agg(u.exceptAll(lo), "except_all"))
        .orderBy("op")
    )


# ---------------------------------------------------------------------------
# q212 — LATERAL correlated subquery: each nation's top-3 customers by
# balance via `, LATERAL (... ORDER BY ... LIMIT 3)` — the SQL-surface
# twin of q07's window top-k (Spark 4 plans the lateral as a correlated
# rank, DuckDB executes it directly; results identical). Exists to pin
# the LATERAL planner path; the window form stays the at-scale
# recommendation.
# ---------------------------------------------------------------------------

_Q212_SQL = """
SELECT n.n_name, t.c_custkey, t.c_acctbal
FROM nation n, LATERAL (
  SELECT c_custkey, c_acctbal FROM {cust}
  WHERE c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_custkey
  LIMIT 3
) t
ORDER BY n.n_name, t.c_acctbal DESC, t.c_custkey
"""


@register("q212_lateral_topk", oracle=_Q212_SQL.format(cust="customer"))
def q212_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "nation").createOrReplaceTempView("__q212_nation")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("__q212_customer")
    return spark.sql(
        _Q212_SQL.format(cust="__q212_customer").replace("nation n", "__q212_nation n")
    )


# ---------------------------------------------------------------------------
# q213 — recursive CTE (Spark 4 WITH RECURSIVE): root-and-depth walk of
# the supplier -> nation -> region containment hierarchy expressed as a
# generic (node, parent) edge list — the adjacency-list pattern that at
# depth-N (org charts, BOM trees, category taxonomies) has no window/join
# unrolling. Both engines run the SAME recursion; rolled up to
# (depth, n_nodes) so the output is SF-stable in width.
# ---------------------------------------------------------------------------

_Q213_SQL = """
WITH RECURSIVE edges AS (
  SELECT 's' || CAST(s_suppkey AS STRING) AS node,
         'n' || CAST(s_nationkey AS STRING) AS parent FROM {sup}
  UNION ALL
  SELECT 'n' || CAST(n_nationkey AS STRING) AS node,
         'r' || CAST(n_regionkey AS STRING) AS parent FROM {nat}
  UNION ALL
  SELECT 'r' || CAST(r_regionkey AS STRING) AS node,
         CAST(NULL AS STRING) AS parent FROM {reg}
),
walk AS (
  SELECT node, node AS root, 0 AS depth FROM edges WHERE parent IS NULL
  UNION ALL
  SELECT e.node, w.root, w.depth + 1
  FROM edges e JOIN walk w ON e.parent = w.node
)
SELECT depth, COUNT(*) AS n_nodes, COUNT(DISTINCT root) AS n_roots
FROM walk GROUP BY depth ORDER BY depth
"""


@register(
    "q213_recursive_hierarchy",
    oracle=_Q213_SQL.format(sup="supplier", nat="nation", reg="region").replace(
        "AS STRING", "AS VARCHAR"
    ),
)
def q213_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("supplier", "nation", "region"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"__q213_{t}")
    return spark.sql(
        _Q213_SQL.format(sup="__q213_supplier", nat="__q213_nation", reg="__q213_region")
    )


# ---------------------------------------------------------------------------
# q214 — value window functions with IGNORE NULLS (first_value /
# last_value / nth_value over a running frame): per customer's order
# history, the first / latest / second significant order value, where
# "insignificant" orders (< 50k) are NULLed so the IGNORE NULLS semantics
# actually bite. Rounds out the §2.7 window surface (rank family: q15/
# q86; offset family: q14; aggregate frames: q13/q55; this is the value
# family). One partitioned window pass, no global sort.
# ---------------------------------------------------------------------------

_Q214_ORACLE = """
WITH o AS (
  SELECT o_custkey, o_orderkey, o_orderdate,
         CASE WHEN o_totalprice >= 50000 THEN o_totalprice END AS sig
  FROM orders
), w AS (
  SELECT o_custkey, o_orderkey,
         ROW_NUMBER() OVER win AS rn,
         COUNT(*) OVER (PARTITION BY o_custkey) AS n_orders,
         first_value(sig IGNORE NULLS) OVER win AS first_sig,
         last_value(sig IGNORE NULLS) OVER win AS latest_sig,
         nth_value(sig, 2 IGNORE NULLS) OVER win AS second_sig
  FROM o
  WINDOW win AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT o_custkey, first_sig, latest_sig, second_sig
FROM w WHERE rn = n_orders
ORDER BY o_custkey
"""


@register("q214_value_window_functions", oracle=_Q214_ORACLE)
def q214_value_window_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    sig = F.when(F.col("o_totalprice") >= 50000, F.col("o_totalprice"))
    win = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w = orders.select(
        "o_custkey",
        F.row_number().over(
            Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        ).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("o_custkey")).alias("n_orders"),
        F.first(sig, ignorenulls=True).over(win).alias("first_sig"),
        F.last(sig, ignorenulls=True).over(win).alias("latest_sig"),
        F.nth_value(sig, 2, ignoreNulls=True).over(win).alias("second_sig"),
    )
    return (
        w.filter(F.col("rn") == F.col("n_orders"))
        .select("o_custkey", "first_sig", "latest_sig", "second_sig")
        .orderBy("o_custkey")
    )
