"""Analytics extension queries: reshaping (unpivot/pivot),
time-series gap filling, multi-way fact joins, share-of-total windows,
robust statistics (MAD), per-group mode, and event-sequence transitions.

These generalize reference idioms to the multi-table star schema the same
way §2.5's join surface does: the reference reshapes with pandas
``crosstab``/``melt``-style cells (`data_analysis.ipynb` crosstab cell
ecc79c39) and computes robust spread on flat frames; here every operator is
expressed as a Catalyst plan that survives a 100 TB fact table — dimension
sides broadcast, aggregates pre-shuffle (partial aggregation), exact
decimal sums keep results order-independent across any executor count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import epoch_us, load_table
from ..operators.sizing import broadcast_if_small
from ..functions import text as X
from ..functions.stats import dec_sum, sql_dec_sum
from .registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# q89 — unpivot / melt (wide → long). The reference holds per-measure stats
# in wide pandas frames (`data_analysis.ipynb` describe cells); the long
# form is the relational equivalent. Aggregate FIRST (4 exact sums per
# flag), then unpivot the tiny result — the melt never touches fact rows.
# ---------------------------------------------------------------------------

_Q89_ORACLE = f"""
WITH agg AS (
  SELECT l_returnflag,
         {sql_dec_sum('l_quantity')} AS sum_qty,
         {sql_dec_sum('l_extendedprice')} AS sum_price,
         {sql_dec_sum('l_discount')} AS sum_disc,
         {sql_dec_sum('l_tax')} AS sum_tax
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, measure, value FROM agg
UNPIVOT (value FOR measure IN (sum_qty, sum_price, sum_disc, sum_tax))
ORDER BY l_returnflag, measure
"""


@register("q89_unpivot_measures", oracle=_Q89_ORACLE)
def q89_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        dec_sum(F.col("l_quantity")).alias("sum_qty"),
        dec_sum(F.col("l_extendedprice")).alias("sum_price"),
        dec_sum(F.col("l_discount")).alias("sum_disc"),
        dec_sum(F.col("l_tax")).alias("sum_tax"),
    )
    return agg.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "sum_disc", "sum_tax"],
        variableColumnName="measure",
        valueColumnName="value",
    ).orderBy("l_returnflag", "measure")


# ---------------------------------------------------------------------------
# q90 — date-spine gap fill: daily order revenue with zero-filled missing
# days over the table's full date range. The spine is generated from the
# aggregated bounds (a handful of rows), so the plan is: one partial-agg
# scan for daily totals, one for bounds, then a broadcast-joinable
# spine ⟕ daily join — no fact-side shuffle beyond the daily groupBy.
# ---------------------------------------------------------------------------

_Q90_ORACLE = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         COUNT(*) AS n_orders,
         {sql_dec_sum('o_totalprice')} AS revenue
  FROM orders GROUP BY 1
),
spine AS (
  SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP), CAST(hi AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS day
  FROM (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily)
)
SELECT spine.day, COALESCE(daily.n_orders, 0) AS n_orders,
       COALESCE(daily.revenue, 0.0) AS revenue
FROM spine LEFT JOIN daily ON spine.day = daily.day
ORDER BY spine.day
"""


@register("q90_date_spine_gapfill", oracle=_Q90_ORACLE)
def q90_date_spine_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dec_sum(F.col("o_totalprice")).alias("revenue"),
    )
    spine = (
        daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select(F.explode(F.sequence("lo", "hi")).alias("day"))
    )
    return (
        spine.join(daily, "day", "left")
        .select(
            "day",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# q91 — priority line counts (TPC-H Q12 shape on available columns): for
# lineitems shipped in 1996, high- vs low-priority order counts per line
# status. Orders ⋈ lineitem is the schema's one fact-fact join: both sides
# shuffle on the order key (AQE splits skewed partitions); the shipdate
# filter is pushed to the lineitem scan so only 1996 rows shuffle.
# ---------------------------------------------------------------------------

_Q91_ORACLE = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


@register("q91_priority_line_counts", oracle=_Q91_ORACLE)
def q91_priority_line_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        )
        .select("l_orderkey", "l_linestatus")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_count"),
        )
        .orderBy("l_linestatus")
    )


# ---------------------------------------------------------------------------
# q92 — market share (TPC-H Q8 shape): per order year, the share of AMERICA-
# region customers' revenue supplied by suppliers of one nation. Exercises a
# 5-way join where Catalyst must broadcast every dimension (supplier,
# customer, nation, region) and shuffle only orders ⋈ lineitem, plus a
# conditional-aggregate ratio of two exact decimal sums.
# ---------------------------------------------------------------------------

_Q92_ORACLE = f"""
WITH t AS (
  SELECT year(o.o_orderdate) AS order_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume,
         sn.n_name AS supp_nation
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
  JOIN region r   ON cn.n_regionkey = r.r_regionkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
  WHERE r.r_name = (SELECT MIN(r_name) FROM region)
)
SELECT order_year,
       {sql_dec_sum("CASE WHEN supp_nation = (SELECT MIN(n_name) FROM nation) THEN volume ELSE 0 END", 6)}
         / {sql_dec_sum('volume', 6)} AS mkt_share
FROM t GROUP BY order_year ORDER BY order_year
"""


@register("q92_market_share", oracle=_Q92_ORACLE)
def q92_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")

    # deterministic pick of the target region/nation without hardcoding
    # generator-specific names (same MIN() scalar subqueries the oracle
    # uses) — 1-row aggregates joined in, no driver-side collect
    min_region = region.agg(F.min("r_name").alias("target_region"))
    min_nation = nation.agg(F.min("n_name").alias("target_nation"))

    cust_in_region = (
        customer.select("c_custkey", "c_nationkey")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(
                region.join(F.broadcast(min_region), F.col("r_name") == F.col("target_region"))
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("c_custkey")
    )
    supp_nation = supplier.join(
        F.broadcast(nation.select(F.col("n_nationkey").alias("sn_key"),
                                  F.col("n_name").alias("supp_nation"))),
        supplier.s_nationkey == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")

    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    t = (
        li.join(orders.select("o_orderkey", "o_custkey", "o_orderdate"),
                li.l_orderkey == F.col("o_orderkey"))
        # size-guarded: cust_in_region is ~1/5 of the
        # customer table and supp_nation is ALL suppliers — both grow
        # linearly with SF, so a forced broadcast OOMs executors at 100x.
        # broadcast_if_small estimates from the pre-join base tables (the
        # derived frames are row-wise subsets/1:1 maps of them, so joined
        # Catalyst stats would over-multiply) and falls back to a shuffle
        # join past the session autoBroadcastJoinThreshold.
        .join(
            broadcast_if_small(cust_in_region, estimate_from=customer.select("c_custkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            broadcast_if_small(
                supp_nation, estimate_from=supplier.select("s_suppkey", "s_name")
            ),
            li.l_suppkey == F.col("s_suppkey"),
        )
        .join(F.broadcast(min_nation))
        .select(
            F.year("o_orderdate").alias("order_year"),
            volume.alias("volume"),
            F.col("supp_nation"),
            F.col("target_nation"),
        )
    )
    national = F.when(F.col("supp_nation") == F.col("target_nation"), F.col("volume")).otherwise(
        F.lit(0.0)
    )
    return (
        t.groupBy("order_year")
        .agg((dec_sum(national, 6) / dec_sum(F.col("volume"), 6)).alias("mkt_share"))
        .orderBy("order_year")
    )


# ---------------------------------------------------------------------------
# q95 — percent of total (window share): each nation's share of its region's
# customer account balance. The window runs over the 25-row aggregate, not
# the fact table — aggregate first, window second is the scale-safe order.
# ---------------------------------------------------------------------------

_Q95_ORACLE = f"""
WITH per_nation AS (
  SELECT r.r_name AS region, n.n_name AS nation,
         {sql_dec_sum('c.c_acctbal')} AS nation_bal
  FROM customer c
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY r.r_name, n.n_name
)
SELECT region, nation, nation_bal,
       nation_bal / CAST(CAST(SUM(CAST(nation_bal AS DECIMAL(38,4))) OVER (PARTITION BY region) AS VARCHAR) AS DOUBLE) AS region_share
FROM per_nation ORDER BY region, nation
"""


@register("q95_percent_of_total", oracle=_Q95_ORACLE)
def q95_percent_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    per_nation = (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(dec_sum(F.col("c_acctbal")).alias("nation_bal"))
    )
    w = Window.partitionBy("region")
    # the share denominator re-sums already-exact doubles; decimal cast keeps
    # the window sum order-independent too
    return per_nation.select(
        "region",
        "nation",
        "nation_bal",
        (
            F.col("nation_bal")
            / F.sum(F.col("nation_bal").cast("decimal(38,4)")).over(w).cast("double")
        ).alias("region_share"),
    ).orderBy("region", "nation")


# ---------------------------------------------------------------------------
# q96 — median absolute deviation (robust spread, complements q19/q60's
# std): MAD of order totals per order status. Two exact-percentile passes
# with a broadcast join of the 3-row median table between them.
# ---------------------------------------------------------------------------

_Q96_ORACLE = """
WITH med AS (
  SELECT o_orderstatus, quantile_cont(o_totalprice, 0.5) AS med
  FROM orders GROUP BY o_orderstatus
)
SELECT o.o_orderstatus, med.med AS median_price,
       quantile_cont(abs(o.o_totalprice - med.med), 0.5) AS mad
FROM orders o JOIN med ON o.o_orderstatus = med.o_orderstatus
GROUP BY o.o_orderstatus, med.med
ORDER BY o.o_orderstatus
"""


@register("q96_median_abs_deviation", oracle=_Q96_ORACLE)
def q96_median_abs_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select("o_orderstatus", "o_totalprice")
    med = orders.groupBy(F.col("o_orderstatus").alias("st")).agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("med")
    )
    return (
        orders.join(F.broadcast(med), orders.o_orderstatus == med.st)
        .groupBy("o_orderstatus", F.col("med").alias("median_price"))
        .agg(F.expr("percentile(abs(o_totalprice - med), 0.5)").alias("mad"))
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# q97 — per-group mode (most frequent value, deterministic ties): the
# modal part type per brand. count → rank window over the small aggregate;
# tie broken toward the lexicographically first type, matching DuckDB.
# ---------------------------------------------------------------------------

_Q97_ORACLE = """
WITH counts AS (
  SELECT p_brand, p_type, COUNT(*) AS n FROM part GROUP BY p_brand, p_type
),
ranked AS (
  SELECT p_brand, p_type, n,
         ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY n DESC, p_type) AS rk
  FROM counts
)
SELECT p_brand, p_type AS mode_type, n AS mode_count
FROM ranked WHERE rk = 1 ORDER BY p_brand
"""


@register("q97_mode_per_group", oracle=_Q97_ORACLE)
def q97_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    counts = part.groupBy("p_brand", "p_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("p_brand").orderBy(F.desc("n"), F.asc("p_type"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("p_brand", F.col("p_type").alias("mode_type"), F.col("n").alias("mode_count"))
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# q98 — event-sequence transitions: top 10 (previous → current) event-type
# bigrams across user timelines. lag() partitions by user with a unique
# (ts, event_id) sort so ties are deterministic; the pair count then
# aggregates 25 distinct bigrams — the window is the only fact shuffle.
# ---------------------------------------------------------------------------

_Q98_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
)
SELECT prev_type, event_type, COUNT(*) AS n
FROM seq WHERE prev_type IS NOT NULL
GROUP BY prev_type, event_type
ORDER BY n DESC, prev_type, event_type
LIMIT 10
"""


@register("q98_event_transitions", oracle=_Q98_ORACLE)
def q98_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "prev_type", "event_type")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q99 — pivot with a non-count aggregate (A9 generalization of q16's
# crosstab): average order total per priority × order status. Pivot values
# are pinned explicitly so the plan needs no discovery pass and the output
# schema is stable at any scale.
# ---------------------------------------------------------------------------

_Q99_ORACLE = f"""
SELECT o_orderpriority,
       {sql_dec_sum("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END")}
         / COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS avg_f,
       {sql_dec_sum("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END")}
         / COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS avg_o,
       {sql_dec_sum("CASE WHEN o_orderstatus = 'P' THEN o_totalprice END")}
         / COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS avg_p
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@register("q99_pivot_avg_price", oracle=_Q99_ORACLE)
def q99_pivot_avg_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    out = orders.groupBy("o_orderpriority")
    aggs = []
    for status in ("F", "O", "P"):
        cond = F.when(F.col("o_orderstatus") == status, F.col("o_totalprice"))
        aggs.append(
            (dec_sum(cond) / F.count(cond)).alias(f"avg_{status.lower()}")
        )
    return out.agg(*aggs).orderBy("o_orderpriority")


# ---------------------------------------------------------------------------
# q117 — deterministic stratified sampling (J-series extension of q75's
# hash split). Per-stratum rates via a seeded md5 bucket on the key: fully
# reproducible (re-running selects the SAME rows — what a training-data
# pipeline needs for re-trainable corpus snapshots), no RNG, no driver
# coordination. The rate table is a literal CASE; at scale it would be a
# broadcast dim. Output is the per-stratum audit (sampled vs total).
# ---------------------------------------------------------------------------

_SQL_CBUCKET = "('0x' || substring(md5(CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT % 100"

_Q117_ORACLE = f"""
SELECT c_mktsegment,
       COUNT(*) AS n_total,
       COUNT(*) FILTER (WHERE {_SQL_CBUCKET} <
         CASE c_mktsegment WHEN 'AUTOMOBILE' THEN 10 WHEN 'BUILDING' THEN 25 ELSE 5 END
       ) AS n_sampled
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@register("q117_stratified_sample", oracle=_Q117_ORACLE)
def q117_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    bucket = (
        X.md5_bucket(F.col("c_custkey"))
    )
    rate = (
        F.when(F.col("c_mktsegment") == "AUTOMOBILE", F.lit(10))
        .when(F.col("c_mktsegment") == "BUILDING", F.lit(25))
        .otherwise(F.lit(5))
    )
    return (
        customer.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count(F.when(bucket < rate, F.lit(1))).alias("n_sampled"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# q118 — per-group z-score outliers. Mean/std from exact decimal power
# sums (NOT stddev_samp: its float accumulation is order-dependent in the
# low bits, so outlier membership at the |z| boundary could differ
# between engines/executor counts). One aggregate per nation (tiny —
# broadcast back), then a narrow scan-side filter. (acctbal is ~uniform, so |z| maxes near sqrt(3): 1.65 keeps a real tail.)
# ---------------------------------------------------------------------------

_Q118_ORACLE = f"""
WITH cents AS (
  SELECT c_custkey, c_nationkey, c_acctbal,
         CAST(round(c_acctbal * 100) AS BIGINT) AS cc
  FROM customer
),
stats AS (
  SELECT c_nationkey,
         COUNT(cc) AS n,
         {sql_dec_sum('c_acctbal')} AS s1,
         CAST(SUM(cc * cc) AS DOUBLE) / 1e4 AS s2
  FROM cents GROUP BY c_nationkey
)
SELECT c_custkey, c_nationkey,
       (c_acctbal - s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1)) AS z
FROM cents JOIN stats USING (c_nationkey)
WHERE n > 1 AND abs((c_acctbal - s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1))) > 1.65
ORDER BY c_custkey
"""


@register("q118_group_zscore_outliers", oracle=_Q118_ORACLE)
def q118_group_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    bal = F.col("c_acctbal")
    # s2 from exact integer cents: acctbal carries <= 2 decimals, so
    # round(bal*100) is an unambiguous integer on both engines and the
    # squared-cents sum is exact integer math. Casting the DOUBLE bal² to
    # decimal instead rounds differently in Spark (decimal-string HALF_UP)
    # vs DuckDB (binary value) at 1-ulp ties — measured on this data.
    cc = F.round(bal * F.lit(100.0)).cast("long")
    stats = customer.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.count("c_acctbal").alias("n"),
        dec_sum(bal).alias("s1"),
        (F.sum((cc * cc).cast("decimal(38,0)")).cast("double") / F.lit(1e4)).alias("s2"),
    )
    j = customer.join(F.broadcast(stats), customer.c_nationkey == F.col("nk"))
    mean = F.col("s1") / F.col("n")
    std = F.sqrt((F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1))
    z = (bal - mean) / std
    return (
        j.filter((F.col("n") > 1) & (F.abs(z) > 1.65))
        .select("c_custkey", "c_nationkey", z.alias("z"))
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# q119 — view→purchase conversion lag. Per user: first view, first
# purchase AFTER that view, lag between them — one conditional min-
# aggregate pass over events (no self-join: min(ts) FILTER per type, the
# purchase-after-view constraint applied via a second conditional min over
# a 2-row-per-user reshape... expressed here as two chained aggregates on
# the SAME shuffle key, so the second agg is exchange-free). Lag sums are
# integer microseconds — exact without decimal casts.
# ---------------------------------------------------------------------------

_Q119_ORACLE = """
WITH firsts AS (
  SELECT user_id, min(epoch_us(ts)) FILTER (WHERE event_type = 'view') AS first_view
  FROM events GROUP BY user_id
),
conv AS (
  SELECT e.user_id, min(epoch_us(e.ts)) - any_value(f.first_view) AS lag_us
  FROM events e JOIN firsts f ON e.user_id = f.user_id
  WHERE e.event_type = 'purchase' AND f.first_view IS NOT NULL
    AND epoch_us(e.ts) >= f.first_view
  GROUP BY e.user_id
)
SELECT COUNT(*) AS n_converted,
       CAST(SUM(lag_us) AS DOUBLE) / COUNT(*) / 1e6 AS avg_lag_s,
       CAST(MIN(lag_us) AS DOUBLE) / 1e6 AS min_lag_s,
       CAST(MAX(lag_us) AS DOUBLE) / 1e6 AS max_lag_s
FROM conv
"""


@register("q119_conversion_lag", oracle=_Q119_ORACLE)
def q119_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    us = epoch_us(F.col("ts"))
    firsts = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", us)).alias("first_view")
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), us.alias("p_us")
    )
    conv = (
        purchases.join(firsts, purchases.pu == firsts.user_id)
        .filter(F.col("first_view").isNotNull() & (F.col("p_us") >= F.col("first_view")))
        .groupBy("pu")
        .agg((F.min("p_us") - F.first("first_view")).alias("lag_us"))
    )
    return conv.agg(
        F.count(F.lit(1)).alias("n_converted"),
        (F.sum("lag_us").cast("double") / F.count(F.lit(1)) / F.lit(1e6)).alias("avg_lag_s"),
        (F.min("lag_us").cast("double") / F.lit(1e6)).alias("min_lag_s"),
        (F.max("lag_us").cast("double") / F.lit(1e6)).alias("max_lag_s"),
    )


# ---------------------------------------------------------------------------
# q120 — data-quality audit (Deequ-style constraint report over the star
# schema): null/range predicates in one pass per table, PK uniqueness as a
# count-vs-distinct delta, referential integrity as anti-joins. The long
# report format is what an ingest gate consumes (`max(n_violations)==0`).
# ---------------------------------------------------------------------------

_Q120_ORACLE = """
SELECT * FROM (
  SELECT 'lineitem.discount_in_[0,1]' AS "constraint",
         COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > 1) AS n_violations,
         COUNT(*) AS n_checked FROM lineitem
  UNION ALL
  SELECT 'lineitem.positive_quantity',
         COUNT(*) FILTER (WHERE l_quantity IS NULL OR l_quantity <= 0), COUNT(*) FROM lineitem
  UNION ALL
  SELECT 'orders.nonnull_key',
         COUNT(*) FILTER (WHERE o_orderkey IS NULL), COUNT(*) FROM orders
  UNION ALL
  SELECT 'orders.positive_totalprice',
         COUNT(*) FILTER (WHERE o_totalprice IS NULL OR o_totalprice <= 0), COUNT(*) FROM orders
  UNION ALL
  SELECT 'unique(o_orderkey)',
         COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey), COUNT(*) FROM orders
  UNION ALL
  SELECT 'l_orderkey->o_orderkey',
         (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
            (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
         COUNT(*) FROM lineitem
  UNION ALL
  SELECT 'o_custkey->c_custkey',
         (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
            (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
         COUNT(*) FROM orders
) ORDER BY "constraint"
"""


@register("q120_dq_audit", oracle=_Q120_ORACLE)
def q120_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quality import (
        check_predicates,
        combine_reports,
        referential_orphans,
        uniqueness_violations,
    )

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    li_checks = check_predicates(
        li,
        {
            "lineitem.discount_in_[0,1]": (F.col("l_discount") < 0) | (F.col("l_discount") > 1),
            "lineitem.positive_quantity": F.col("l_quantity").isNull()
            | (F.col("l_quantity") <= 0),
        },
    )
    o_checks = check_predicates(
        orders,
        {
            "orders.nonnull_key": F.col("o_orderkey").isNull(),
            "orders.positive_totalprice": F.col("o_totalprice").isNull()
            | (F.col("o_totalprice") <= 0),
        },
    )
    return combine_reports(
        li_checks,
        o_checks,
        uniqueness_violations(orders, "o_orderkey"),
        referential_orphans(li, orders, "l_orderkey", "o_orderkey"),
        referential_orphans(orders, customer, "o_custkey", "c_custkey"),
    )


# ---------------------------------------------------------------------------
# q196 — skyline (pareto frontier): parts not dominated on (cheaper-or-equal
# price, larger-or-equal size, one strict). The classic OLAP skyline
# operator, computed WITHOUT the quadratic NOT-EXISTS self-join: collapse
# to one row per distinct price (max size), then a STRICT running max over
# the price order — a part is dominated iff a strictly cheaper price has
# seen size >= its own, or its own price group holds a strictly larger
# size. The running max uses operators/prefix.py (bucketed two-level scan),
# so no single-partition window even over millions of distinct prices.
# ---------------------------------------------------------------------------

_Q196_ORACLE = """
SELECT p_partkey, p_retailprice, p_size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
)
ORDER BY p_partkey
"""


@register("q196_skyline_parts", oracle=_Q196_ORACLE)
def q196_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prefix import prefix_agg

    part = _t(spark, sf_dir, "part")
    grp = part.groupBy("p_retailprice").agg(F.max("p_size").alias("__mx"))
    sm = prefix_agg(
        grp,
        ["p_retailprice"],
        [("__mx", "__m_strict", "max")],
        bucket=F.floor(F.col("p_retailprice") / 100).cast("bigint"),
        strict=True,
    )
    dominated = F.coalesce(
        F.col("__m_strict") >= F.col("p_size"), F.lit(False)
    ) | (F.col("__mx") > F.col("p_size"))
    return (
        part.join(sm, "p_retailprice")
        .where(~dominated)
        .select("p_partkey", "p_retailprice", "p_size")
        .orderBy("p_partkey")
    )


# ---------------------------------------------------------------------------
# q197 — grouped weighted median: per brand, the quantity-weighted median
# unit price (smallest l_extendedprice whose cumulative quantity reaches
# half the brand's total). Weights sum in exact decimal (order-independent
# across executors); the cumulative weight is the partitioned bucketed
# prefix scan — the scan restarts per brand but a huge brand still splits
# across price-band buckets instead of serializing into one task.
# ---------------------------------------------------------------------------

_Q197_ORACLE = """
WITH pa AS (
  SELECT p_brand AS brand, l_extendedprice AS val,
         SUM(CAST(l_quantity AS DECIMAL(38,4))) AS w
  FROM lineitem JOIN part ON p_partkey = l_partkey
  GROUP BY 1, 2
),
c AS (
  SELECT brand, val, w,
         SUM(w) OVER (PARTITION BY brand ORDER BY val
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
         SUM(w) OVER (PARTITION BY brand) AS tot
  FROM pa
)
SELECT brand, MIN(val) AS weighted_median,
       CAST(CAST(ANY_VALUE(tot) AS VARCHAR) AS DOUBLE) AS total_qty
FROM c
WHERE 2 * cumw >= tot
GROUP BY brand
ORDER BY brand
"""


@register("q197_weighted_median", oracle=_Q197_ORACLE)
def q197_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prefix import prefix_agg
    from ..operators.sizing import broadcast_if_small

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), F.col("p_brand").alias("brand")
    )
    pa = (
        li.select("l_partkey", F.col("l_extendedprice").alias("val"), "l_quantity")
        .join(broadcast_if_small(part), "l_partkey")
        .groupBy("brand", "val")
        .agg(F.sum(F.col("l_quantity").cast("decimal(38,4)")).alias("w"))
        .cache()  # two consumers (prefix-scan partials + tagged rows)
        # — the lineitem join/collapse runs once
    )
    cum = prefix_agg(
        pa,
        ["val"],
        [("w", "cumw", "sum"), ("w", "tot", "total")],
        partition_cols=["brand"],
        bucket=F.floor(F.col("val") / 1000).cast("bigint"),
    )
    return (
        cum.where(F.lit(2) * F.col("cumw") >= F.col("tot"))
        .groupBy("brand")
        .agg(
            F.min("val").alias("weighted_median"),
            F.first(F.col("tot").cast("string")).cast("double").alias("total_qty"),
        )
        .orderBy("brand")
    )


# ---------------------------------------------------------------------------
# q198 — reciprocal-rank fusion: combine two supplier rankings (revenue;
# catalog breadth = distinct parts shipped) into one list, the standard
# RRF score 1/(k + rank) with k = 60 (Cormack et al., SIGIR'09 — the same
# fusion retrieval pipelines use to merge BM25 and embedding rankings).
# Both ranks come from the distributed ranking operator (log2-banded for
# the unbounded revenue domain), so no single-partition sort even over
# millions of suppliers; ranks are exact-decimal-comparison deterministic.
# ---------------------------------------------------------------------------

_RRF_K = 60
_Q198_ORACLE = f"""
WITH s AS (
  SELECT l_suppkey,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4))) AS rev,
         COUNT(DISTINCT l_partkey) AS breadth
  FROM lineitem
  GROUP BY l_suppkey
),
r AS (
  SELECT l_suppkey,
         ROW_NUMBER() OVER (ORDER BY rev DESC, l_suppkey) AS rank_rev,
         ROW_NUMBER() OVER (ORDER BY breadth DESC, l_suppkey) AS rank_breadth
  FROM s
)
SELECT s_suppkey, s_name, rank_rev, rank_breadth,
       CAST(1.0 AS DOUBLE) / ({_RRF_K} + rank_rev)
         + CAST(1.0 AS DOUBLE) / ({_RRF_K} + rank_breadth) AS rrf_score
FROM r JOIN supplier ON s_suppkey = l_suppkey
ORDER BY rrf_score DESC, s_suppkey
LIMIT 20
"""


@register("q198_rrf_fusion", oracle=_Q198_ORACLE)
def q198_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import global_rank
    from ..operators.sizing import broadcast_if_small

    li = _t(spark, sf_dir, "lineitem")
    s = li.groupBy("l_suppkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(38,4)"
            )
        ).alias("rev"),
        F.countDistinct("l_partkey").alias("breadth"),
    )
    # rank ascending on the NEGATED measure == DESC rank; rev > 0 always
    # (discount < 1), so the log2 band is defined. Cached: each
    # global_rank's hot-bucket detection job and the final action would
    # otherwise re-run the lineitem aggregate (review finding — 3x scans)
    s = (
        s.withColumn("__nrev", -F.col("rev"))
        .withColumn("__nbr", -F.col("breadth"))
        .cache()
    )
    by_rev = global_rank(
        s,
        ["__nrev", "l_suppkey"],
        bucket=(-F.floor(F.log2(F.col("rev").cast("double")))).cast("bigint"),
        rank_col="rank_rev",
    )
    ranked = global_rank(
        by_rev, ["__nbr", "l_suppkey"], bucket=F.col("__nbr"), rank_col="rank_breadth"
    )
    supplier = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey"), F.col("s_name")
    )
    rrf = F.lit(1.0) / (F.lit(_RRF_K) + F.col("rank_rev")) + F.lit(1.0) / (
        F.lit(_RRF_K) + F.col("rank_breadth")
    )
    return (
        ranked.join(
            broadcast_if_small(supplier),
            F.col("s_suppkey") == F.col("l_suppkey"),
        )
        .select("s_suppkey", "s_name", "rank_rev", "rank_breadth", rrf.alias("rrf_score"))
        .orderBy(F.col("rrf_score").desc(), "s_suppkey")
        .limit(20)
    )
