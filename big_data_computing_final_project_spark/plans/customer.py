"""Customer-analytics family: the segmentation / association / attribution
/ concentration queries a commercial analytics team runs on the same star
schema the decision-support family (q106-q142) reports on.

q177: RFM segmentation — recency / frequency / monetary quintiles per
      customer, rolled up to segment cells (the classic CRM cube).
q178: market-basket association rules — part pairs with support,
      confidence, and lift from co-purchase counts; top rules by lift.
q179: last-touch campaign attribution — each purchase's value attributed
      to the campaign (props.k) of the user's latest click in the prior
      7 days, strictly before the purchase; revenue per campaign.
q180: supplier concentration (HHI) per nation — the antitrust-style
      Herfindahl-Hirschman index over supplier revenue shares, plus the
      effective-competitor count 1/HHI.

Exactness notes (the repo-wide oracle discipline):
- Quintiles are ntile(5) over a UNIQUE ordering (metric, custkey) — ties
  broken by key, so both engines assign identical buckets.
- Association metrics are ratios of exact int64 counts; lift's cross
  products stay < 2^63 even at 1e9 orders x 1e9 baskets.
- HHI avoids the order-dependent sum of squared double shares: with
  revenues in exact 1e-4 integer units, HHI = (sum r_i^2) / (sum r_i)^2 —
  both sides exact decimals, one double division at the end.
- Attribution picks the click by max (ts, event_id) packed into one exact
  decimal key, so microsecond ties can't make the two engines pick
  different clicks.

Scale: q177/q180 are one fact aggregate + kilobyte window math. q178's
pair explosion is bounded by per-order basket size (<= C(13,2) pairs per
order in this schema) and aggregates straight down to distinct pairs.
q179 is one window pass + an aggregate — no self-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import epoch_us, load_table
from ..functions.stats import sql_dec_sum
from ..operators.sizing import broadcast_if_small
from ..sources.io import local_frame
from .registry import register

# ---------------------------------------------------------------------------
# q177 — RFM segmentation. Recency = last order's epoch-day (newer = higher
# quintile), frequency = order count, monetary = exact decimal revenue.
# ntile(5) over (metric, custkey): deterministic under ties. Output: the
# populated (r,f,m) cells with size and exact average monetary value.
# ---------------------------------------------------------------------------

_Q177_ORACLE = f"""
WITH per_cust AS (
  SELECT o_custkey,
         MAX(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)))
           AS last_day,
         COUNT(*) AS n_orders,
         SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS mon_dec
  FROM orders GROUP BY 1
), scored AS (
  SELECT o_custkey, mon_dec,
         NTILE(5) OVER (ORDER BY last_day, o_custkey) AS r_q,
         NTILE(5) OVER (ORDER BY n_orders, o_custkey) AS f_q,
         NTILE(5) OVER (ORDER BY mon_dec, o_custkey) AS m_q
  FROM per_cust
)
SELECT r_q, f_q, m_q,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(CAST(SUM(mon_dec) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_monetary
FROM scored
GROUP BY r_q, f_q, m_q
ORDER BY r_q, f_q, m_q
"""


@register("q177_rfm_segmentation", oracle=_Q177_ORACLE)
def q177_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    from .timeseries import order_epoch_day

    per_cust = o.groupBy("o_custkey").agg(
        F.max(order_epoch_day()).alias("last_day"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(38,4)")).alias("mon_dec"),
    )
    # distributed NTILE (operators/ranking.py): an unpartitioned ntile
    # window serializes |customers| rows into one task — ruinous at 1e9
    # customers. Buckets: the low-cardinality metrics bucket on themselves;
    # monetary buckets on floor(log2(spend)) — ~40 bands over ANY positive
    # spend domain, heavy tails included (a $1000 linear band would grow
    # with the domain). The oracle keeps NTILE, so the hash match doubles
    # as the proof the closed-form tile assignment is standard-equivalent.
    # per_cust is cached: each tile branch re-reads it, and without the
    # cache the fact aggregate would run once per branch.
    from ..operators.ranking import distributed_ntile

    per_cust = per_cust.cache()
    tiles = []
    for out_col, order_cols, bucket in (
        ("r_q", ["last_day", "o_custkey"], None),
        ("f_q", ["n_orders", "o_custkey"], None),
        (
            "m_q",
            ["mon_dec", "o_custkey"],
            F.floor(F.log2(F.col("mon_dec").cast("double"))).cast("bigint"),
        ),
    ):
        keep = {"o_custkey", *order_cols}
        tiles.append(
            distributed_ntile(
                per_cust.select(*sorted(keep)), order_cols, 5,
                bucket=bucket, out_col=out_col,
            ).select("o_custkey", out_col)
        )
    scored = per_cust.select("o_custkey", "mon_dec")
    for t in tiles:
        scored = scored.join(t, "o_custkey")
    return (
        scored.groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (F.sum("mon_dec").cast("double") / F.count(F.lit(1))).alias(
                "avg_monetary"
            ),
        )
        .orderBy("r_q", "f_q", "m_q")
    )


# ---------------------------------------------------------------------------
# q178 — market-basket association rules on co-purchased parts. Baskets are
# orders; pair counts come from the p1 < p2 self-join (bounded by basket
# size, never by catalog size). For the DIRECTED rule p1 -> p2 (and its
# mirror): support = n_both/n_orders, confidence = n_both/n(antecedent),
# lift = n_both * n_orders / (n_p1 * n_p2). Rules with n_both >= 3, top 50
# by (lift, p1, p2) — the unique tiebreak any deterministic LIMIT needs.
# ---------------------------------------------------------------------------

_Q178_MIN_BOTH = 3
_Q178_TOPK = 50

_Q178_ORACLE = f"""
WITH baskets AS (
  SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM lineitem
), item AS (
  SELECT l_partkey AS p, COUNT(DISTINCT l_orderkey) AS n_p
  FROM lineitem GROUP BY 1
), pair AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2,
         COUNT(DISTINCT a.l_orderkey) AS n_both
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
), rules AS (
  SELECT p1 AS antecedent, p2 AS consequent, n_both, i1.n_p AS n_ante,
         i2.n_p AS n_cons, baskets.n_orders AS n_orders
  FROM pair JOIN item i1 ON i1.p = pair.p1
            JOIN item i2 ON i2.p = pair.p2, baskets
  UNION ALL
  SELECT p2, p1, n_both, i2.n_p, i1.n_p, baskets.n_orders
  FROM pair JOIN item i1 ON i1.p = pair.p1
            JOIN item i2 ON i2.p = pair.p2, baskets
)
SELECT antecedent, consequent,
       CAST(n_both AS BIGINT) AS n_both,
       CAST(n_both AS DOUBLE) / n_orders AS support,
       CAST(n_both AS DOUBLE) / n_ante AS confidence,
       CAST(n_both * n_orders AS DOUBLE) / CAST(n_ante * n_cons AS DOUBLE) AS lift
FROM rules
WHERE n_both >= {_Q178_MIN_BOTH}
ORDER BY lift DESC, antecedent, consequent
LIMIT {_Q178_TOPK}
"""


@register("q178_basket_rules", oracle=_Q178_ORACLE)
def q178_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Dedup (orderkey, partkey) ONCE and share the
    # cached frame across all three aggregates. Every COUNT(DISTINCT
    # l_orderkey) then degenerates to a plain COUNT — (orderkey, partkey)
    # is unique by construction, and so is (orderkey, p1, p2) out of the
    # self-join — which removes the two-phase distinct aggregate from the
    # widest shuffle (the pair counts) and the duplicate lineitem scans.
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    dl = li.distinct().cache()
    baskets = dl.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    item = dl.groupBy(F.col("l_partkey").alias("p")).agg(
        F.count(F.lit(1)).alias("n_p")
    )
    a = dl.select("l_orderkey", F.col("l_partkey").alias("p1"))
    b = dl.select("l_orderkey", F.col("l_partkey").alias("p2"))
    pair = (
        a.join(b, "l_orderkey")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    return basket_rules(pair, item, baskets, _Q178_MIN_BOTH, _Q178_TOPK)


def basket_rules(
    pairs: DataFrame, items: DataFrame, baskets: DataFrame, min_both: int, topk: int
) -> DataFrame:
    """q178's rule table from pair counts ``(p1, p2, n_both)``, item counts
    ``(p, n_p)`` and the one-row basket count ``(n_orders)``: both rule
    directions, ``n_both >= min_both``, the deterministic (lift,
    antecedent, consequent) top-k — ONE formula serving batch q178 and the
    store fold (streaming/events.basket_rules_from_store)."""
    i1 = items.select(F.col("p").alias("p1"), F.col("n_p").alias("n_ante_fwd"))
    i2 = items.select(F.col("p").alias("p2"), F.col("n_p").alias("n_cons_fwd"))
    enriched = (
        pairs.join(broadcast_if_small(i1), "p1")
        .join(broadcast_if_small(i2), "p2")
        .crossJoin(F.broadcast(baskets))
    )
    fwd = enriched.select(
        F.col("p1").alias("antecedent"),
        F.col("p2").alias("consequent"),
        "n_both",
        F.col("n_ante_fwd").alias("n_ante"),
        F.col("n_cons_fwd").alias("n_cons"),
        "n_orders",
    )
    rev = enriched.select(
        F.col("p2").alias("antecedent"),
        F.col("p1").alias("consequent"),
        "n_both",
        F.col("n_cons_fwd").alias("n_ante"),
        F.col("n_ante_fwd").alias("n_cons"),
        "n_orders",
    )
    rules = fwd.unionAll(rev).filter(F.col("n_both") >= min_both)
    lift = (F.col("n_both") * F.col("n_orders")).cast("double") / (
        F.col("n_ante") * F.col("n_cons")
    ).cast("double")
    return (
        rules.select(
            "antecedent",
            "consequent",
            F.col("n_both").cast("bigint").alias("n_both"),
            (F.col("n_both").cast("double") / F.col("n_orders")).alias("support"),
            (F.col("n_both").cast("double") / F.col("n_ante")).alias("confidence"),
            lift.alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "antecedent", "consequent")
        .limit(topk)
    )


# ---------------------------------------------------------------------------
# q179 — last-touch campaign attribution. The campaign is the click's
# props.k; each purchase takes the campaign of the user's latest click in
# [-7d, -1us]. "Latest" is max over the frame of the exact decimal key
# ts_us * 10^7 + (event_id mod 10^7) — one packed value, so a microsecond
# tie resolves by event id identically in both engines (max of a double
# key would round; max of two columns isn't a window aggregate). The k of
# that click rides in the SAME packed key's low digits trick — rather than
# a second lookup join, pack (key, k) as key * 100 + k and unpack with
# integer div/mod (k is 0..99 in this data; guarded by a mod).
# Purchases with no prior click attribute to campaign -1 (organic).
# ---------------------------------------------------------------------------

_7D_US = 7 * 86_400 * 1_000_000

# Packed-key layout: ts_us * 10^15 + (event_id mod 10^13) * 100 + campaign.
# 10^13 of id space (review fix: the first cut used 10^7, which a 100 TB
# event stream exceeds, silently inverting the documented higher-id-wins
# microsecond tie-break); one key is <= ~7.3e30 through year 2200, inside
# DECIMAL(38,0). KEY_UNITS_PER_US is what converts a ts bound into a key
# bound: click_ts < t  <=>  key < t * 10^15.
_ID_MOD = 10_000_000_000_000
ATTR_KEY_UNITS_PER_US = _ID_MOD * 100

_Q179_ORACLE = f"""
WITH ev AS (
  SELECT user_id, event_type, value, epoch_us(ts) AS ts_us,
         CASE WHEN event_type = 'click'
              THEN ((CAST(epoch_us(ts) AS DECIMAL(16,0)) * {_ID_MOD}
                     + CAST(event_id % {_ID_MOD} AS DECIMAL(16,0))) * 100
                    + CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) % 100
                           AS DECIMAL(16,0)))
              ELSE NULL END AS click_key
  FROM events
), w AS (
  SELECT user_id, event_type, value, ts_us,
         MAX(click_key) OVER (PARTITION BY user_id ORDER BY ts_us
                              RANGE BETWEEN {_7D_US} PRECEDING AND 1 PRECEDING)
           AS best_click
  FROM ev
)
SELECT CAST(COALESCE(best_click % 100, -1) AS BIGINT) AS campaign,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       {sql_dec_sum("value")} AS attributed_revenue
FROM w
WHERE event_type = 'purchase'
GROUP BY 1
ORDER BY campaign
"""


def attribution_click_key(ts_us, event_id, campaign):
    """The packed (ts, event_id, campaign) ordering key q179 and its
    streaming twin share: ts_us * 10^15 + (event_id mod 10^13) * 100 + k.
    Monotone in (ts, id) for ids < 10^13 (beyond that the microsecond
    tie-break is by id mod 10^13 — deterministic, documented); campaign
    recoverable as key mod 100; the range [lo*10^15, hi*10^15) selects
    clicks with ts in [lo, hi) exactly. Pinned to DECIMAL(38,0) so store
    parquet schemas are stable."""
    return (
        (
            ts_us.cast("decimal(16,0)") * F.lit(_ID_MOD)
            + (event_id % _ID_MOD).cast("decimal(16,0)")
        )
        * 100
        + campaign.cast("decimal(16,0)")
    ).cast("decimal(38,0)")


def attribution_campaign_expr(props_col):
    """props.k as the campaign id, mod-guarded to the 2 low digits the
    packed key reserves."""
    return F.get_json_object(props_col, "$.k").cast("bigint") % 100


ATTR_WINDOW_US = _7D_US


@register("q179_lasttouch_attribution", oracle=_Q179_ORACLE)
def q179_lasttouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.stats import dec_sum

    ev = load_table(spark, sf_dir, "events")
    ts_us = epoch_us(F.col("ts"))
    k = attribution_campaign_expr("props")
    click_key = F.when(
        F.col("event_type") == "click",
        attribution_click_key(ts_us, F.col("event_id"), k),
    )
    fr = (
        Window.partitionBy("user_id")
        .orderBy(ts_us)
        .rangeBetween(-_7D_US, -1)
    )
    w = ev.select(
        "event_type",
        "value",
        F.max(click_key).over(fr).alias("best_click"),
    )
    return (
        w.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.coalesce(F.col("best_click") % 100, F.lit(-1))
            .cast("bigint")
            .alias("campaign")
        )
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            dec_sum(F.col("value")).alias("attributed_revenue"),
        )
        .orderBy("campaign")
    )


# ---------------------------------------------------------------------------
# q180 — supplier revenue concentration per nation (HHI). Revenue per
# supplier in exact 1e-4 integer units u_i = round(rev * 1e4); then
#   HHI = sum(u_i^2) / (sum u_i)^2
# — numerator and denominator are exact decimals (u_i < 2^53 holds through
# sf100; u_i^2 as DECIMAL(19,0) x DECIMAL(19,0) stays inside 38 digits),
# and the units cancel, so no unit correction is needed. One double
# division at the end; 1/HHI is the effective number of equal-size
# competitors, the number a regulator actually quotes.
# ---------------------------------------------------------------------------

_Q180_ORACLE = """
WITH rev AS (
  SELECT s_nationkey,
         CAST(round(CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                                       AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
                    * 1e4) AS BIGINT) AS u
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY s_nationkey, l_suppkey
), agg AS (
  SELECT s_nationkey,
         COUNT(*) AS n_suppliers,
         SUM(CAST(u AS DECIMAL(19,0)) * CAST(u AS DECIMAL(19,0))) AS num_dec,
         SUM(CAST(u AS DECIMAL(38,0))) AS den_sum,
         MAX(u) AS max_u
  FROM rev GROUP BY 1
)
SELECT n.n_name AS nation,
       CAST(n_suppliers AS BIGINT) AS n_suppliers,
       CAST(CAST(den_sum AS VARCHAR) AS DOUBLE) / 1e4 AS total_revenue,
       CAST(CAST(num_dec AS VARCHAR) AS DOUBLE)
         / (CAST(CAST(den_sum AS VARCHAR) AS DOUBLE)
            * CAST(CAST(den_sum AS VARCHAR) AS DOUBLE)) AS hhi,
       (CAST(CAST(den_sum AS VARCHAR) AS DOUBLE)
        * CAST(CAST(den_sum AS VARCHAR) AS DOUBLE))
         / CAST(CAST(num_dec AS VARCHAR) AS DOUBLE) AS effective_competitors,
       CAST(max_u AS DOUBLE) / CAST(CAST(den_sum AS VARCHAR) AS DOUBLE)
         AS top_share
FROM agg JOIN nation n ON n.n_nationkey = agg.s_nationkey
ORDER BY nation
"""


@register("q180_supplier_hhi", oracle=_Q180_ORACLE)
def q180_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.stats import dec_sum

    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(broadcast_if_small(sup), li["l_suppkey"] == sup["s_suppkey"])
        .groupBy("s_nationkey", "l_suppkey")
        .agg(
            F.round(
                dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=6)
                * F.lit(1e4)
            )
            .cast("long")
            .alias("u")
        )
    )
    u19 = F.col("u").cast("decimal(19,0)")
    agg = rev.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(u19 * u19).alias("num_dec"),
        F.sum(F.col("u").cast("decimal(38,0)")).alias("den_sum"),
        F.max("u").alias("max_u"),
    )
    den = F.col("den_sum").cast("double")
    num = F.col("num_dec").cast("double")
    return (
        agg.join(F.broadcast(nat), agg["s_nationkey"] == nat["n_nationkey"])
        .select(
            F.col("n_name").alias("nation"),
            F.col("n_suppliers").cast("bigint").alias("n_suppliers"),
            (den / F.lit(1e4)).alias("total_revenue"),
            (num / (den * den)).alias("hhi"),
            ((den * den) / num).alias("effective_competitors"),
            (F.col("max_u").cast("double") / den).alias("top_share"),
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# q182 — reorder-gap distribution: days between a customer's consecutive
# orders (lag over (orderdate, orderkey) — the orderkey tiebreak makes the
# sequence, and therefore every gap, unique and engine-identical), bucketed
# into the retention bands a lifecycle team watches. Counts and the int64
# gap-sum are exact; share and avg_gap_days are one division each. Same-day
# repeat orders land in 'same_day' rather than polluting the 1-7d band.
# ---------------------------------------------------------------------------

_Q182_BANDS = [
    ("same_day", 0, 0),
    ("1-7d", 1, 7),
    ("8-30d", 8, 30),
    ("31-90d", 31, 90),
    ("91-365d", 91, 365),
    ("365d+", 366, None),
]


def _q182_band_sql(gap: str) -> str:
    arms = []
    for name, lo, hi in _Q182_BANDS:
        cond = f"{gap} >= {lo}" if hi is None else f"{gap} BETWEEN {lo} AND {hi}"
        arms.append(f"WHEN {cond} THEN '{name}'")
    return "CASE " + " ".join(arms) + " END"


_Q182_ORACLE = f"""
WITH seq AS (
  SELECT o_custkey,
         date_diff('day',
                   lag(CAST(o_orderdate AS DATE)) OVER w,
                   CAST(o_orderdate AS DATE)) AS gap
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
), banded AS (
  SELECT {_q182_band_sql("gap")} AS band, gap FROM seq WHERE gap IS NOT NULL
)
SELECT band,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER () AS share,
       CAST(SUM(gap) AS DOUBLE) / COUNT(*) AS avg_gap_days
FROM banded
GROUP BY band
ORDER BY band
"""


@register("q182_reorder_gaps", oracle=_Q182_ORACLE)
def q182_reorder_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gap = F.datediff(
        F.to_date("o_orderdate"), F.lag(F.to_date("o_orderdate")).over(w)
    )
    expr = None
    for name, lo, hi in _Q182_BANDS:
        cond = (F.col("gap") >= lo) if hi is None else F.col("gap").between(lo, hi)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    banded = (
        o.select(gap.alias("gap"))
        .filter(F.col("gap").isNotNull())
        .select("gap", expr.alias("band"))
    )
    tot = Window.partitionBy()
    return (
        banded.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.sum("gap").alias("gap_sum"),
        )
        .select(
            "band",
            F.col("n_gaps").cast("bigint").alias("n_gaps"),
            (F.col("n_gaps").cast("double") / F.sum("n_gaps").over(tot)).alias(
                "share"
            ),
            (F.col("gap_sum").cast("double") / F.col("n_gaps")).alias("avg_gap_days"),
        )
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# q183 — cohort lifetime-value matrix: customers grouped by first-order
# month; for each (cohort, months-since-first-order) cell, that month's
# revenue and the cohort's CUMULATIVE revenue per member — the LTV curve a
# growth team reads off the diagonal. Monthly revenues are exact decimal
# sums; the cumulative is a window SUM OVER DECIMALS (exact, order-free);
# per-member LTV is one double division by the exact cohort size.
#
# Scale: two passes over orders (first-order month per customer, then the
# cohort/month rollup joined back on custkey — the join is fact->tiny only
# after aggregation; the per-customer min is a partial-agg groupBy).
# ---------------------------------------------------------------------------

_SQL_MONTH_IDX = (
    "(EXTRACT(year FROM o_orderdate) - 1995) * 12 + EXTRACT(month FROM o_orderdate) - 1"
)

_Q183_ORACLE = f"""
WITH first_m AS (
  SELECT o_custkey, MIN({_SQL_MONTH_IDX}) AS cohort
  FROM orders GROUP BY 1
), sizes AS (
  SELECT cohort, COUNT(*) AS cohort_size FROM first_m GROUP BY 1
), cells AS (
  SELECT f.cohort,
         {_SQL_MONTH_IDX} - f.cohort AS months_since,
         SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS rev_dec
  FROM orders o JOIN first_m f ON f.o_custkey = o.o_custkey
  GROUP BY 1, 2
), cum AS (
  SELECT cohort, months_since, rev_dec,
         SUM(rev_dec) OVER (PARTITION BY cohort ORDER BY months_since) AS cum_dec
  FROM cells
)
SELECT CAST(c.cohort AS BIGINT) AS cohort_month,
       CAST(c.months_since AS BIGINT) AS months_since,
       CAST(s.cohort_size AS BIGINT) AS cohort_size,
       CAST(CAST(c.rev_dec AS VARCHAR) AS DOUBLE) AS month_revenue,
       CAST(CAST(c.cum_dec AS VARCHAR) AS DOUBLE) AS cum_revenue,
       CAST(CAST(c.cum_dec AS VARCHAR) AS DOUBLE) / s.cohort_size AS ltv_per_customer
FROM cum c JOIN sizes s ON s.cohort = c.cohort
ORDER BY cohort_month, months_since
"""


@register("q183_cohort_ltv", oracle=_Q183_ORACLE)
def q183_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    month_idx = (
        (F.year("o_orderdate") - F.lit(1995)) * 12 + F.month("o_orderdate") - 1
    )
    first_m = o.groupBy("o_custkey").agg(F.min(month_idx).alias("cohort"))
    sizes = first_m.groupBy("cohort").agg(F.count(F.lit(1)).alias("cohort_size"))
    cells = (
        o.join(first_m, "o_custkey")
        .groupBy("cohort", (month_idx - F.col("cohort")).alias("months_since"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(38,4)")).alias("rev_dec"))
    )
    cum = cells.withColumn(
        "cum_dec",
        F.sum("rev_dec").over(Window.partitionBy("cohort").orderBy("months_since")),
    )
    return (
        cum.join(F.broadcast(sizes), "cohort")
        .select(
            F.col("cohort").cast("bigint").alias("cohort_month"),
            F.col("months_since").cast("bigint").alias("months_since"),
            F.col("cohort_size").cast("bigint").alias("cohort_size"),
            F.col("rev_dec").cast("double").alias("month_revenue"),
            F.col("cum_dec").cast("double").alias("cum_revenue"),
            (F.col("cum_dec").cast("double") / F.col("cohort_size")).alias(
                "ltv_per_customer"
            ),
        )
        .orderBy("cohort_month", "months_since")
    )


# ---------------------------------------------------------------------------
# q187 — hierarchical revenue shares: one ROLLUP(region, nation) pass
# emitting every level with its share OF ITS PARENT — nation within region,
# region within grand total — the drill-down tree a revenue dashboard
# renders. Shares divide exact per-level decimal sums (the rollup re-sums
# raw decimals at every level, so a parent is bit-exactly the sum of its
# children); the parent lookup is a window over the rollup output keyed by
# the grouping level, never a second scan.
#
# Scale: one fact aggregate (ROLLUP = grouping-sets expansion inside the
# same hash aggregate) + window math over ~|nations| rows.
# ---------------------------------------------------------------------------

_Q187_ORACLE = """
WITH ro AS (
  SELECT r_name, n_name,
         GROUPING(r_name) AS g_r, GROUPING(n_name) AS g_n,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS rev_dec
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY ROLLUP (r_name, n_name)
), shared AS (
  SELECT r_name, n_name, g_r, g_n, rev_dec,
         SUM(CASE WHEN g_n = 1 AND g_r = 0 THEN rev_dec END)
           OVER (PARTITION BY r_name) AS region_dec,
         SUM(CASE WHEN g_r = 1 THEN rev_dec END) OVER () AS total_dec
  FROM ro
)
SELECT CASE WHEN g_r = 1 THEN 'total' WHEN g_n = 1 THEN 'region' ELSE 'nation' END
         AS level,
       COALESCE(r_name, 'ALL') AS region,
       COALESCE(n_name, 'ALL') AS nation,
       CAST(CAST(rev_dec AS VARCHAR) AS DOUBLE) AS revenue,
       CASE WHEN g_n = 0 AND g_r = 0
            THEN CAST(CAST(rev_dec AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(region_dec AS VARCHAR) AS DOUBLE)
            WHEN g_n = 1 AND g_r = 0
            THEN CAST(CAST(rev_dec AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(total_dec AS VARCHAR) AS DOUBLE)
            ELSE 1.0 END AS share_of_parent
FROM shared
ORDER BY level, region, nation
"""


@register("q187_hierarchical_shares", oracle=_Q187_ORACLE)
def q187_hierarchical_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    joined = (
        li.join(broadcast_if_small(sup), li["l_suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .join(F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"])
    )
    ro = joined.rollup("r_name", "n_name").agg(
        F.grouping("r_name").alias("g_r"),
        F.grouping("n_name").alias("g_n"),
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(38,6)"
            )
        ).alias("rev_dec"),
    )
    shared = ro.select(
        "*",
        F.sum(F.when((F.col("g_n") == 1) & (F.col("g_r") == 0), F.col("rev_dec")))
        .over(Window.partitionBy("r_name"))
        .alias("region_dec"),
        F.sum(F.when(F.col("g_r") == 1, F.col("rev_dec")))
        .over(Window.partitionBy())
        .alias("total_dec"),
    )
    level = (
        F.when(F.col("g_r") == 1, F.lit("total"))
        .when(F.col("g_n") == 1, F.lit("region"))
        .otherwise(F.lit("nation"))
    )
    rev = F.col("rev_dec").cast("double")
    share = (
        F.when(
            (F.col("g_n") == 0) & (F.col("g_r") == 0),
            rev / F.col("region_dec").cast("double"),
        )
        .when(
            (F.col("g_n") == 1) & (F.col("g_r") == 0),
            rev / F.col("total_dec").cast("double"),
        )
        .otherwise(F.lit(1.0))
    )
    return shared.select(
        level.alias("level"),
        F.coalesce("r_name", F.lit("ALL")).alias("region"),
        F.coalesce("n_name", F.lit("ALL")).alias("nation"),
        rev.alias("revenue"),
        share.alias("share_of_parent"),
    ).orderBy("level", "region", "nation")


# ---------------------------------------------------------------------------
# q188 — Benford first-digit audit on order totals (the classic fraud /
# data-fabrication screen: organically-grown monetary amounts follow
# P(d) = log10(1 + 1/d); fabricated ones usually don't). The first digit
# is extracted EXACTLY: amounts become integer cents (round(x*100), exact
# for this 2-decimal money column), and the digit is the first character
# of the integer's decimal string — bigint->varchar is identical in both
# engines, with no log10-near-power-boundary hazard. The Benford
# expectations are PRECOMPUTED python literals embedded in both plans
# (math.log10 once, offline), so no cross-libm transcendental enters the
# hash. chi2 folds its 9 terms left-associated in digit order.
#
# Scale: one scan -> 9-row aggregate; the chi2 is driver-free window math.
# ---------------------------------------------------------------------------

_BENFORD = [
    (1, 0.3010299956639812),
    (2, 0.17609125905568124),
    (3, 0.12493873660829992),
    (4, 0.09691001300805642),
    (5, 0.07918124604762482),
    (6, 0.06694678963061322),
    (7, 0.05799194697768673),
    (8, 0.05115252244738129),
    (9, 0.04575749056067514),
]

_Q188_ORACLE = f"""
WITH digits AS (
  SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR),
                        1, 1) AS BIGINT) AS d
  FROM orders WHERE o_totalprice > 0
), counts AS (
  SELECT d, COUNT(*) AS n, SUM(COUNT(*)) OVER () AS total FROM digits GROUP BY d
), bf(d, expected) AS (
  -- CAST AS DOUBLE, explicitly: DuckDB types a bare decimal literal as
  -- DECIMAL, whose trailing-zero stringification breaks the value hash
  VALUES {", ".join(f"({d}, CAST({e!r} AS DOUBLE))" for d, e in _BENFORD)}
)
SELECT bf.d AS first_digit,
       CAST(COALESCE(counts.n, 0) AS BIGINT) AS n_orders,
       CAST(COALESCE(counts.n, 0) AS DOUBLE) / ANY_VALUE(t.total) AS share,
       bf.expected,
       (CAST(COALESCE(counts.n, 0) AS DOUBLE) / ANY_VALUE(t.total) - bf.expected)
       * (CAST(COALESCE(counts.n, 0) AS DOUBLE) / ANY_VALUE(t.total) - bf.expected)
       / bf.expected AS chi2_term
FROM bf
LEFT JOIN counts ON counts.d = bf.d
CROSS JOIN (SELECT ANY_VALUE(total) AS total FROM counts) t
GROUP BY bf.d, bf.expected, counts.n
ORDER BY first_digit
"""


@register("q188_benford_audit", oracle=_Q188_ORACLE)
def q188_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = F.substring(
        F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"), 1, 1
    ).cast("bigint")
    counts = (
        o.filter(F.col("o_totalprice") > 0)
        .groupBy(d.alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("total", F.sum("n").over(Window.partitionBy()))
    )
    bf = local_frame(spark, _BENFORD, "d bigint, expected double")
    share = F.coalesce(F.col("n"), F.lit(0)).cast("double") / F.col("total_all")
    total_all = counts.agg(F.max("total").alias("total_all"))
    return (
        F.broadcast(bf)
        .join(counts, "d", "left")
        .crossJoin(F.broadcast(total_all))
        .select(
            F.col("d").alias("first_digit"),
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_orders"),
            share.alias("share"),
            "expected",
            (
                (share - F.col("expected"))
                * (share - F.col("expected"))
                / F.col("expected")
            ).alias("chi2_term"),
        )
        .orderBy("first_digit")
    )


# ---------------------------------------------------------------------------
# q191 — keyset pagination: page 3 (rows 101-150) of the customer ledger
# ordered by (c_acctbal DESC, c_custkey). OFFSET pagination re-sorts and
# discards 100 rows per page — O(page_depth) work that collapses under
# deep pagination; keyset pagination seeks WHERE (bal, key) < last-seen
# and takes LIMIT, making every page the same cost and pushdown-friendly
# (the predicate reaches the scan). The query derives page 3's cursor the
# same way a client would — from page 2's last row — then fetches with
# the seek predicate; the oracle does the identical two steps, and the
# pytest cross-checks against the OFFSET form row-for-row.
#
# The composite seek on a DESC+ASC mixed order can't be a single row
# comparison: (bal < c) OR (bal = c AND key > k) — spelled out in both
# engines.
# ---------------------------------------------------------------------------

_Q191_PAGE = 50

_Q191_ORACLE = f"""
WITH cursor_row AS (
  SELECT c_acctbal AS cb, c_custkey AS ck
  FROM customer
  ORDER BY c_acctbal DESC, c_custkey
  LIMIT 1 OFFSET {2 * _Q191_PAGE - 1}
)
SELECT c.c_custkey, c.c_name, c.c_acctbal
FROM customer c, cursor_row
WHERE c.c_acctbal < cursor_row.cb
   OR (c.c_acctbal = cursor_row.cb AND c.c_custkey > cursor_row.ck)
ORDER BY c.c_acctbal DESC, c.c_custkey
LIMIT {_Q191_PAGE}
"""


@register("q191_keyset_pagination", oracle=_Q191_ORACLE)
def q191_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    # Cursor = the row at position exactly 2*PAGE in (bal DESC, key) order:
    # limit(2*PAGE) is a distributed TakeOrderedAndProject, then row_number
    # over the <=2*PAGE survivors (trivially single-task at that size) picks
    # position 2*PAGE — so a table with fewer than 2*PAGE rows produces an
    # EMPTY cursor and an empty page 3, matching the oracle's LIMIT 1 OFFSET
    # 2*PAGE-1 (a re-sort-last-row derivation would wrongly return rows).
    wn = Window.orderBy(F.col("c_acctbal").desc(), "c_custkey")
    cursor = (
        cust.orderBy(F.col("c_acctbal").desc(), "c_custkey")
        .limit(2 * _Q191_PAGE)
        .withColumn("rn", F.row_number().over(wn))
        .filter(F.col("rn") == 2 * _Q191_PAGE)
        .select(F.col("c_acctbal").alias("cb"), F.col("c_custkey").alias("ck"))
    )
    seek = (F.col("c_acctbal") < F.col("cb")) | (
        (F.col("c_acctbal") == F.col("cb")) & (F.col("c_custkey") > F.col("ck"))
    )
    return (
        cust.crossJoin(F.broadcast(cursor))
        .filter(seek)
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy(F.col("c_acctbal").desc(), "c_custkey")
        .limit(_Q191_PAGE)
    )
