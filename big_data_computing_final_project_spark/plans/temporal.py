"""Temporal joins over `events` (north-star extension; SURVEY §2.5 notes the
reference has no joins at all, so these — like the star-schema joins — come
from the driver-mandated extension surface).

q65: as-of join (kdb aj / merge_asof) via operators/temporal.asof_join —
     oracle-checked against DuckDB's native ASOF JOIN.
q66: banded range join (no equi key): a tiny band dimension joined on an
     interval-containment predicate. At scale the band table is broadcast,
     so the non-equi join never shuffles the fact side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import epoch_us, load_table
from ..functions.stats import dec_sum, sql_dec_sum
from ..operators.temporal import asof_join
from ..sources.io import local_frame
from .registry import register

# ---------------------------------------------------------------------------
# q65 — as-of join: each 'click' event picks up the latest 'purchase' of the
# same user at or before its timestamp (inclusive). Purchases are
# pre-aggregated per (user_id, ts) so the right side is tie-free — the
# uniqueness contract any deterministic as-of join needs.
# ---------------------------------------------------------------------------

_Q65_ORACLE = f"""
WITH p AS (
  SELECT user_id, ts,
         MAX(event_id) AS purchase_id,
         {sql_dec_sum('value')} AS purchase_value
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id, ts
), c AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
)
SELECT c.event_id, c.user_id, p.purchase_id, p.purchase_value
FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
ORDER BY c.event_id
"""


@register("q65_asof_join", oracle=_Q65_ORACLE)
def q65_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("purchase_id"),
            dec_sum(F.col("value")).alias("purchase_value"),
        )
    )
    return (
        asof_join(
            clicks,
            purchases,
            on=["user_id"],
            left_ts="ts",
            right_ts="ts",
            payload=["purchase_id", "purchase_value"],
        )
        .select("event_id", "user_id", "purchase_id", "purchase_value")
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# q66 — banded range join: events joined to a value-band dimension on
# lo <= value < hi (no equi key). The band table is broadcast, so Spark
# plans a BroadcastNestedLoopJoin — fact rows never shuffle, which is the
# scale-safe shape for any small interval dimension (calendars, SLA tiers,
# price bands). Contiguous bands could also compile to a when()-chain or
# Bucketizer; the join form generalizes to overlapping/gapped intervals.
# ---------------------------------------------------------------------------

_BANDS = [
    (0, 0.0, 10.0),
    (1, 10.0, 50.0),
    (2, 50.0, 100.0),
    (3, 100.0, 500.0),
    (4, 500.0, 1.0e308),
]

_Q66_ORACLE = f"""
WITH bands(band_id, lo, hi) AS (
  VALUES {', '.join(f'({b}, {lo}, {hi})' for b, lo, hi in _BANDS)}
)
SELECT band_id, COUNT(*) AS n_events, {sql_dec_sum('value')} AS total_value
FROM events JOIN bands ON value >= lo AND value < hi
GROUP BY band_id
ORDER BY band_id
"""


@register("q66_range_band_join", oracle=_Q66_ORACLE)
def q66_range_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bands = local_frame(spark, _BANDS, "band_id int, lo double, hi double")
    joined = ev.join(
        F.broadcast(bands),
        (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
    )
    return (
        joined.groupBy("band_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dec_sum(F.col("value")).alias("total_value"))
        .orderBy("band_id")
    )


# ---------------------------------------------------------------------------
# q176 — leakage-free training-set assembly (the point-in-time feature
# join every feature store exists to get right). One training row per
# 'purchase' event; its features summarize the user's activity in the 7
# days STRICTLY BEFORE the purchase — a RANGE frame of [-7d, -1us] on
# microsecond epochs, so the label event can never leak into its own
# features, and neither can any same-microsecond peer (the frame's upper
# bound is -1, and RANGE treats exact ties as peers in both engines —
# identical semantics on the oracle side).
#
# Exactness: features are COUNTS, a MAX (order-free), and an integer
# timestamp gap — deliberately no sum of raw full-mantissa doubles, which
# is the one window reduction two engines won't reproduce bit-for-bit.
# The label is the purchase's own value, untouched.
#
# Scale: a single window pass over events hash-partitioned by user — the
# exact shape Spark executes as one shuffle + one sorted window; no join
# at all (the "join" of the feature store is against the same stream).
# At 100 TB the window state per user is bounded by 7 days of activity.
# ---------------------------------------------------------------------------

# q176's lookback — deliberately its OWN knob (plans.customer.ATTR_WINDOW_US
# is the attribution family's; retuning one must not retune the other)
_7D_US = 7 * 86_400 * 1_000_000

_Q176_ORACLE = f"""
WITH w AS (
  SELECT event_id, user_id, event_type, value,
         epoch_us(ts) AS ts_us,
         COUNT(*) OVER fr AS n_prior_total,
         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) OVER fr AS n_prior_views,
         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) OVER fr AS n_prior_clicks,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) OVER fr AS n_prior_purchases,
         SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) OVER fr AS n_prior_errors,
         MAX(epoch_us(ts)) OVER fr AS last_prior_us
  FROM events
  WINDOW fr AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                RANGE BETWEEN {_7D_US} PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id,
       CAST(ts_us AS BIGINT) AS ts_us,
       value AS label_value,
       CAST(COALESCE(n_prior_total, 0) AS BIGINT) AS n_prior_total,
       CAST(COALESCE(n_prior_views, 0) AS BIGINT) AS n_prior_views,
       CAST(COALESCE(n_prior_clicks, 0) AS BIGINT) AS n_prior_clicks,
       CAST(COALESCE(n_prior_purchases, 0) AS BIGINT) AS n_prior_purchases,
       CAST(COALESCE(n_prior_errors, 0) AS BIGINT) AS n_prior_errors,
       CAST(ts_us - last_prior_us AS BIGINT) AS last_gap_us
FROM w
WHERE event_type = 'purchase'
ORDER BY event_id
"""


@register("q176_pit_training_set", oracle=_Q176_ORACLE)
def q176_pit_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    ts_us = epoch_us(F.col("ts"))
    fr = (
        Window.partitionBy("user_id")
        .orderBy(ts_us)
        .rangeBetween(-_7D_US, -1)
    )
    is_ = lambda t: (F.col("event_type") == t).cast("int")  # noqa: E731
    w = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        ts_us.alias("ts_us"),
        F.count(F.lit(1)).over(fr).alias("n_prior_total"),
        F.sum(is_("view")).over(fr).alias("n_prior_views"),
        F.sum(is_("click")).over(fr).alias("n_prior_clicks"),
        F.sum(is_("purchase")).over(fr).alias("n_prior_purchases"),
        F.sum(is_("error")).over(fr).alias("n_prior_errors"),
        F.max(ts_us).over(fr).alias("last_prior_us"),
    )
    z = lambda c: F.coalesce(F.col(c), F.lit(0)).cast("bigint").alias(c)  # noqa: E731
    return (
        w.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.col("ts_us").cast("bigint").alias("ts_us"),
            F.col("value").alias("label_value"),
            z("n_prior_total"),
            z("n_prior_views"),
            z("n_prior_clicks"),
            z("n_prior_purchases"),
            z("n_prior_errors"),
            (F.col("ts_us") - F.col("last_prior_us")).cast("bigint").alias("last_gap_us"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# q201 — keyless interval overlap self-join: which of the 500 widest
# order SLA windows [o_orderdate, o_orderdate + (o_orderkey % 45) days]
# ran concurrently, and for how many days. (The window end is a
# DETERMINISTIC SLA offset, not max(l_shipdate): the synthetic shipdates
# are uncorrelated with order dates — median "span" 717 days, some
# negative — which would make every window overlap every other and the
# demo vacuous.) No equi-key exists between two arbitrary windows, so a
# naive plan is a CartesianProduct; operators/intervals.py buckets time
# (64-day cells; a <=45-day window explodes to <=2 postings) and
# equi-joins on the cell, verifying the exact overlap on candidates only.
# Overlap length and window bounds are exact integer day arithmetic.
# ---------------------------------------------------------------------------

_Q201_TOP = 500
_Q201_BUCKET_DAYS = 64
_Q201_SLA_MOD = 45

_SQL_ODAY = "date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))"

_Q201_ORACLE = f"""
WITH win AS (
  SELECT o_orderkey, {_SQL_ODAY} AS s,
         {_SQL_ODAY} + o_orderkey % {_Q201_SLA_MOD} AS e
  FROM orders
), top AS (
  SELECT o_orderkey, s, e FROM win
  ORDER BY e - s DESC, o_orderkey
  LIMIT {_Q201_TOP}
)
SELECT a.o_orderkey AS order_a, b.o_orderkey AS order_b,
       LEAST(a.e, b.e) - GREATEST(a.s, b.s) + 1 AS overlap_days
FROM top a JOIN top b
  ON a.o_orderkey < b.o_orderkey AND a.s <= b.e AND b.s <= a.e
ORDER BY order_a, order_b
"""


@register("q201_interval_overlap_join", oracle=_Q201_ORACLE)
def q201_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.intervals import interval_self_overlap_pairs

    day = F.datediff(F.to_date("o_orderdate"), F.to_date(F.lit("1970-01-01")))
    win = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        day.alias("s"),
        (day + F.col("o_orderkey") % _Q201_SLA_MOD).alias("e"),
    )
    top = win.orderBy((F.col("e") - F.col("s")).desc(), "o_orderkey").limit(_Q201_TOP)
    # the top-500 frame feeds both explode legs and the payload re-join;
    # without materialization the scan + top-k would run three times
    top = top.localCheckpoint(eager=True)
    pairs = interval_self_overlap_pairs(
        top, _Q201_BUCKET_DAYS, id_col="o_orderkey", start_col="s", end_col="e"
    )
    wa = top.select(F.col("o_orderkey").alias("id_a"), F.col("s").alias("sa"), F.col("e").alias("ea"))
    wb = top.select(F.col("o_orderkey").alias("id_b"), F.col("s").alias("sb"), F.col("e").alias("eb"))
    return (
        pairs.join(wa, "id_a")
        .join(wb, "id_b")
        .select(
            F.col("id_a").alias("order_a"),
            F.col("id_b").alias("order_b"),
            (F.least("ea", "eb") - F.greatest("sa", "sb") + 1).alias("overlap_days"),
        )
        .orderBy("order_a", "order_b")
    )
