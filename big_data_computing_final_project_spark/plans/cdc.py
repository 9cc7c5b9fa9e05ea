"""Warehouse-maintenance / change-data-capture plans (north-star extension;
the reference — a pandas/sklearn notebook pipeline — has no mutation or
versioning surface at all, so like `temporal.py` these come from the
driver-mandated "what a 100 TB training-data pipeline needs" extension
surface: dimension history, log compaction, and smoothed trend monitoring
are the three maintenance jobs every large ingest loop runs nightly).

q163: SCD2 merge — apply an update batch to a versioned dimension
      (close changed rows, open new versions, pass no-ops through,
      insert unseen keys). One key-shuffle join + a map-side explode;
      no window, no second pass over the dimension.
q164: CDC apply — latest-wins compaction of an I/U/D change log onto a
      base snapshot (the merge-on-read compaction loop of any log-
      structured table format). Latest op per key via `max_by` (a
      map-side-combinable aggregate, NOT a window sort), then one full
      outer join against the base.
q165: EWMA revenue trend — exponentially weighted moving average over
      monthly revenue per order priority, trailing 12 months, alpha=0.5.
      A RANGE-frame window + one exact decimal fold per row; weights
      2^-j are binary-exact so engine and oracle agree bit-for-bit.
q166: snapshot diff — the inverse of q164: reconcile two snapshots into
      the minimal I/U/D change set (CDC bootstrap / replica audit);
      round-trip law apply(base, diff(base, target)) == target is
      pytest-pinned.

All four are oracle-paired (plain ANSI SQL on the same parquet), so the
driver's hash gate covers them like any relational query.

Scale notes (100 TB): the SCD2/CDC merges shuffle once on the natural
key — on a real deployment the dimension/base table is bucketed by that
key, so the join co-locates and only the (much smaller) update/log side
moves. The change feeds here are *derived deterministically from the
driver's own testdata* (orders) purely so the oracle can recompute them;
the operators themselves take any DataFrame with the right columns. The
synthetic insert-key offsets (+1e7 / +1e8) are test-data derivation
details, not operator properties.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.stats import dec_sum, sql_dec_sum
from ..operators.sizing import broadcast_if_small
from .registry import register

# ---------------------------------------------------------------------------
# q163 — SCD2 merge. The dimension is `customer` seeded as a single open
# version (valid_from 1990-01-01, valid_to NULL). The update batch is the
# 2000+ per-customer spend from `orders`; customers with custkey % 11 == 0
# are planted as NO-OP updates (incoming value == current value — a correct
# merge must NOT version them), and custkey % 13 == 0 spawns an unseen key
# (custkey + 10_000_000) to exercise the insert path. Effective date
# 2001-01-01.
#
# Shape: updates join the dimension once (key shuffle), then each matched
# row explodes into 1 (unchanged) or 2 (closed old + open new) versions —
# the whole merge is one shuffle plus map-side work, which is the plan a
# bucketed-dimension deployment keeps at 100 TB.
# ---------------------------------------------------------------------------

_EFF = "2001-01-01"
_SEED_FROM = "1990-01-01"

_Q163_ORACLE = f"""
WITH spend AS (
  SELECT o_custkey AS k, {sql_dec_sum('o_totalprice')} AS spend
  FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01'
  GROUP BY o_custkey
),
upd AS (
  SELECT s.k,
         CASE WHEN s.k % 11 = 0 THEN c.c_acctbal ELSE s.spend END AS u_bal
  FROM spend s JOIN customer c ON c.c_custkey = s.k
),
merged AS (
  SELECT c.c_custkey, c.c_acctbal AS cur_bal, u.u_bal
  FROM customer c LEFT JOIN upd u ON u.k = c.c_custkey
)
SELECT c_custkey, bal, valid_from, valid_to, is_current FROM (
  SELECT c_custkey, cur_bal AS bal, DATE '{_SEED_FROM}' AS valid_from,
         CAST(NULL AS DATE) AS valid_to, TRUE AS is_current
  FROM merged WHERE u_bal IS NULL OR u_bal = cur_bal
  UNION ALL
  SELECT c_custkey, cur_bal, DATE '{_SEED_FROM}', DATE '{_EFF}', FALSE
  FROM merged WHERE u_bal IS NOT NULL AND u_bal <> cur_bal
  UNION ALL
  SELECT c_custkey, u_bal, DATE '{_EFF}', CAST(NULL AS DATE), TRUE
  FROM merged WHERE u_bal IS NOT NULL AND u_bal <> cur_bal
  UNION ALL
  SELECT k + 10000000, u_bal, DATE '{_EFF}', CAST(NULL AS DATE), TRUE
  FROM (SELECT s.k, s.spend AS u_bal FROM spend s WHERE s.k % 13 = 0)
)
ORDER BY c_custkey, valid_from
"""


@register("q163_scd2_merge", oracle=_Q163_ORACLE)
def q163_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    spend = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp_ntz"))
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(dec_sum(F.col("o_totalprice")).alias("spend"))
    )
    # Update feed: planted no-ops read the current value (k % 11), all
    # other keys propose the spend as the new balance.
    upd = spend.join(cust, spend.k == cust.c_custkey).select(
        "k",
        F.when(F.col("k") % 11 == 0, F.col("c_acctbal"))
        .otherwise(F.col("spend"))
        .alias("u_bal"),
    )
    eff = F.lit(_EFF).cast("date")
    seed = F.lit(_SEED_FROM).cast("date")
    null_date = F.lit(None).cast("date")
    m = cust.join(upd, upd.k == cust.c_custkey, "left")
    changed = F.col("u_bal").isNotNull() & (F.col("u_bal") != F.col("c_acctbal"))
    version = lambda bal, vf, vt, cur: F.struct(  # noqa: E731
        bal.alias("bal"), vf.alias("valid_from"), vt.alias("valid_to"),
        F.lit(cur).alias("is_current"),
    )
    merged = m.select(
        "c_custkey",
        F.explode(
            F.when(
                changed,
                F.array(
                    version(F.col("c_acctbal"), seed, eff, False),
                    version(F.col("u_bal"), eff, null_date, True),
                ),
            ).otherwise(F.array(version(F.col("c_acctbal"), seed, null_date, True)))
        ).alias("v"),
    ).select("c_custkey", "v.bal", "v.valid_from", "v.valid_to", "v.is_current")
    inserts = spend.filter(F.col("k") % 13 == 0).select(
        (F.col("k") + 10_000_000).alias("c_custkey"),
        F.col("spend").alias("bal"),
        eff.alias("valid_from"),
        null_date.alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return merged.unionByName(inserts).orderBy("c_custkey", "valid_from")


# ---------------------------------------------------------------------------
# q164 — CDC apply (latest-wins log compaction). Base snapshot = orders;
# the change log carries three sequence points derived from the base so the
# oracle can recompute it: seq 1 updates keys % 10 IN (1,2,3) (status 'U1',
# price + 10 — an EXACT double delta, so downstream decimal sums stay
# tie-free cross-engine), seq 2 deletes keys % 20 == 3 and inserts fresh
# keys (+1e8) for % 50 == 7, seq 3 re-updates keys % 20 == 1 (status 'U2',
# price + 20) — overriding their seq-1 op, which is what makes latest-wins
# observable. Sequence numbers are unique per key by construction (the
# determinism contract any latest-wins compaction needs).
#
# latest-op-per-key is max_by(struct, seq) — a hash aggregate with map-side
# partial combine, NOT a window sort: at 100 TB the log shuffles once on
# the key and never materializes a per-key sorted run. The result is the
# per-status fingerprint of the post-apply snapshot (counts + exact sums),
# which witnesses deletes (counts), updates (sums + status migration) and
# inserts (the NEW status row) without shipping the full snapshot.
# ---------------------------------------------------------------------------

_Q164_ORACLE = f"""
WITH base AS (
  SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS pr FROM orders
),
ops AS (
  SELECT k, 1 AS seq, 'U' AS op, 'U1' AS st, pr + 10 AS pr
  FROM base WHERE k % 10 IN (1, 2, 3)
  UNION ALL
  SELECT k, 2, 'D', CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
  FROM base WHERE k % 20 = 3
  UNION ALL
  SELECT k + 100000000, 2, 'I', 'NEW', pr FROM base WHERE k % 50 = 7
  UNION ALL
  SELECT k, 3, 'U', 'U2', pr + 20 FROM base WHERE k % 20 = 1
),
latest AS (
  SELECT k, op, st, pr FROM ops
  QUALIFY ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) = 1
),
final AS (
  SELECT COALESCE(l.k, b.k) AS k,
         CASE WHEN l.k IS NULL THEN b.st ELSE l.st END AS st,
         CASE WHEN l.k IS NULL THEN b.pr ELSE l.pr END AS pr,
         l.op
  FROM base b FULL JOIN latest l ON b.k = l.k
)
SELECT st AS o_orderstatus, COUNT(*) AS n_orders, {sql_dec_sum('pr')} AS total
FROM final WHERE op IS DISTINCT FROM 'D'
GROUP BY st ORDER BY st
"""


# The CDC op-row contract shared by batch q164 and the streaming op store
# (streaming/events.run_stream_cdc_ops): key, unique-per-key sequence, op
# in {'I','U','D'}, payload. One schema string so the stream's explicit
# read schema and the batch derivation cannot drift apart.
CDC_OPS_SCHEMA = "k bigint, seq int, op string, st string, pr double"


def cdc_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q164 base snapshot: orders as (k, st, pr)."""
    return load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.col("o_totalprice").alias("pr"),
    )


def derive_cdc_ops(base: DataFrame) -> DataFrame:
    """The deterministic three-sequence-point change log q164 documents,
    derived from the base so the oracle can recompute it."""
    k, pr = F.col("k"), F.col("pr")
    null_s, null_d = F.lit(None).cast("string"), F.lit(None).cast("double")
    return (
        base.filter((k % 10).isin(1, 2, 3)).select(
            k, F.lit(1).alias("seq"), F.lit("U").alias("op"),
            F.lit("U1").alias("st"), (pr + 10).alias("pr"),
        )
        .unionByName(
            base.filter(k % 20 == 3).select(
                k, F.lit(2).alias("seq"), F.lit("D").alias("op"),
                null_s.alias("st"), null_d.alias("pr"),
            )
        )
        .unionByName(
            base.filter(k % 50 == 7).select(
                (k + 100_000_000).alias("k"), F.lit(2).alias("seq"),
                F.lit("I").alias("op"), F.lit("NEW").alias("st"), pr.alias("pr"),
            )
        )
        .unionByName(
            base.filter(k % 20 == 1).select(
                k, F.lit(3).alias("seq"), F.lit("U").alias("op"),
                F.lit("U2").alias("st"), (pr + 20).alias("pr"),
            )
        )
    )


def latest_cdc_ops(ops: DataFrame) -> DataFrame:
    """Latest op per key: max_by(payload, seq) — a map-side-combinable
    hash aggregate (the merge is associative because sequences are unique
    per key, the contract derive_cdc_ops upholds and any real CDC feed
    must supply). Keeps seq so incremental folds can re-merge deltas."""
    return ops.groupBy("k").agg(
        F.max_by(F.struct("seq", "op", "st", "pr"), "seq").alias("l")
    ).select("k", "l.seq", "l.op", "l.st", "l.pr")


def apply_cdc_ops(base: DataFrame, latest: DataFrame) -> DataFrame:
    """Merge the latest-op-per-key frame onto the base snapshot: D drops
    the row, U/I take the op payload (an upsert — U on an unseen key and
    I on an existing key both resolve to the payload), absent keys pass
    through. One full outer join on the natural key."""
    j = base.alias("b").join(latest.alias("l"), "k", "full_outer")
    return j.select(
        F.col("k"),
        F.coalesce(F.col("l.op"), F.lit(None).cast("string")).alias("op"),
        F.when(F.col("l.op").isNull(), F.col("b.st")).otherwise(F.col("l.st")).alias("st"),
        F.when(F.col("l.op").isNull(), F.col("b.pr")).otherwise(F.col("l.pr")).alias("pr"),
    ).filter((F.col("op").isNull()) | (F.col("op") != "D"))


def cdc_status_fingerprint(applied: DataFrame) -> DataFrame:
    """Per-status (count, exact sum) fingerprint of a post-apply snapshot."""
    return (
        applied.groupBy(F.col("st").alias("o_orderstatus"))
        .agg(F.count(F.lit(1)).alias("n_orders"), dec_sum(F.col("pr")).alias("total"))
        .orderBy("o_orderstatus")
    )


@register("q164_cdc_apply", oracle=_Q164_ORACLE)
def q164_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = cdc_base(spark, sf_dir)
    return cdc_status_fingerprint(apply_cdc_ops(base, latest_cdc_ops(derive_cdc_ops(base))))


# ---------------------------------------------------------------------------
# q165 — EWMA revenue trend. Monthly revenue per order priority, smoothed
# with an exponentially weighted moving average (alpha = 0.5, trailing 12
# MONTHS — a RANGE frame on the month index, so a gap month ages older
# observations out exactly like a calendar would; pandas `ewm(adjust=True)`
# normalization, i.e. ewma = sum(w_j * x_j) / sum(w_j), w_j = 0.5^gap).
#
# Cross-engine exactness: weights 0.5^gap are binary-exact, so scaling
# every term by 2^11 * 10^4 makes the whole fold EXACT int64 math:
# term = round(revenue * 1e4) * 2^(11 - gap) — revenue is an exact
# <=4-decimal double (decimal-summed), gap <= 11. Both engines sum
# identical longs (a first decimal attempt hash-mismatched by 1 ulp:
# DuckDB's wide-DECIMAL->DOUBLE cast double-rounds via hugeint/1e15,
# Spark's BigDecimal cast is correctly rounded — int64->double casts,
# by contrast, are correctly rounded everywhere). The final
# num/den/1e4 is the same IEEE op sequence on identical inputs.
# Overflow contract: monthly revenue < ~4e13 keeps the scaled fold
# < 2^63 (sf100's largest month is ~1e10); ANSI mode errors loudly
# beyond, never wraps.
#
# Shape: one scan + hash aggregate to months (the only fact-sized work),
# then a 400-row window; the fold is per-row over a <=12-element frame.
# ---------------------------------------------------------------------------

_Q165_ORACLE = f"""
WITH monthly AS (
  SELECT o_orderpriority,
         (EXTRACT(year FROM o_orderdate) - 1995) * 12
           + EXTRACT(month FROM o_orderdate) - 1 AS month_idx,
         {sql_dec_sum('o_totalprice')} AS revenue
  FROM orders GROUP BY 1, 2
)
SELECT m1.o_orderpriority, m1.month_idx, m1.revenue,
       CAST(CAST(SUM(CAST(round(m2.revenue * 1e4) AS BIGINT)
                     * CAST(pow(2, 11 - (m1.month_idx - m2.month_idx)) AS BIGINT))
                 AS BIGINT) AS DOUBLE)
       / CAST(CAST(SUM(CAST(pow(2, 11 - (m1.month_idx - m2.month_idx)) AS BIGINT))
                   AS BIGINT) AS DOUBLE)
       / 1e4 AS ewma
FROM monthly m1
JOIN monthly m2
  ON m2.o_orderpriority = m1.o_orderpriority
 AND m2.month_idx BETWEEN m1.month_idx - 11 AND m1.month_idx
GROUP BY m1.o_orderpriority, m1.month_idx, m1.revenue
ORDER BY m1.o_orderpriority, m1.month_idx
"""


@register("q165_ewma_revenue", oracle=_Q165_ORACLE)
def q165_ewma_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        "o_orderpriority",
        (
            (F.year("o_orderdate") - F.lit(1995)) * F.lit(12)
            + F.month("o_orderdate") - F.lit(1)
        ).alias("month_idx"),
    ).agg(dec_sum(F.col("o_totalprice")).alias("revenue"))
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("month_idx")
        .rangeBetween(-11, 0)
    )
    frame = F.collect_list(F.struct("month_idx", "revenue")).over(w)
    zero = F.lit(0).cast("long")
    weight = lambda e: F.pow(  # noqa: E731
        F.lit(2.0), F.lit(11) - (F.col("month_idx") - e["month_idx"])
    ).cast("long")
    num = F.aggregate(
        frame,
        zero,
        lambda acc, e: acc
        + F.round(e["revenue"] * F.lit(1e4)).cast("long") * weight(e),
    )
    den = F.aggregate(frame, zero, lambda acc, e: acc + weight(e))
    return (
        monthly.select(
            "o_orderpriority",
            "month_idx",
            "revenue",
            (num.cast("double") / den.cast("double") / F.lit(1e4)).alias("ewma"),
        )
        .orderBy("o_orderpriority", "month_idx")
    )


# ---------------------------------------------------------------------------
# q166 — snapshot diff: the INVERSE of q164. Given two snapshots of the
# same keyed table, emit the minimal I/U/D change set that transforms one
# into the other — how CDC gets bootstrapped on plain files (no log yet),
# and how a reconciliation job audits a replica. One full outer join on
# the key; matched-and-identical rows vanish map-side, so the output is
# linear in actual drift, not table size. Null-safe comparison via
# eqNullSafe / IS NOT DISTINCT FROM keeps NULL payloads honest.
#
# The target here is the q164 post-apply snapshot (recomputed from the
# same derived log), which makes the diff's expected content exactly the
# collapsed change set — and gives the round-trip property the pytest
# pins: apply(base, diff(base, target)) == target, row for row.
# ---------------------------------------------------------------------------


def snapshot_diff(base: DataFrame, target: DataFrame) -> DataFrame:
    """Minimal change set turning ``base`` into ``target`` (both keyed by
    ``k`` with payload (st, pr)): 'I' for keys only in target, 'D' for
    keys only in base, 'U' where the payload differs null-safely.
    Identical rows emit nothing — map-side, right after the join, so the
    output is linear in drift. Columns mirror the op-log contract minus
    seq (a diff is one consistent cut: every op shares one logical
    sequence point, the caller's to assign). Presence comes from literal
    markers, not payload NULL-ness, so NULL payloads stay honest."""
    b = base.select(
        "k", F.col("st").alias("b_st"), F.col("pr").alias("b_pr"), F.lit(1).alias("in_b")
    )
    t = target.select(
        "k", F.col("st").alias("t_st"), F.col("pr").alias("t_pr"), F.lit(1).alias("in_t")
    )
    j = b.join(t, "k", "full_outer")
    same = F.col("t_st").eqNullSafe(F.col("b_st")) & F.col("t_pr").eqNullSafe(F.col("b_pr"))
    return (
        j.filter(F.col("in_b").isNull() | F.col("in_t").isNull() | ~same)
        .select(
            "k",
            F.when(F.col("in_b").isNull(), F.lit("I"))
            .when(F.col("in_t").isNull(), F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
            F.when(F.col("in_t").isNotNull(), F.col("t_st")).alias("st"),
            F.when(F.col("in_t").isNotNull(), F.col("t_pr")).alias("pr"),
        )
    )


_Q166_ORACLE = f"""
WITH base AS (
  SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS pr FROM orders
),
ops AS (
  SELECT k, 1 AS seq, 'U' AS op, 'U1' AS st, pr + 10 AS pr
  FROM base WHERE k % 10 IN (1, 2, 3)
  UNION ALL
  SELECT k, 2, 'D', CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
  FROM base WHERE k % 20 = 3
  UNION ALL
  SELECT k + 100000000, 2, 'I', 'NEW', pr FROM base WHERE k % 50 = 7
  UNION ALL
  SELECT k, 3, 'U', 'U2', pr + 20 FROM base WHERE k % 20 = 1
),
latest AS (
  SELECT k, op, st, pr FROM ops
  QUALIFY ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) = 1
),
target AS (
  SELECT COALESCE(l.k, b.k) AS k,
         CASE WHEN l.k IS NULL THEN b.st ELSE l.st END AS st,
         CASE WHEN l.k IS NULL THEN b.pr ELSE l.pr END AS pr
  FROM base b FULL JOIN latest l ON b.k = l.k
  WHERE l.op IS DISTINCT FROM 'D'
)
SELECT COALESCE(b.k, t.k) AS k,
       CASE WHEN b.k IS NULL THEN 'I'
            WHEN t.k IS NULL THEN 'D'
            ELSE 'U' END AS op,
       t.st, t.pr
FROM base b FULL JOIN target t ON b.k = t.k
WHERE b.k IS NULL OR t.k IS NULL
   OR t.st IS DISTINCT FROM b.st OR t.pr IS DISTINCT FROM b.pr
ORDER BY k
"""


@register("q166_snapshot_diff", oracle=_Q166_ORACLE)
def q166_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = cdc_base(spark, sf_dir)
    target = apply_cdc_ops(base, latest_cdc_ops(derive_cdc_ops(base))).select(
        "k", "st", "pr"
    )
    return snapshot_diff(base, target).orderBy("k")


# ---------------------------------------------------------------------------
# q184 — deletion manifest (right-to-be-forgotten planning). Given a subject
# list (customers with custkey % 97 == 0 — deterministic so the oracle can
# re-derive it), compute the CASCADE of rows a compliant delete must touch:
# the customer rows themselves, their orders, and those orders' lineitems,
# grouped per (table, shard) where shard = table-key % 16 — the unit a
# rewrite job actually schedules (one output file rewrite per touched
# shard). A delete planner must know the blast radius BEFORE running: the
# manifest is the plan, produced without modifying anything.
#
# Scale: subjects are a broadcast semi-join against each table (at 100 TB
# the same plan with a bloom pre-filter on l_orderkey — q101's operator —
# keeps the lineitem pass scan-bound); output is |tables| x 16 rows.
# ---------------------------------------------------------------------------

_Q184_MOD = 97

_Q184_ORACLE = f"""
WITH subjects AS (
  SELECT c_custkey FROM customer WHERE c_custkey % {_Q184_MOD} = 0
), del_orders AS (
  SELECT o_orderkey FROM orders
  WHERE o_custkey IN (SELECT c_custkey FROM subjects)
)
SELECT 'customer' AS table_name, c_custkey % 16 AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM subjects GROUP BY 2
UNION ALL
SELECT 'orders', o_orderkey % 16, CAST(COUNT(*) AS BIGINT)
FROM del_orders GROUP BY 2
UNION ALL
SELECT 'lineitem', l_orderkey % 16, CAST(COUNT(*) AS BIGINT)
FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM del_orders)
GROUP BY 2
ORDER BY table_name, shard
"""


@register("q184_deletion_manifest", oracle=_Q184_ORACLE)
def q184_deletion_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    subjects = cust.filter(F.col("c_custkey") % _Q184_MOD == 0).select("c_custkey")
    # size-guarded: a real GDPR batch is usually small,
    # but subjects is ~1% of the customer table and del_orders is ALL their
    # orders — both scale linearly with SF, so the broadcasts are guarded;
    # past the threshold the semi-joins fall back to shuffle cleanly.
    del_orders = orders.join(
        broadcast_if_small(subjects), orders["o_custkey"] == subjects["c_custkey"], "left_semi"
    ).select("o_orderkey")
    del_li = li.join(
        broadcast_if_small(del_orders, estimate_from=orders.select("o_orderkey")),
        li["l_orderkey"] == del_orders["o_orderkey"],
        "left_semi",
    )

    def manifest(df: DataFrame, table: str, key: str) -> DataFrame:
        return df.groupBy((F.col(key) % 16).alias("shard")).agg(
            F.count(F.lit(1)).alias("n_rows")
        ).select(F.lit(table).alias("table_name"), "shard", F.col("n_rows").cast("bigint"))

    return (
        manifest(subjects, "customer", "c_custkey")
        .unionAll(manifest(del_orders, "orders", "o_orderkey"))
        .unionAll(manifest(del_li, "lineitem", "l_orderkey"))
        .orderBy("table_name", "shard")
    )


# ---------------------------------------------------------------------------
# q185 — SCD2 point-in-time join: every order joined to the q163 dimension
# VERSION that was valid on its order date (valid_from <= d < valid_to,
# open version = +infinity) — the temporal-correctness join a warehouse
# runs against a type-2 dimension, and the reason SCD2 exists at all.
# Orders before the 2001-01-01 effective date must resolve to the seed
# version even when the customer was later updated. Rolled up per version
# epoch: how many orders, how much revenue, and how many distinct
# customers each dimension regime served.
#
# Exactness: the interval predicate is date arithmetic on exact dates;
# revenue is the usual decimal sum. Every order matches exactly one
# version (the SCD2 invariant q163's tests pin), so the rollup conserves
# order count — the pytest asserts it.
#
# Scale: dimension versions are |customers| x <=2 — broadcastable through
# sf100; the orders fact never shuffles (broadcast interval-equi join on
# custkey + map-side date filter).
# ---------------------------------------------------------------------------

_Q185_ORACLE = f"""
WITH scd AS (
{_Q163_ORACLE.replace("ORDER BY c_custkey, valid_from", "")}
)
SELECT s.valid_from AS version_epoch,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_customers,
       {sql_dec_sum('o.o_totalprice')} AS revenue
FROM orders o
JOIN scd s
  ON s.c_custkey = o.o_custkey
 AND CAST(o.o_orderdate AS DATE) >= s.valid_from
 AND (s.valid_to IS NULL OR CAST(o.o_orderdate AS DATE) < s.valid_to)
GROUP BY 1
ORDER BY version_epoch
"""


@register("q185_scd2_pit_join", oracle=_Q185_ORACLE)
def q185_scd2_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    scd = q163_scd2_merge(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    cond = (
        (scd["c_custkey"] == orders["o_custkey"])
        & (d >= scd["valid_from"])
        & (scd["valid_to"].isNull() | (d < scd["valid_to"]))
    )
    return (
        orders.join(broadcast_if_small(scd), cond)
        .groupBy(F.col("valid_from").alias("version_epoch"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").cast("bigint").alias("n_customers"),
            dec_sum(F.col("o_totalprice")).alias("revenue"),
        )
        .orderBy("version_epoch")
    )
