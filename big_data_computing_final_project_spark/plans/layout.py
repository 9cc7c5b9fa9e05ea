"""Data-layout advisors: the OPTIMIZE-side operators of a lakehouse.

A 100 TB table's read performance is mostly decided before any query runs —
by how its files are clustered (z-order), sized (compaction), partitioned
(skew), and encoded (parquet encodings). This family computes those layout
decisions as queries, the same way Delta/Iceberg `OPTIMIZE` planning does:

q170: z-order pruning advisor — simulates laying the fact out linearly
      (sorted by one dimension) vs z-ordered (bit-interleaved two-dim key)
      and reports how many files a selective predicate on EACH dimension
      would have to scan under each layout. Linear prunes one dimension and
      dies on the other; z-order prunes both. The numbers make the case.
q171: compaction plan — bin-packs small input files into target-size output
      groups with the streaming next-fit rule (files in key order, group =
      floor(running_bytes_before / target)), the exact shape of a metadata-
      driven OPTIMIZE planner: it never reads data, only the manifest.
q172: partition-skew audit — for each candidate partition key, row counts,
      top-key share, skew factor (max/mean) and an exact Gini coefficient,
      with a salt/hash recommendation per key.
q173: encoding advisor — per column: exact NDV, dictionary ratio, average
      run length in write order, and a DICT/RLE/PLAIN recommendation, i.e.
      the stats a parquet writer's encoding chooser consumes.

Reference parity: the reference (single-node pandas/sklearn notebooks) has
no layout surface at all — this is the driver-mandated scale extension, the
operations you only need once data stops fitting one machine.

Scale shape: q171-q173 are parallel single passes over the fact
(q171 aggregates to a file manifest first; the packing itself is
manifest-sized window math). q170's row_number layout simulation is the one
deliberately global sort — the advisor mirrors what OPTIMIZE ZORDER itself
must do (a repartitionByRange on the z-key); at the real scale the same plan
runs with range partitioning instead of a single-partition window, which is
a pure widening (per-file min/max stats are partition-local either way).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.ranking import global_rank
from .registry import register

# ---------------------------------------------------------------------------
# q170 — z-order pruning advisor. Two 4-bit dimensions (16 buckets each of
# l_partkey / l_suppkey), 64 simulated files. The z-key interleaves the
# bits: z = sum_i bit_i(x)<<(2i+1) | bit_i(y)<<(2i) — pure shift/and/or
# arithmetic, identical in both engines. Files are fixed-size row slices of
# the chosen ordering (ceil(n/64) rows each) with a UNIQUE tiebreaker
# (orderkey, linenumber) so row_number is deterministic; per-file min/max of
# each dimension is exactly the parquet column-stats a reader prunes with.
# A reader scanning `x = 7` (or `y = 7`) touches only files whose [min,max]
# straddles 7 — the advisor counts those per layout.
# ---------------------------------------------------------------------------

_Q170_FILES = 64


def _interleave4(x: Column, y: Column) -> Column:
    z = F.lit(0)
    for i in range(4):
        z = (
            z
            + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i + 1)
            + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i)
        )
    return z


_SQL_INTERLEAVE4 = " + ".join(
    f"(((zx >> {i}) & 1) << {2 * i + 1}) + (((zy >> {i}) & 1) << {2 * i})"
    for i in range(4)
)

_Q170_ORACLE = f"""
WITH base AS (
  SELECT l_partkey % 16 AS zx, l_suppkey % 16 AS zy,
         l_orderkey * 16 + l_linenumber AS rid
  FROM lineitem
), keyed AS (
  SELECT zx, zy, rid, {_SQL_INTERLEAVE4} AS zkey,
         COUNT(*) OVER () AS n
  FROM base
), placed AS (
  -- integer division, explicitly: bigint '/' is true division in BOTH
  -- engines, and DuckDB's double->bigint cast ROUNDS (Spark's truncates) —
  -- '//' / 'div' keeps the file boundaries exact at any scale
  -- rid is NOT unique ((orderkey, linenumber) repeats in this data), so zy
  -- joins the linear tiebreak: remaining ties agree on BOTH dimensions and
  -- cannot move the per-file min/max stats. zorder ties already share zkey
  -- (hence zx AND zy), so rid suffices there.
  SELECT 'linear' AS layout, zx, zy,
         CAST((ROW_NUMBER() OVER (ORDER BY zx, rid, zy) - 1)
              // CAST(ceil(n / {_Q170_FILES}.0) AS BIGINT) AS BIGINT) AS file_id
  FROM keyed
  UNION ALL
  SELECT 'zorder' AS layout, zx, zy,
         CAST((ROW_NUMBER() OVER (ORDER BY zkey, rid) - 1)
              // CAST(ceil(n / {_Q170_FILES}.0) AS BIGINT) AS BIGINT) AS file_id
  FROM keyed
), stats AS (
  SELECT layout, file_id,
         MIN(zx) AS x_lo, MAX(zx) AS x_hi,
         MIN(zy) AS y_lo, MAX(zy) AS y_hi
  FROM placed GROUP BY 1, 2
)
SELECT layout,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(CASE WHEN x_lo <= 7 AND 7 <= x_hi THEN 1 ELSE 0 END) AS BIGINT)
         AS files_hit_x,
       CAST(SUM(CASE WHEN y_lo <= 7 AND 7 <= y_hi THEN 1 ELSE 0 END) AS BIGINT)
         AS files_hit_y
FROM stats
GROUP BY layout
ORDER BY layout
"""


@register("q170_zorder_layout", oracle=_Q170_ORACLE)
def q170_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Distributed global row numbers via operators/ranking.global_rank
    # (the sf1x stress caught the naive form: Window.orderBy with no
    # partition serializes the whole fact into ONE task — 33 s at ~sf1,
    # unbounded at 100 TB). The sort keys have <= 256 distinct values, so
    # the bucket-offset decomposition is exact and fully parallel.
    li = load_table(spark, sf_dir, "lineitem")
    keyed = li.select(
        (F.col("l_partkey") % 16).alias("zx"),
        (F.col("l_suppkey") % 16).alias("zy"),
        (F.col("l_orderkey") * 16 + F.col("l_linenumber")).alias("rid"),
    ).select(
        "zx", "zy", "rid", _interleave4(F.col("zx"), F.col("zy")).alias("zkey")
    ).cache()  # two global_rank calls: their hot-bucket detection jobs and
    # the final action would otherwise each re-scan the fact (review finding)

    def placed(order_col: str, name: str) -> DataFrame:
        # see the oracle note: zy joins the linear tiebreak because rid is
        # not unique; for zorder the partition key already fixes (zx, zy)
        tiebreak = ["rid", "zy"] if order_col == "zx" else ["rid"]
        ranked = global_rank(
            keyed, [order_col, *tiebreak], rank_col="__gr", n_col="__n"
        )
        return ranked.select(
            F.lit(name).alias("layout"),
            "zx",
            "zy",
            (F.col("__gr") - 1).cast("bigint").alias("rn0"),
            F.ceil(F.col("__n") / F.lit(float(_Q170_FILES)))
            .cast("bigint")
            .alias("rpf"),
        ).select(
            "layout",
            "zx",
            "zy",
            F.expr("rn0 div rpf").cast("bigint").alias("file_id"),
        )

    stats = (
        placed("zx", "linear")
        .unionAll(placed("zkey", "zorder"))
        .groupBy("layout", "file_id")
        .agg(
            F.min("zx").alias("x_lo"),
            F.max("zx").alias("x_hi"),
            F.min("zy").alias("y_lo"),
            F.max("zy").alias("y_hi"),
        )
    )
    hit = lambda lo, hi: ((F.col(lo) <= 7) & (F.lit(7) <= F.col(hi))).cast("int")  # noqa: E731
    return (
        stats.groupBy("layout")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum(hit("x_lo", "x_hi")).cast("bigint").alias("files_hit_x"),
            F.sum(hit("y_lo", "y_hi")).cast("bigint").alias("files_hit_y"),
        )
        .orderBy("layout")
    )


# ---------------------------------------------------------------------------
# q171 — compaction plan. Input "files" are the (source, doc_id % 50)
# manifest of the documents corpus with bytes = sum(n_chars) — the shape a
# real planner reads from the table metadata, never from data. Packing rule
# is streaming next-fit in file-key order: a file goes to output group
# floor(cumulative_bytes_before_it / target). Deterministic, one window
# cumsum over the manifest, and every group except possibly the last lands
# in [target, target + max_file_bytes) — the bounded-overshoot guarantee a
# next-fit packer gives without any driver-side loop. (Exact bin packing is
# NP-hard and needs no better here: OPTIMIZE wants bounded file sizes, not
# optimal ones.) All byte math is int64-exact in both engines.
# ---------------------------------------------------------------------------

_Q171_TARGET = 200_000  # bytes per output file (testdata-scaled)

_Q171_ORACLE = f"""
WITH manifest AS (
  SELECT source, doc_id % 50 AS file_key,
         CAST(SUM(n_chars) AS BIGINT) AS bytes
  FROM documents GROUP BY 1, 2
), packed AS (
  -- '//', explicitly: the window SUM is HUGEINT and happens to divide
  -- integrally today, but BIGINT '/' is true division whose BIGINT cast
  -- ROUNDS in DuckDB (the q170 lesson) — floor must be spelled out
  SELECT source, file_key, bytes,
         COALESCE(SUM(bytes) OVER (PARTITION BY source ORDER BY file_key
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              // {_Q171_TARGET} AS grp
  FROM manifest
)
SELECT source, CAST(grp AS BIGINT) AS grp,
       CAST(COUNT(*) AS BIGINT) AS n_input_files,
       CAST(SUM(bytes) AS BIGINT) AS total_bytes,
       CAST(SUM(bytes) AS DOUBLE) / {_Q171_TARGET} AS fill_ratio
FROM packed
GROUP BY source, grp
ORDER BY source, grp
"""


@register("q171_compaction_plan", oracle=_Q171_ORACLE)
def q171_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    manifest = docs.groupBy(
        "source", (F.col("doc_id") % 50).alias("file_key")
    ).agg(F.sum("n_chars").cast("bigint").alias("bytes"))
    w = (
        Window.partitionBy("source")
        .orderBy("file_key")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # exact integer '//' (matching the oracle): bigint `div`, never double
    # '/'+cast — a double quotient near 2^53 of cumulative bytes can land on
    # the wrong side of a group boundary (the q170 lesson, applied here too)
    packed = manifest.withColumn(
        "cum_bytes", F.coalesce(F.sum("bytes").over(w), F.lit(0).cast("bigint"))
    ).withColumn("grp", F.expr(f"cum_bytes div {_Q171_TARGET}"))
    return (
        packed.groupBy("source", "grp")
        .agg(
            F.count(F.lit(1)).alias("n_input_files"),
            F.sum("bytes").cast("bigint").alias("total_bytes"),
            (F.sum("bytes").cast("double") / F.lit(_Q171_TARGET)).alias("fill_ratio"),
        )
        .orderBy("source", "grp")
    )


# ---------------------------------------------------------------------------
# q172 — partition-skew audit. For each candidate partition key of the
# lineitem fact (supplier, part, returnflag, ship-month): key count, total
# rows, the heaviest key's share, skew factor max/mean, and the exact Gini
# coefficient of the key-size distribution — G = sum_i (2i - n - 1) c_(i)
# / (n * sum c) over ascending sizes, whose numerator and denominator are
# both EXACT int64 sums (ranks and counts), so the single final division is
# engine-identical. Recommendation: a key whose heaviest partition exceeds
# 4x the mean needs salting (q148's operator); otherwise plain hash
# partitioning is safe.
#
# Scale: one partial-agg per candidate (the fact is scanned once per
# candidate — candidates are few and fixed; a production audit would fuse
# them into one pass with grouping sets if the scan dominates), then window
# math over at most |keys| rows per candidate.
# ---------------------------------------------------------------------------

_Q172_CANDIDATES = [
    ("l_suppkey", "CAST(l_suppkey AS VARCHAR)"),
    ("l_partkey", "CAST(l_partkey AS VARCHAR)"),
    ("l_returnflag", "l_returnflag"),
    ("ship_month", "strftime(l_shipdate, '%Y-%m')"),
]

def _spark_candidate(name: str) -> Column:
    # built lazily: Column construction needs a live SparkContext, and plan
    # modules import before any session exists
    return {
        "l_suppkey": lambda: F.col("l_suppkey").cast("string"),
        "l_partkey": lambda: F.col("l_partkey").cast("string"),
        "l_returnflag": lambda: F.col("l_returnflag"),
        "ship_month": lambda: F.date_format("l_shipdate", "yyyy-MM"),
    }[name]()


def _q172_sql_one(name: str, expr: str) -> str:
    return f"""
SELECT '{name}' AS candidate,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(c) AS BIGINT) AS total_rows,
       CAST(MAX(c) AS BIGINT) AS max_rows,
       CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_share,
       CAST(MAX(c) * COUNT(*) AS DOUBLE) / SUM(c) AS skew_factor,
       CAST(SUM((2 * rk - n - 1) * c) AS DOUBLE) / (CAST(MAX(n) AS DOUBLE) * SUM(c))
         AS gini,
       CASE WHEN MAX(c) * COUNT(*) > 4 * SUM(c) THEN 'salt' ELSE 'hash' END
         AS recommendation
FROM (
  SELECT c,
         ROW_NUMBER() OVER (ORDER BY c, k) AS rk,
         COUNT(*) OVER () AS n
  FROM (SELECT {expr} AS k, COUNT(*) AS c FROM lineitem GROUP BY 1)
)
"""


_Q172_ORACLE = (
    "\nUNION ALL\n".join(_q172_sql_one(n, e) for n, e in _Q172_CANDIDATES)
    + "\nORDER BY candidate"
)


@register("q172_partition_skew_audit", oracle=_Q172_ORACLE)
def q172_partition_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # ONE fact scan for all four candidates, not one scan per candidate. Each row explodes into
    # its four (candidate, key) pairs; the partial aggregate on
    # (candidate, k) combines map-side, so the bytes crossing the exchange
    # are exactly the union of the four per-candidate key-count partials
    # — the explode multiplies in-task rows only, never the shuffle.
    counts = (
        li.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(name).alias("candidate"),
                            _spark_candidate(name).alias("k"),
                        )
                        for name, _ in _Q172_CANDIDATES
                    ]
                )
            ).alias("ck")
        )
        .select(F.col("ck.candidate").alias("candidate"), F.col("ck.k").alias("k"))
        .groupBy("candidate", "k")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # Distributed Gini: an unpartitioned row_number over the keys frame
    # would serialize |keys| rows into one task (the q170 cliff, here at
    # 1e9 partition keys). Keys with EQUAL count form a contiguous rank
    # block whose rank-sum has a closed form —
    #   sum_{i=off+1..off+g} (2i - n - 1) = g * (2*off + g - n)
    # — so only the DISTINCT count values need the (tiny) cumulative
    # window, partitioned per candidate; the per-key global sort
    # disappears. The oracle keeps the ROW_NUMBER form, which doubles as
    # the proof the algebra is right.
    cgrp = counts.groupBy("candidate", "c").agg(F.count(F.lit(1)).alias("g"))
    cum = (
        Window.partitionBy("candidate")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    whole = Window.partitionBy("candidate")
    blocks = cgrp.select(
        "candidate",
        "c",
        "g",
        F.coalesce(F.sum("g").over(cum), F.lit(0)).alias("off"),
        F.sum("g").over(whole).alias("n"),
    )
    # block rows c*g <= total rows (int64-safe); the rank factor can
    # push the product past 2^63 at extreme scale, so it goes decimal
    contrib = (F.col("c") * F.col("g")).cast("decimal(38,0)") * (
        2 * F.col("off") + F.col("g") - F.col("n")
    ).cast("decimal(38,0)")
    mx = F.max("c")
    tot = F.sum(F.col("c") * F.col("g"))
    nk = F.sum("g")
    return (
        blocks.groupBy("candidate")
        .agg(
            nk.cast("bigint").alias("n_keys"),
            tot.cast("bigint").alias("total_rows"),
            mx.cast("bigint").alias("max_rows"),
            (mx.cast("double") / tot).alias("top_share"),
            ((mx * nk).cast("double") / tot).alias("skew_factor"),
            (
                F.sum(contrib).cast("double")
                / (F.max("n").cast("double") * tot)
            ).alias("gini"),
            F.when(mx * nk > 4 * tot, F.lit("salt"))
            .otherwise(F.lit("hash"))
            .alias("recommendation"),
        )
        .orderBy("candidate")
    )


# ---------------------------------------------------------------------------
# q173 — encoding advisor. Per audited column: rows, exact NDV, dictionary
# ratio ndv/rows, average run length in write order (runs counted with one
# lag-window pass in the table's physical sort key (orderkey, linenumber),
# partitioned into 1024-orderkey write buckets — see _Q173_BUCKET), average
# encoded width (string lengths for varchars; 8 bytes for fixed-width
# types), and the encoding a parquet writer should choose: RLE when runs
# average >= 8, else DICT when the dictionary is < 1% of rows, else PLAIN.
#
# One fact scan: all five columns' run flags come from a single
# bucket-parallel window pass, all fifteen aggregates from one row,
# exploded to five rows at the end. NDVs are exact multi-count-distinct
# (Expand) — at 100 TB swap in approx_count_distinct; the advisor's
# thresholds tolerate 2% HLL error.
# ---------------------------------------------------------------------------

_Q173_COLS = ["l_returnflag", "l_linestatus", "l_shipdate", "l_partkey", "l_quantity"]
_Q173_VARCHAR = {"l_returnflag", "l_linestatus"}

# Runs are counted WITHIN write buckets of 1024 orderkeys: an unpartitioned
# lag window would serialize the fact into one task (the q170 cliff, caught
# by review before the stress did), and the bucket restart is truthful
# anyway — parquet encoders see runs per row group, so a run crossing a
# write-bucket boundary restarts in the real file too. Each bucket's first
# row counts as a change (lag is NULL there), matching that physical model.
_Q173_BUCKET = 1024


def _q173_width_sql(c: str) -> str:
    return f"SUM(len({c}))" if c in _Q173_VARCHAR else "COUNT(*) * 8"


_Q173_ORACLE = (
    """
WITH flagged AS (
  SELECT
"""
    + ",\n".join(
        f"""    {c},
    CASE WHEN {c} IS DISTINCT FROM lag({c}) OVER w THEN 1 ELSE 0 END AS chg_{c}"""
        for c in _Q173_COLS
    )
    + f"""
  FROM lineitem
  WINDOW w AS (PARTITION BY l_orderkey // {_Q173_BUCKET}
               ORDER BY l_orderkey, l_linenumber, l_returnflag, l_linestatus,
                        l_shipdate, l_partkey, l_quantity)
), agg AS (
  SELECT COUNT(*) AS n,
"""
    + ",\n".join(
        f"""    COUNT(DISTINCT {c}) AS ndv_{c},
    SUM(chg_{c}) AS runs_{c},
    {_q173_width_sql(c)} AS width_{c}"""
        for c in _Q173_COLS
    )
    + """
  FROM flagged
)
"""
    + "\nUNION ALL\n".join(
        f"""SELECT '{c}' AS col_name,
       CAST(n AS BIGINT) AS n_rows,
       CAST(ndv_{c} AS BIGINT) AS ndv,
       CAST(ndv_{c} AS DOUBLE) / n AS dict_ratio,
       CAST(n AS DOUBLE) / runs_{c} AS avg_run_len,
       CAST(width_{c} AS DOUBLE) / n AS avg_width,
       CASE WHEN n >= 8 * runs_{c} THEN 'RLE'
            WHEN 100 * ndv_{c} < n THEN 'DICT'
            ELSE 'PLAIN' END AS encoding
FROM agg"""
        for c in _Q173_COLS
    )
    + "\nORDER BY col_name"
)


@register("q173_encoding_advisor", oracle=_Q173_ORACLE)
def q173_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) is NOT unique in this data (the generator
    # reuses line numbers), so the sort appends the audited columns: rows
    # still tied after that are value-identical in every audited column,
    # making the run counts invariant to how either engine breaks the tie.
    w = Window.partitionBy(F.expr(f"l_orderkey div {_Q173_BUCKET}")).orderBy(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
        "l_partkey",
        "l_quantity",
    )
    flagged = li.select(
        *_Q173_COLS,
        *[
            (~F.col(c).eqNullSafe(F.lag(c).over(w))).cast("int").alias(f"chg_{c}")
            for c in _Q173_COLS
        ],
    )
    width = lambda c: (  # noqa: E731
        F.sum(F.length(c)) if c in _Q173_VARCHAR else F.count(F.lit(1)) * 8
    )
    agg = flagged.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.countDistinct(c).alias(f"ndv_{c}") for c in _Q173_COLS],
        *[F.sum(f"chg_{c}").alias(f"runs_{c}") for c in _Q173_COLS],
        *[width(c).alias(f"width_{c}") for c in _Q173_COLS],
    )
    per_col = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(c).alias("col_name"),
                    F.col("n").cast("bigint").alias("n_rows"),
                    F.col(f"ndv_{c}").cast("bigint").alias("ndv"),
                    (F.col(f"ndv_{c}").cast("double") / F.col("n")).alias("dict_ratio"),
                    (F.col("n").cast("double") / F.col(f"runs_{c}")).alias(
                        "avg_run_len"
                    ),
                    (F.col(f"width_{c}").cast("double") / F.col("n")).alias(
                        "avg_width"
                    ),
                    F.when(F.col("n") >= 8 * F.col(f"runs_{c}"), F.lit("RLE"))
                    .when(100 * F.col(f"ndv_{c}") < F.col("n"), F.lit("DICT"))
                    .otherwise(F.lit("PLAIN"))
                    .alias("encoding"),
                )
                for c in _Q173_COLS
            ]
        )
    ).alias("s")
    return agg.select(per_col).select("s.*").orderBy("col_name")
