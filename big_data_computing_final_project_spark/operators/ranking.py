"""Distributed exact global ranking — ROW_NUMBER and NTILE without the
single-partition window.

`Window.orderBy(...)` with no partition key moves EVERY row into one task:
correct, and unbounded at scale — the cliff the sf1x stress caught in q170
and a review pass then found in q172/q173/q177. ROW_NUMBER over a total
order is a running COUNT over a ROWS frame, so the exact global rank is a
``count`` spec on the bucketed prefix scan (operators/prefix.py):

    global_rank(row) = (# rows in earlier buckets) + (rank within bucket)

and the total row count is that scan's ``total`` spec, read off its
distinct-bucket offsets frame. This module adds only the hot-bucket guard,
which hands the scan a finer monotone bucket when one bucket is too big.

NTILE then follows from the global rank in closed form (standard SQL
semantics: the first n mod k tiles get one extra row):

    q, r = divmod(n, k)
    tile(rank) = (rank-1) // (q+1) + 1                  if rank <= r*(q+1)
                 r + (rank-1 - r*(q+1)) // q + 1        otherwise

Used by q177 (RFM quintiles); unit-pinned equal to F.ntile / row_number on
shuffled inputs, including the n < k and all-ties edges.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

from .prefix import prefix_agg

_BKT = "__rank_bucket"

# Hot-bucket guard: a bucket holding more than _HOT_BUCKET_ROWS rows gets
# subdivided into _SUB_BUCKETS quantile slices (its within-bucket running
# count is otherwise one task — the exact cliff this operator exists to
# remove, recreated by a degenerate bucket such as one epoch-day holding
# half the table). 1M rows ≈ tens of MB per task of (key, order-col) pairs.
_HOT_BUCKET_ROWS = 1_000_000
_SUB_BUCKETS = 32
_MAX_HOT_BUCKETS = 64


def _hot_bucket_subs(tagged: DataFrame, order_cols: list[str]) -> Column | None:
    """Detect degenerate buckets of ``tagged`` (bucketed in ``_BKT``) and
    return the slice expression that subdivides them, or None when no
    bucket is hot — the common case, which keeps the plain bucket.

    For each hot bucket, the subdivider is the FIRST order column that
    VARIES within the bucket (any type): columns before it are constant
    AND null-free there, so the within-bucket sort order is led by it,
    making a value-quantized slice monotone in that order (rows tying on
    the chosen column land in the same slice, preserving exactness; NULLs
    in the chosen column itself fall into slice 0, matching
    asc-nulls-first). A bucket whose first varying column is non-numeric
    stays whole — quantizing a string would need collation-aware edges,
    and subdividing on a LATER numeric column while an earlier column
    still varies would reorder ranks (a column holding {NULL, x} counts
    as varying: NULL-blind min==max must not read as constant). Slice
    edges are per-bucket approximate quantiles, so slices are balanced by
    construction.
    """
    hot = (
        tagged.groupBy(_BKT)
        .agg(F.count(F.lit(1)).alias("__gcnt"))
        .filter(F.col("__gcnt") > _HOT_BUCKET_ROWS)
        .orderBy(F.col("__gcnt").desc(), F.asc_nulls_first(_BKT))
        .limit(_MAX_HOT_BUCKETS)
        .select(_BKT)
        .collect()
    )
    if not hot:
        return None
    numeric = {
        c for c in order_cols if isinstance(tagged.schema[c].dataType, NumericType)
    }
    hot_vals = [r[_BKT] for r in hot]
    # one agg over the hot rows only: per-bucket variability of EVERY
    # order column (min/max over non-nulls + null presence) and quantile
    # edges for the numeric candidates
    cond = F.col(_BKT).isin([v for v in hot_vals if v is not None])
    if any(v is None for v in hot_vals):
        cond = cond | F.col(_BKT).isNull()
    qs = [float(i) / _SUB_BUCKETS for i in range(1, _SUB_BUCKETS)]
    aggs = []
    for c in order_cols:
        aggs += [
            F.min(c).alias(f"__mn_{c}"),
            F.max(c).alias(f"__mx_{c}"),
            F.count(F.lit(1)).alias(f"__n_{c}"),
            F.count(c).alias(f"__nn_{c}"),  # non-null count
        ]
        if c in numeric:
            aggs.append(
                F.percentile_approx(F.col(c).cast("double"), qs).alias(f"__ed_{c}")
            )
    stats = {r[_BKT]: r for r in tagged.filter(cond).groupBy(_BKT).agg(*aggs).collect()}

    def _varies(row, c: str) -> bool:
        has_null = row[f"__nn_{c}"] < row[f"__n_{c}"]
        has_nonnull = row[f"__nn_{c}"] > 0
        return (has_null and has_nonnull) or (
            row[f"__mn_{c}"] is not None and row[f"__mn_{c}"] != row[f"__mx_{c}"]
        )

    # per-bucket CASE: sub = count of edges <= value on the bucket's chosen
    # column (monotone; equal values share a slice). Non-hot rows → slice 0.
    expr: Column = F.lit(0)
    subdivided = False
    for v, row in stats.items():
        chosen = next((c for c in order_cols if _varies(row, c)), None)
        if chosen is None or chosen not in numeric:
            continue  # all-constant bucket, or led by a non-numeric column
        edges = sorted(set(row[f"__ed_{chosen}"] or []))
        if not edges:
            continue
        val = F.col(chosen).cast("double")
        sub = F.size(
            F.filter(
                F.array(*[F.lit(e) for e in edges]), lambda e: e <= val
            )
        )
        match = F.col(_BKT).isNull() if v is None else F.col(_BKT).eqNullSafe(F.lit(v))
        expr = F.when(match, sub).otherwise(expr)
        subdivided = True
    # if every hot bucket was skipped, a composite bucket would widen the
    # scan's keys for zero subdivision
    return expr if subdivided else None


def global_rank(
    df: DataFrame,
    order_cols: list[str],
    bucket: Column | None = None,
    rank_col: str = "rank",
    n_col: str | None = None,
) -> DataFrame:
    """Exact global ROW_NUMBER() over ``order_cols`` (ties broken by the
    full column list — pass a unique suffix for determinism) as
    ``rank_col``: a running count on the bucketed prefix scan, bucketed by
    ``bucket`` (default: the first order column). The bucket expression
    MUST be monotone non-decreasing in the sort order and should have a
    bounded value domain. Optionally also attaches the total row count as
    ``n_col`` (needed by ntile), taken from the scan's offsets frame.

    Skew guard: buckets holding more than ``_HOT_BUCKET_ROWS`` rows are
    subdivided into ``_SUB_BUCKETS`` per-bucket quantile slices of the
    first numeric order column that varies within the bucket (see
    _hot_bucket_subs); the scan then runs on the finer monotone bucket
    ``struct(bucket, slice)``, bounding the largest within-bucket task.
    Detection costs 1-2 eager jobs over ``df`` at plan-build time, so
    CALLERS SHOULD CACHE ``df`` when it is an expensive pipeline (q170/
    q198/q40 do).
    """
    tagged = df.withColumn(_BKT, bucket if bucket is not None else F.col(order_cols[0]))
    sub = _hot_bucket_subs(tagged, order_cols)
    specs = [("*", rank_col, "count")] + ([("*", n_col, "total")] if n_col else [])
    if sub is None:
        return prefix_agg(df, order_cols, specs, bucket=bucket)
    # struct order puts a NULL field first, so a NULL bucket still ranks first
    fine = F.struct(F.col(_BKT), sub)
    return prefix_agg(tagged, order_cols, specs, bucket=fine).drop(_BKT)


def ntile_from_rank(rank: Column, n: Column, tiles: int) -> Column:
    """NTILE(tiles) from a 1-based global rank and the total count —
    standard SQL semantics (first n mod tiles tiles take the extra row).
    Divisions are exact-double (numerators are exact multiples of their
    divisors), so correctness requires n < 2^53 — document-level bound,
    same as every epoch/count column here. q == 0 (n < tiles) degenerates
    to rank itself, matching NTILE."""
    q = (n - n % tiles) / tiles  # exact: numerator is a multiple of tiles
    q = q.cast("bigint")
    r = (n % tiles).cast("bigint")
    head = r * (q + 1)
    in_head = rank <= head
    tile_head = ((rank - 1) - (rank - 1) % (q + 1)) / (q + 1) + 1
    tile_tail = r + ((rank - 1 - head) - (rank - 1 - head) % q) / F.when(
        q > 0, q
    ).otherwise(F.lit(1)) + 1
    return (
        F.when(in_head, tile_head).otherwise(tile_tail).cast("int")
    )


def distributed_ntile(
    df: DataFrame,
    order_cols: list[str],
    tiles: int,
    bucket: Column | None = None,
    out_col: str = "ntile",
) -> DataFrame:
    """NTILE(tiles) over a global ordering, without a single-partition
    window (see module docstring)."""
    ranked = global_rank(df, order_cols, bucket=bucket, rank_col="__rank", n_col="__n")
    return ranked.withColumn(
        out_col, ntile_from_rank(F.col("__rank"), F.col("__n"), tiles)
    ).drop("__rank", "__n")
