"""Distributed exact quantiles — no single aggregation buffer.

Spark's exact ``percentile(...)`` aggregate materializes every distinct
(value, count) pair in ONE final aggregation buffer; on an ungrouped
100-TB fact that buffer is driver-sized. The distributed-exact form used
here never concentrates state:

1. collapse to distinct values with counts (one partial-aggregated
   groupBy — state bounded by distinct-value cardinality per partition),
2. cumulative counts and the total via ONE bucketed prefix scan
   (operators/prefix.py — no single-partition window),
3. each quantile is then a rank lookup against the cumulative counts.

Two semantics, matching the two engines' exact aggregates:

- ``mode="lower"``: smallest value whose cumulative count reaches
  ceil(q*n) — the lower discrete percentile (q203's contract).
- ``mode="linear"``: linear interpolation at position h = q*(n-1) over
  the sorted multiset — bit-identical to Spark's ``percentile()`` and
  DuckDB's ``quantile_cont()``: both compute the symmetric weighted form
  ``v_lo*(1-d) + v_hi*d`` on doubles (d = h - floor(h) is exact, 1-d is
  Sterbenz-exact), and IEEE ops in the same shape reproduce them exactly
  (h = (n-1)*q is the same double product in both engines).

With an integer ``weight``, both modes operate on the EXPANDED multiset
(each value repeated weight times, never materialized): cumulative
ranks accumulate weights instead of counts, so ``mode="linear"`` is the
quantile_cont of the expanded list (h = (W-1)*q over total weight W) and
``mode="lower"`` is the smallest value whose cumulative weight reaches
ceil(q*W). Zero-weight values never surface (their cumulative weight
ties their predecessor's, and the rank lookup's MIN prefers the
predecessor).

Reference parity: pandas ``describe()`` / ``quantile()`` default
interpolation is the same linear rule (reference `data_analysis.ipynb`
describe cells; SURVEY §2 A7).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .prefix import prefix_agg


def exact_quantiles(
    df: DataFrame,
    col: str,
    qs: list[float],
    *,
    mode: str = "linear",
    bucket: Column | None = None,
    group_cols: list[str] | None = None,
    weight: Column | None = None,
) -> DataFrame:
    """Exact quantiles of ``df[col]`` (nulls skipped, like both engines'
    aggregates) as a small frame ``(*group_cols, q double, value double)``,
    one row per (group,) requested quantile, via the distributed plan above.
    With ``group_cols`` the prefix scan partitions per group but within-
    group work still splits by bucket — a huge group never serializes into
    one task (unlike ``percentile(...) GROUP BY`` whose per-group buffer
    holds every distinct value).

    ``bucket`` must be monotone non-decreasing in ``val`` with a bounded
    domain (it splits the prefix scan); the default ``floor(val/1000)``
    suits price-scaled data — pass an expression over ``val`` for other
    ranges. Every ``qs`` entry must lie in [0, 1]; others raise
    ``ValueError``, as Spark's ``percentile()`` rejects them. The plan runs
    no job before the action.
    """
    if mode not in ("linear", "lower"):
        raise ValueError(f"mode must be 'linear' or 'lower', got {mode!r}")
    # Spark's percentile() rejects these too; a rank lookup would invent
    # a value below 0 and find none above 1
    bad = [q for q in qs if not 0.0 <= float(q) <= 1.0]
    if bad:
        raise ValueError(f"quantiles must lie in [0, 1], got {bad}")
    # duplicate / float-colliding entries in qs would multiply output rows
    # through the per-(group, q) lookups below — the distinct sorted set
    # is the only sensible contract
    qs = sorted({float(q) for q in qs})
    groups = list(group_cols or [])
    wsel = [] if weight is None else [weight.cast("bigint").alias("__w")]
    vals = (
        df.select(*groups, F.col(col).cast("double").alias("val"), *wsel)
        .filter(F.col("val").isNotNull())
    )
    # weights accumulate in exact BIGINT (integer-valued weights — counts,
    # quantities, token counts; the caller casts); unweighted = weight 1
    n_agg = (
        F.count(F.lit(1)) if weight is None else F.sum("__w")
    ).alias("n")
    # the collapsed (group, val, n) frame is consumed by the prefix scan
    # twice (bucket partials + tagged rows); uncached, each would
    # re-execute the full fact scan + collapse. The frame is bounded by
    # distinct-value cardinality, far below the fact: cache it, scan the
    # fact once.
    c = vals.groupBy(*groups, "val").agg(n_agg).cache()
    b = bucket if bucket is not None else F.floor(F.col("val") / 1000).cast("bigint")
    # the running rank and the group's total weight share one scan
    w = prefix_agg(
        c,
        ["val"],
        [("n", "cum", "sum"), ("n", "tot", "total")],
        bucket=b,
        partition_cols=groups,
    )
    if mode == "linear":
        # linear mode probes the cumulative frame twice (lo + hi ranks);
        # cache it so the prefix join/window runs once (same row count as
        # the cached collapse — narrow)
        w = w.cache()
    qf = df.sparkSession.range(1).select(
        F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q")
    )
    ranked = w.crossJoin(F.broadcast(qf))
    if mode == "lower":
        return (
            ranked.filter(F.col("cum") >= F.ceil(F.col("q") * F.col("tot")))
            .groupBy(*groups, "q")
            .agg(F.min("val").alias("value"))
            .orderBy(*groups, "q")
        )
    # linear: position h = (n-1)*q over the sorted multiset; 0-based row k
    # lives at cumulative rank k+1
    ranked = ranked.withColumn(
        "h", (F.col("tot") - F.lit(1)).cast("double") * F.col("q")
    )
    lo = (
        ranked.filter(F.col("cum") >= F.floor(F.col("h")) + F.lit(1))
        .groupBy(*groups, "q", "h")
        .agg(F.min("val").alias("v_lo"))
    )
    hi = (
        ranked.filter(F.col("cum") >= F.ceil(F.col("h")) + F.lit(1))
        .groupBy(*groups, "q")
        .agg(F.min("val").alias("v_hi"))
    )
    # the symmetric weighted form — Spark's Percentile computes
    # (higher-pos)*lowerKey + (pos-lower)*higherKey, DuckDB's interpolator
    # lo*(1-d) + hi*d; both deltas are Sterbenz-exact, so this reproduces
    # them bit-identically (lo + (hi-lo)*d would round differently)
    d = F.col("h") - F.floor(F.col("h"))
    return (
        lo.join(hi, [*groups, "q"])
        .select(
            *groups,
            "q",
            (
                F.col("v_lo") * (F.lit(1.0) - d) + F.col("v_hi") * d
            ).alias("value"),
        )
        .orderBy(*groups, "q")
    )
