"""Distributed exact prefix aggregation (cumulative scan) — running
SUM/MAX/MIN over a global ordering without the single-partition window.

`Window.orderBy(x)` with no partition key serializes the whole table into
one task — the same cliff operators/ranking.py removes for row_number.
A prefix aggregate decomposes identically whenever a coarse BUCKET that is
monotone in the scan order exists (epoch days, price bands, id ranges):

    prefix(row) = combine(agg of all earlier buckets, within-bucket prefix)

Bucket partials are one partial-aggregated groupBy; their exclusive
running combine is a window over DISTINCT BUCKET VALUES ONLY (bounded by
the bucket domain); the within-bucket prefix parallelizes across bucket
partitions. Same numbers as the naive form, no single-partition stage.

STRICT mode (frame ending at the previous ROW) additionally requires the
scan keys to be unique — pre-aggregate to one row per key first (the
skyline query's shape: one row per distinct price). With duplicate keys a
row-strict frame is order-dependent and therefore not well-defined; the
precondition is enforced by a two-part guard (adjacent-duplicate lag
within buckets + min/max boundary check across buckets) that is complete
whenever the bucket is monotone in the scan order — the operator's core
precondition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_BKT = "__pfx_bucket"
_PART = "__pfx_partial"
_EXCL = "__pfx_excl"

_AGGS = {
    "sum": (F.sum, lambda a, b: a + b),
    "max": (F.max, F.greatest),
    "min": (F.min, F.least),
}


def prefix_agg(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str,
    agg: str = "sum",
    bucket: Column | None = None,
    strict: bool = False,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Running ``agg`` of ``value_col`` over the ``order_cols`` ordering —
    globally, or per ``partition_cols`` group (the scan restarts per
    group, but unlike ``Window.partitionBy(group)`` a huge group never
    serializes into one task: within-group work is still split by
    ``bucket``). ``bucket`` (default: first order column) must be
    monotone non-decreasing in the scan order with a bounded value domain.

    ``strict=True`` excludes the current row (frame ... AND 1 PRECEDING);
    the first row's strict prefix is NULL (empty frame), matching the
    window form. Strict mode requires unique order keys per group (see
    module doc).
    """
    if agg not in _AGGS:
        raise ValueError(f"agg must be one of {sorted(_AGGS)}, got {agg!r}")
    agg_fn, combine = _AGGS[agg]
    parts = list(partition_cols or [])
    b = bucket if bucket is not None else F.col(order_cols[0])
    tagged = df.withColumn(_BKT, b)
    key = F.struct(*[F.col(c) for c in order_cols])
    # strict mode additionally tracks each bucket's min/max order key so
    # the duplicate guard below can see ACROSS buckets (piggybacks on the
    # existing partial-aggregated groupBy — no extra shuffle)
    extra = [F.min(key).alias("__kmin"), F.max(key).alias("__kmax")] if strict else []
    grp = tagged.groupBy(*parts, _BKT).agg(agg_fn(value_col).alias(_PART), *extra)
    # the bucket-offset window runs over DISTINCT (group, bucket) rows
    # only; with partitions it is additionally split per group
    cum_base = (
        Window.partitionBy(*parts).orderBy(F.asc_nulls_first(_BKT))
        if parts
        else Window.orderBy(F.asc_nulls_first(_BKT))
    )
    cum = cum_base.rowsBetween(Window.unboundedPreceding, -1)
    excl = agg_fn(_PART).over(cum)
    if strict:
        # cross-bucket half of the unique-key guard: with a bucket that is
        # monotone in the scan order (the operator's core precondition), a
        # key duplicated across buckets necessarily makes some bucket's max
        # key equal the next bucket's min key — catchable here over the
        # distinct-bucket frame, completing the within-bucket lag check so
        # callers whose bucket is NOT a pure function of the order keys
        # can't pass the ENFORCED check silently.
        boundary_dup = F.lag(F.col("__kmax")).over(cum_base).eqNullSafe(F.col("__kmin"))
        excl = F.when(
            boundary_dup,
            F.assert_true(
                F.lit(False),
                F.lit(
                    "prefix_agg(strict=True) requires unique order keys per "
                    f"group: duplicate {order_cols} found straddling buckets"
                ),
            ),
        ).otherwise(excl)
    offs = grp.select(
        *[F.col(p).alias(f"__op_{p}") for p in parts],
        F.col(_BKT).alias("__obkt"),
        excl.alias(_EXCL),
    )
    end = -1 if strict else 0
    win = (
        Window.partitionBy(*parts, _BKT)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, end)
    )
    within = agg_fn(value_col).over(win)
    # strict mode's unique-key precondition is ENFORCED, not just
    # documented: with duplicate keys a row-strict frame is order-dependent
    # (silently nondeterministic), so the plan itself raises on the first
    # adjacent duplicate. Piggybacks on the window's existing sort (a lag
    # over the same spec — no extra shuffle, no eager job); this catches
    # duplicates WITHIN a bucket, and the boundary check in the offset
    # window above catches duplicates straddling buckets — together the
    # guard is complete under the monotone-bucket precondition.
    is_dup = None
    if strict:
        is_dup = F.lag(key).over(
            Window.partitionBy(*parts, _BKT).orderBy(*order_cols)
        ).eqNullSafe(key)
    # combine(NULL, x) must yield x (first bucket / empty strict frame):
    # greatest/least skip NULLs natively; sum needs explicit coalescing
    if agg == "sum":
        merged = F.when(
            F.col(_EXCL).isNull(), within
        ).otherwise(F.col(_EXCL) + F.coalesce(within, F.lit(0)))
    else:
        merged = combine(F.col(_EXCL), within)
    if is_dup is not None:
        merged = F.when(
            is_dup,
            F.assert_true(
                F.lit(False),
                F.lit(
                    "prefix_agg(strict=True) requires unique order keys per "
                    f"group: duplicate {order_cols} found"
                ),
            ),
        ).otherwise(merged)
    cond = F.col(_BKT).eqNullSafe(F.col("__obkt"))
    for p in parts:
        cond = cond & F.col(p).eqNullSafe(F.col(f"__op_{p}"))
    return (
        tagged.join(F.broadcast(offs), cond)
        .withColumn(out_col, merged)
        .drop(_BKT, "__obkt", _EXCL, *[f"__op_{p}" for p in parts])
    )


def prefix_agg_multi(
    df: DataFrame,
    order_cols: list[str],
    specs: list[tuple[str, str, str]],
    bucket: Column | None = None,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Running aggregates for SEVERAL value columns over ONE scan order in
    one pass: ``specs`` is a list of
    (value_col, out_col, agg) tuples sharing the ordering, bucket and
    partitioning. Chaining single-value ``prefix_agg`` calls re-executes
    the input lineage per call (each call consumes ``df`` twice: bucket
    partials + the row join); this variant pays the partial-aggregate
    groupBy, the distinct-bucket offset window, the within-bucket window
    sort and the broadcast join ONCE for all values.

    Same numbers as the chained form — each value column's partial/offset/
    within/combine algebra is the single-value operator's, evaluated over
    the same frames. Strict mode is not offered here: its unique-key guard
    is per-ordering, and the only multi-value callers (rank+cumsum pairs)
    are non-strict.
    """
    if not specs:
        raise ValueError("prefix_agg_multi needs at least one spec")
    for _, _, agg in specs:
        if agg not in _AGGS:
            raise ValueError(f"agg must be one of {sorted(_AGGS)}, got {agg!r}")
    parts = list(partition_cols or [])
    b = bucket if bucket is not None else F.col(order_cols[0])
    tagged = df.withColumn(_BKT, b)
    grp = tagged.groupBy(*parts, _BKT).agg(
        *[
            _AGGS[agg][0](vc).alias(f"{_PART}{i}")
            for i, (vc, _oc, agg) in enumerate(specs)
        ]
    )
    cum_base = (
        Window.partitionBy(*parts).orderBy(F.asc_nulls_first(_BKT))
        if parts
        else Window.orderBy(F.asc_nulls_first(_BKT))
    )
    cum = cum_base.rowsBetween(Window.unboundedPreceding, -1)
    offs = grp.select(
        *[F.col(p).alias(f"__op_{p}") for p in parts],
        F.col(_BKT).alias("__obkt"),
        *[
            _AGGS[agg][0](f"{_PART}{i}").over(cum).alias(f"{_EXCL}{i}")
            for i, (_vc, _oc, agg) in enumerate(specs)
        ],
    )
    win = (
        Window.partitionBy(*parts, _BKT)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cond = F.col(_BKT).eqNullSafe(F.col("__obkt"))
    for p in parts:
        cond = cond & F.col(p).eqNullSafe(F.col(f"__op_{p}"))
    out = tagged.join(F.broadcast(offs), cond)
    drop_cols = [_BKT, "__obkt", *[f"__op_{p}" for p in parts]]
    for i, (vc, oc, agg) in enumerate(specs):
        agg_fn, combine = _AGGS[agg]
        within = agg_fn(vc).over(win)
        excl = F.col(f"{_EXCL}{i}")
        if agg == "sum":
            merged = F.when(excl.isNull(), within).otherwise(
                excl + F.coalesce(within, F.lit(0))
            )
        else:
            merged = combine(excl, within)
        out = out.withColumn(oc, merged)
        drop_cols.append(f"{_EXCL}{i}")
    return out.drop(*drop_cols)
