"""Distributed exact prefix aggregation (cumulative scan) — running
SUM/MAX/MIN/COUNT over a global ordering without the single-partition
window.

`Window.orderBy(x)` with no partition key serializes the whole table into
one task. A running aggregate decomposes whenever a coarse BUCKET that is
monotone in the scan order exists (epoch days, price bands, id ranges):

    prefix(row) = combine(agg of all earlier buckets, within-bucket prefix)

The scan is four steps, shared by every value column of one call:

1. per-bucket partials — one partial-aggregated groupBy;
2. each bucket's exclusive offset — a window over DISTINCT BUCKET VALUES
   ONLY (bounded by the bucket domain, not the table);
3. the within-bucket prefix — a window per bucket, parallel across
   buckets;
4. combine — the offsets frame is broadcast-joined back null-safely.

Same numbers as the naive window form, no single-partition stage. A
running COUNT over a ROWS frame of a total order is ROW_NUMBER, so the
exact global rank (operators/ranking.py) is a ``count`` spec here; a
``total`` spec reads the group's whole sum (or row count) off the offsets
frame alone, so a caller needing both a running and a whole-group figure
scans its input once.

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


def _add(a: Column, b: Column) -> Column:
    # NULL is the empty frame (first bucket, strict first row): a + NULL = a
    return F.coalesce(a + b, a, b)


def _whole(vc: str) -> Column:
    # "*" has nothing to sum: its whole-group figure is the row count
    return F.count(vc) if vc == "*" else F.sum(vc)


# agg -> (aggregate over a bucket's rows, fold of earlier buckets' partials,
# merge of that offset with the within-bucket prefix)
_AGGS = {
    "sum": (F.sum, F.sum, _add),
    "count": (F.count, F.sum, _add),
    "max": (F.max, F.max, F.greatest),
    "min": (F.min, F.min, F.least),
    "total": (_whole, F.sum, None),
}


def _fail(msg: str) -> Column:
    return F.assert_true(F.lit(False), F.lit(msg))


def prefix_agg(
    df: DataFrame,
    order_cols: list[str],
    specs: list[tuple[str, str, str]],
    bucket: Column | None = None,
    strict: bool = False,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Running aggregates over the ``order_cols`` ordering — globally, or
    per ``partition_cols`` group (the scan restarts per group, but unlike
    ``Window.partitionBy(group)`` a huge group never serializes into one
    task: within-group work is still split by ``bucket``). ``bucket``
    (default: first order column) must be monotone non-decreasing in the
    scan order with a bounded value domain.

    Each spec ``(value_col, out_col, agg)`` adds ``out_col``, the running
    ``agg`` of ``value_col``: ``sum``, ``max``, ``min`` or ``count``
    (``value_col="*"`` counts rows). ``total`` is instead the group's
    whole SUM of ``value_col`` (its row COUNT for ``"*"``), read off the
    offsets frame with no within-bucket window. All specs share one pass
    of the four steps.

    ``strict=True`` excludes the current row (frame ... AND 1 PRECEDING);
    the first row's strict prefix is NULL (empty frame), matching the
    window form. Strict mode requires unique order keys per group (see
    module doc).
    """
    if not specs:
        raise ValueError("prefix_agg needs at least one spec")
    for _, _, agg in specs:
        if agg not in _AGGS:
            raise ValueError(f"agg must be one of {sorted(_AGGS)}, got {agg!r}")
    parts = list(partition_cols or [])
    b = bucket if bucket is not None else F.col(order_cols[0])
    tagged = df.withColumn(_BKT, b)
    key = F.struct(*[F.col(c) for c in order_cols])
    # strict mode also tracks each bucket's min/max order key so the
    # duplicate guard can see ACROSS buckets (same groupBy, no extra shuffle)
    extra = [F.min(key).alias("__kmin"), F.max(key).alias("__kmax")] if strict else []
    grp = tagged.groupBy(*parts, _BKT).agg(
        *[_AGGS[a][0](vc).alias(f"__pfx_part{i}") for i, (vc, _, a) in enumerate(specs)],
        *extra,
    )
    by_bucket = Window.partitionBy(*parts).orderBy(F.asc_nulls_first(_BKT))
    earlier = by_bucket.rowsBetween(Window.unboundedPreceding, -1)
    whole = by_bucket.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    offsets = [
        _AGGS[agg][1](f"__pfx_part{i}").over(whole if agg == "total" else earlier)
        for i, (_, _, agg) in enumerate(specs)
    ]
    if strict:
        # cross-bucket half of the unique-key guard: under a monotone bucket
        # a key duplicated across buckets makes some bucket's max key equal
        # the next bucket's min key, so callers whose bucket is NOT a pure
        # function of the order keys cannot pass the check silently
        boundary_dup = F.lag(F.col("__kmax")).over(by_bucket).eqNullSafe(F.col("__kmin"))
        msg = (
            "prefix_agg(strict=True) requires unique order keys per "
            f"group: duplicate {order_cols} found"
        )
        offsets = [
            F.when(boundary_dup, _fail(msg + " straddling buckets")).otherwise(o)
            for o in offsets
        ]
    offs = grp.select(
        *[F.col(p).alias(f"__op_{p}") for p in parts],
        F.col(_BKT).alias("__obkt"),
        *[o.alias(f"__pfx_excl{i}") for i, o in enumerate(offsets)],
    )
    by_row = Window.partitionBy(*parts, _BKT).orderBy(*order_cols)
    win = by_row.rowsBetween(Window.unboundedPreceding, -1 if strict else 0)
    # every within-bucket prefix rides one window over the bucket's sort,
    # each computed once however often its merge reads it
    within = [
        _AGGS[agg][0](vc).over(win).alias(f"__pfx_in{i}")
        for i, (vc, _, agg) in enumerate(specs)
        if agg != "total"
    ]
    if strict:
        # in-bucket half of the guard: a lag over the same sort raises on
        # the first adjacent duplicate (no extra shuffle or job)
        within.append(F.lag(key).over(by_row).eqNullSafe(key).alias("__pfx_dup"))
    # eqNullSafe: a plain equi-join silently DELETES null-bucket rows
    cond = F.col(_BKT).eqNullSafe(F.col("__obkt"))
    for p in parts:
        cond = cond & F.col(p).eqNullSafe(F.col(f"__op_{p}"))
    out = tagged.join(F.broadcast(offs), cond).select("*", *within)
    merged = []
    for i, (_, oc, agg) in enumerate(specs):
        combine = _AGGS[agg][2]
        excl = F.col(f"__pfx_excl{i}")
        m = excl if combine is None else combine(excl, F.col(f"__pfx_in{i}"))
        if strict:
            m = F.when(F.col("__pfx_dup"), _fail(msg)).otherwise(m)
        merged.append(m.alias(oc))
    return out.select(*df.columns, *merged)
