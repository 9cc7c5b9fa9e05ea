"""Mergeable quantile sketch (t-digest) as a first-class distributed
aggregate.

Spark's built-in ``percentile_approx`` is a KLL-style sketch locked inside
the JVM aggregate; this module provides an *open* mergeable sketch whose
partial state (centroid arrays) is a plain DataFrame, so it can be

- built incrementally (per partition / per file / per micro-batch),
- persisted and unioned across runs (the property that matters at 100 TB:
  sketch 100 TB once, answer any later quantile query from kilobytes),
- merged associatively without revisiting raw data.

Algorithm: Dunning's merging t-digest (public paper: "Computing Extremely
Accurate Quantiles Using t-Digests", Dunning & Ertl). Centroid budget is
bounded by the k1 scale function k(q) = δ/(2π)·asin(2q−1), which keeps
centroids small near the tails (high accuracy at p99) and wide in the
middle.

Execution shape (two-phase, mirrors Spark's partial aggregation):

  phase 1  mapInPandas        — per-partition, per-key centroid build;
                                 output rows are (key, means[], weights[])
                                 ~δ floats per key per partition
  phase 2  groupBy.applyInPandas — shuffle only the sketches (not the data),
                                 merge-compress, interpolate quantiles

Reference parity: the reference computes exact quantiles on a 140k-row
pandas frame (sol_2/data_analysis.ipynb quantile cells); this is the
scale-path replacement for the same question at data sizes where exact
multi-quantile computation would need a full sort.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "tdigest_quantiles",
    "build_centroids",
    "merge_centroids",
    "quantile_from_centroids",
    "cdf_from_centroids",
    "ks_from_digests",
    "merge_partial_rows",
    "heavy_hitters_partials",
    "heavy_hitters_bounds",
    "heavy_hitters_finalize",
    "heavy_hitters_topk",
    "certified_hh_candidates",
]


def _k_scale(q: np.ndarray | float, delta: float) -> np.ndarray | float:
    """k1 scale function; monotone in q, range [-δ/4, δ/4]."""
    return delta / (2.0 * np.pi) * np.arcsin(np.clip(2.0 * q - 1.0, -1.0, 1.0))


def merge_centroids(
    means: np.ndarray, weights: np.ndarray, delta: float
) -> tuple[np.ndarray, np.ndarray]:
    """One merging pass: sort by mean, then greedily merge neighbours while
    the merged centroid's k-span stays within 1 (the t-digest invariant)."""
    if means.size == 0:
        return means, weights
    order = np.argsort(means, kind="mergesort")
    means, weights = means[order], weights[order]
    total = float(weights.sum())
    out_m: list[float] = []
    out_w: list[float] = []
    cur_m, cur_w = float(means[0]), float(weights[0])
    w_before = 0.0  # weight fully emitted so far
    k_lower = _k_scale(0.0, delta)
    for m, w in zip(means[1:], weights[1:]):
        q_upper = (w_before + cur_w + w) / total
        if _k_scale(q_upper, delta) - k_lower <= 1.0:
            cur_m += (m - cur_m) * (w / (cur_w + w))
            cur_w += w
        else:
            out_m.append(cur_m)
            out_w.append(cur_w)
            w_before += cur_w
            k_lower = _k_scale(w_before / total, delta)
            cur_m, cur_w = float(m), float(w)
    out_m.append(cur_m)
    out_w.append(cur_w)
    return np.asarray(out_m), np.asarray(out_w)


def _k_inverse(k: np.ndarray | float, delta: float) -> np.ndarray | float:
    """Inverse of the k1 scale function: q = (sin(2πk/δ) + 1) / 2."""
    return (np.sin(np.clip(k * (2.0 * np.pi) / delta, -np.pi / 2.0, np.pi / 2.0)) + 1.0) / 2.0


def build_centroids(values: np.ndarray, delta: float) -> tuple[np.ndarray, np.ndarray]:
    """Build a digest from raw values (each value starts as a unit centroid).

    Unit weights let the greedy merging pass be computed directly: after
    sorting, each centroid spans the largest value range whose k-span stays
    within 1, so its right edge is ``n * K⁻¹(K(q_left) + 1)``. That is ~δ
    boundary computations + one ``np.add.reduceat``, instead of a Python
    loop over every raw value — the hot path of phase-1 partial sketching.
    """
    v = np.asarray(values, dtype=np.float64)
    v = v[~np.isnan(v)]
    n = v.size
    if n == 0:
        return v, v.copy()
    v = np.sort(v, kind="mergesort")
    edges = [0]
    pos = 0
    while pos < n:
        q_limit = _k_inverse(_k_scale(pos / n, delta) + 1.0, delta)
        # largest j with k((pos+j)/n) − k(pos/n) ≤ 1; always advance ≥ 1
        nxt = max(pos + 1, int(np.floor(q_limit * n + 1e-9)))
        pos = min(nxt, n)
        edges.append(pos)
    idx = np.asarray(edges[:-1])
    weights = np.diff(np.asarray(edges)).astype(np.float64)
    means = np.add.reduceat(v, idx) / weights
    return means, weights


def quantile_from_centroids(means: np.ndarray, weights: np.ndarray, q: float) -> float:
    """Interpolated quantile: centroid i sits at cumulative rank
    cumw[i] − w[i]/2; linear interpolation between neighbouring centroids,
    clamped to the extreme centroid means at the tails."""
    if means.size == 0:
        return float("nan")
    if means.size == 1:
        return float(means[0])
    total = float(weights.sum())
    target = q * total
    centers = np.cumsum(weights) - weights / 2.0
    if target <= centers[0]:
        return float(means[0])
    if target >= centers[-1]:
        return float(means[-1])
    idx = int(np.searchsorted(centers, target) - 1)
    span = centers[idx + 1] - centers[idx]
    frac = 0.0 if span <= 0 else (target - centers[idx]) / span
    return float(means[idx] + frac * (means[idx + 1] - means[idx]))


def cdf_from_centroids(means: np.ndarray, weights: np.ndarray, x: float) -> float:
    """Interpolated CDF at ``x`` — the inverse of quantile_from_centroids:
    centroid i sits at cumulative rank cumw[i] − w[i]/2; piecewise-linear
    between neighbouring centroid means, clamped to 0/1 outside them."""
    if means.size == 0:
        return float("nan")
    total = float(weights.sum())
    if means.size == 1:
        return 0.0 if x < means[0] else (1.0 if x > means[0] else 0.5)
    centers = np.cumsum(weights) - weights / 2.0
    if x < means[0]:
        return 0.0
    if x > means[-1]:
        return 1.0
    idx = int(np.searchsorted(means, x, side="right") - 1)
    if idx >= means.size - 1:
        return float(centers[-1] / total) if x == means[-1] else 1.0
    span = means[idx + 1] - means[idx]
    frac = 0.0 if span <= 0 else (x - means[idx]) / span
    rank = centers[idx] + frac * (centers[idx + 1] - centers[idx])
    return float(rank / total)


def merge_partial_rows(
    rows, delta: float = 200.0
) -> tuple[np.ndarray, np.ndarray]:
    """Reduce collected partial-digest rows (any objects with ``means`` /
    ``weights`` array fields) into one merged digest — the shared
    concatenate-then-merge step of tdigest_finalize, q156, and the
    streaming KS store reader. Empty input -> two empty arrays (callers
    decide how an absent population degrades)."""
    chunks = list(rows)
    if not chunks:
        empty = np.array([], dtype=np.float64)
        return empty, empty.copy()
    m = np.concatenate([np.asarray(r["means"], dtype=np.float64) for r in chunks])
    w = np.concatenate([np.asarray(r["weights"], dtype=np.float64) for r in chunks])
    return merge_centroids(m, w, delta)


def ks_from_digests(
    means_a: np.ndarray,
    weights_a: np.ndarray,
    means_b: np.ndarray,
    weights_b: np.ndarray,
) -> float:
    """Approximate two-sample KS statistic from two t-digests: max |CDF
    gap| probed at the union of both digests' centroid means AND one ulp
    to either side of each (the piecewise-linear CDFs are continuous
    between centroids, so their difference is extremal at a centroid or
    at a tail jump — the side probes capture the 0/1 jumps outside the
    extreme centroids, e.g. a constant reference population vs a shifted
    current one correctly reads ~1.0, not the mid-atom 0.5).

    Error model, honestly stated: for continuous distributions the error
    is bounded by the digests' rank resolution (~1/δ at the tails,
    coarser mid-range). A heavy point mass INTERIOR to a digest is
    smeared across its centroid (an inherent t-digest property), so the
    gap at such an atom can be underestimated by up to half the atom's
    weight share; populations dominated by interior atoms should use the
    exact q152 path (their value domain is bounded by definition).

    This is the documented scale path for q152 on UNBOUNDED value
    domains: the exact per-value ECDF needs the whole domain through one
    ordered window, the digests need O(δ) floats per side regardless of
    data size."""
    if means_a.size == 0 or means_b.size == 0:
        return float("nan")
    centers = np.union1d(means_a, means_b)
    probes = np.unique(
        np.concatenate(
            [
                centers,
                np.nextafter(centers, -np.inf),
                np.nextafter(centers, np.inf),
            ]
        )
    )
    gaps = [
        abs(
            cdf_from_centroids(means_a, weights_a, float(x))
            - cdf_from_centroids(means_b, weights_b, float(x))
        )
        for x in probes
    ]
    return float(max(gaps))


_SKETCH_SCHEMA = "key string, means array<double>, weights array<double>"


def tdigest_partials(
    df: DataFrame, key_col: str, value_col: str, delta: float = 200.0
) -> DataFrame:
    """Phase 1: per-partition, per-key centroid build (map-side, no
    shuffle). The output is the sketch's open partial state — rows of
    (key, means[], weights[]) — which can be merged now (tdigest_finalize),
    persisted and unioned with later partials (incremental/streaming
    sketching), or both."""
    src = df.select(F.col(key_col).cast("string").alias("key"), F.col(value_col).alias("val"))

    def _partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one digest per key per worker: accumulate across Arrow batches,
        # compress once at the end so output size is O(keys * delta)
        acc: dict[str, list[np.ndarray]] = {}
        for pdf in batches:
            for key, grp in pdf.groupby("key", sort=False):
                acc.setdefault(key, []).append(grp["val"].to_numpy(dtype=np.float64))
        rows = []
        for key, chunks in acc.items():
            m, w = build_centroids(np.concatenate(chunks), delta)
            rows.append({"key": key, "means": m.tolist(), "weights": w.tolist()})
        if rows:
            yield pd.DataFrame(rows)

    return src.mapInPandas(_partial, schema=_SKETCH_SCHEMA)


def tdigest_finalize(
    partials: DataFrame, probs: Sequence[float], delta: float = 200.0
) -> DataFrame:
    """Phase 2: shuffle only the δ-bounded sketch rows, merge-compress per
    key, interpolate quantiles."""
    probs = [float(p) for p in probs]
    out_fields = ", ".join(f"p{int(p * 100):02d} double" for p in probs)

    def _final(pdf: pd.DataFrame) -> pd.DataFrame:
        m, w = merge_partial_rows(pdf.to_dict("records"), delta)
        row = {"key": pdf["key"].iloc[0]}
        for p in probs:
            row[f"p{int(p * 100):02d}"] = quantile_from_centroids(m, w, p)
        return pd.DataFrame([row])

    return (
        partials.groupBy("key")
        .applyInPandas(_final, schema=f"key string, {out_fields}")
        .orderBy("key")
    )


def tdigest_quantiles(
    df: DataFrame,
    key_col: str,
    value_col: str,
    probs: Sequence[float],
    delta: float = 200.0,
) -> DataFrame:
    """Per-key t-digest quantile estimates.

    Two-phase plan: partial sketches per input partition (map-side, no
    shuffle), then a shuffle of only the δ-bounded sketch rows for the
    final merge. Raw values never cross the network.
    """
    return tdigest_finalize(tdigest_partials(df, key_col, value_col, delta), probs, delta)


# ---------------------------------------------------------------------------
# Heavy hitters (SpaceSaving-style truncated counters), the frequency
# companion to the t-digest above and the HLL distinct sketch (q79):
# per-partition exact counts truncated to a capacity, with the truncation
# bound carried alongside so the merge yields certified [lo, hi] intervals
# (Metwally et al.'s SpaceSaving guarantee, phrased as mergeable summaries).
# At 100 TB the full token explode would shuffle ~10^12 rows; this shuffles
# at most `capacity` rows per partition.
# ---------------------------------------------------------------------------

_HH_PARTIAL_SCHEMA = "pid long, item string, cnt long, dmax long"


def heavy_hitters_partials(
    df: DataFrame, items_col: str, capacity: int = 4096
) -> DataFrame:
    """Phase 1: per-partition truncated counters (pid, item, cnt, dmax) —
    the SpaceSaving sketch's open partial state. Like tdigest_partials,
    these rows are mergeable: they can be finalized now, or persisted per
    micro-batch and merged across batches later (streaming/events.
    run_stream_heavy_hitters), provided each partial carries a distinct
    partial id (here pid; plus batch_id in a store)."""

    def _partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        chunks = [
            pd.Series(np.concatenate(pdf[items_col].to_numpy())).value_counts(sort=False)
            for pdf in batches
            if len(pdf)
        ]
        if not chunks:
            return
        s = chunks[0] if len(chunks) == 1 else pd.concat(chunks).groupby(level=0).sum()
        s = s.sort_values(ascending=False, kind="mergesort")
        if len(s) > capacity:
            kept, dropped = s.iloc[:capacity], s.iloc[capacity:]
            dmax = int(dropped.iloc[0])
        else:
            kept, dmax = s, 0
        yield pd.DataFrame(
            {"pid": pid, "item": kept.index, "cnt": kept.to_numpy(), "dmax": dmax}
        )

    return df.select(items_col).mapInPandas(_partial, schema=_HH_PARTIAL_SCHEMA)


def heavy_hitters_bounds(
    partials: DataFrame, partial_id_cols: Sequence[str] = ("pid",)
) -> DataFrame:
    """Merge truncated-counter partials into per-item certified bounds:
    (item, count_lo, count_hi, drop_total) for EVERY surviving item, where
    count_lo <= true count <= count_hi and drop_total is the summed
    truncation mass (an upper bound on any item the sketch never kept).

    ``partial_id_cols`` must uniquely identify one partial sketch — (pid,)
    for a single pass, ("batch_id", "pid") for an incremental store — so
    each partial's truncation mass (dmax) is counted exactly once."""
    id_cols = list(partial_id_cols)
    # total truncation mass across partials: one row per partial sketch
    total_drop = (
        partials.select(*id_cols, "dmax")
        .dropDuplicates(id_cols)
        .agg(F.sum("dmax").alias("drop_total"))
    )
    per_item = partials.groupBy("item").agg(
        F.sum("cnt").alias("count_lo"),
        F.sum("dmax").alias("present_dmax"),
    )
    return per_item.join(F.broadcast(total_drop)).select(
        "item",
        "count_lo",
        (F.col("count_lo") + F.col("drop_total") - F.col("present_dmax")).alias("count_hi"),
        "drop_total",
    )


def heavy_hitters_finalize(
    partials: DataFrame, k: int = 20, partial_id_cols: Sequence[str] = ("pid",)
) -> DataFrame:
    """Phase 2: merge truncated-counter partials into certified top-k."""
    ranked = (
        heavy_hitters_bounds(partials, partial_id_cols)
        .drop("drop_total")
        .orderBy(F.desc("count_lo"), "item")
        .limit(k)
    )
    return ranked.select(
        "item",
        "count_lo",
        "count_hi",
        F.row_number().over(Window.orderBy(F.desc("count_lo"), "item")).alias("rank"),
    )


def certified_hh_candidates(
    partials: DataFrame,
    k: int,
    cand_max: int = 4096,
    partial_id_cols: Sequence[str] = ("pid",),
) -> list[str] | None:
    """Candidate items CERTIFIED to contain every possible true top-k item,
    or ``None`` when the sketch cannot certify containment (caller must
    fall back to an exact pass).

    Ranking candidates by count_lo alone can silently miss a true top-k
    item on flat/adversarial (non-Zipfian) distributions: count_lo
    undercounts by up to the summed per-partition truncation mass. The
    certificate instead reasons from the bounds. Let
    thr = k-th largest count_lo — a lower bound on the true k-th count
    (each count_lo lower-bounds its item's true count, so the k items
    ranked by count_lo witness k true counts >= thr). Then:

    - any item in the true top-k has true count >= thr, and its
      count_hi >= true count >= thr, so {item : count_hi >= thr} is a
      certified superset of the true top-k;
    - an item the sketch never kept has true count <= drop_total, so
      drop_total < thr certifies no unseen item can rank; otherwise -> None;
    - the k-witnesses argument needs k surviving items: with FEWER than k
      bounds rows, thr is min over however many exist and lower-bounds
      nothing about the k-th count, so any truncation at all -> None
      (with zero truncation the survivors ARE the whole domain and the
      candidate set is trivially complete);
    - more than ``cand_max`` candidates would break the bounded-broadcast
      contract of the follow-up exact rescore -> None.

    Driver-side cost: two tiny actions over the cached, O(partitions x
    capacity)-bounded bounds frame (drop_total rides on every bounds row,
    so the threshold probe fetches it for free); candidate items
    (<= cand_max strings) are collected so the caller's plan is a
    self-contained local-relation broadcast."""
    bounds = heavy_hitters_bounds(partials, partial_id_cols)
    bounds.cache()
    try:
        thr_row = (
            bounds.orderBy(F.desc("count_lo"), "item")
            .limit(k)
            .agg(
                F.min("count_lo").alias("thr"),
                F.first("drop_total").alias("drop_total"),
                F.count(F.lit(1)).alias("n_rows"),
            )
            .first()
        )
        thr = thr_row["thr"] if thr_row is not None else None
        if thr is None:
            return []  # empty input: the empty candidate set is complete
        if thr_row["n_rows"] < k and thr_row["drop_total"] > 0:
            # fewer than k witnesses: a truncated-away item could be a true
            # top-k member (e.g. capacity=2, k=3, counts 100/90/5: thr=90
            # "passes" while the dropped 5-count item IS the true 3rd)
            return None
        if thr_row["drop_total"] >= thr:
            return None
        cand_rows = (
            bounds.where(F.col("count_hi") >= thr)
            .select("item")
            .limit(cand_max + 1)
            .collect()
        )
        if len(cand_rows) > cand_max:
            return None
        return [r["item"] for r in cand_rows]
    finally:
        bounds.unpersist()


def heavy_hitters_topk(
    df: DataFrame, items_col: str, k: int = 20, capacity: int = 4096
) -> DataFrame:
    """Top-k most frequent items of an array<string> column, with certified
    count bounds.

    Returns (item, count_lo, count_hi, rank): count_lo <= true count <=
    count_hi always; an item's true count can exceed a *reported* item's
    only if intervals overlap. With capacity >> k (and Zipf-ish data) the
    intervals collapse and top-k is exact.
    """
    return heavy_hitters_finalize(heavy_hitters_partials(df, items_col, capacity), k)
