"""Estimate-driven broadcast hints.

The q03 pattern (plans/relational.py) — omit the hint and let size
estimates / AQE choose — works when Catalyst can estimate the side from a
parquet scan. For frames built through opaque filters and generators
(e.g. a bench split's exploded shingle postings, where the md5-bucket
filter defeats selectivity estimation and Generate's stats under-count the
fan-out), the hint must be applied or dropped explicitly. This helper makes
that decision from the optimizer's own size estimate of the PRE-explode
frame times a caller-supplied expansion factor, against the session's
``spark.sql.autoBroadcastJoinThreshold`` — so the same code broadcasts an
MB-scale eval suite and degrades to a shuffle join when the bench side
grows corpus-proportional, instead of OOMing executors at 100×.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_UNITS = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40, "p": 1 << 50}


def _parse_bytes(v: str) -> int:
    s = str(v).strip().lower()
    if s.endswith("b") and len(s) > 1 and s[-2] in _UNITS:
        s = s[:-1]
    if s and s[-1] in _UNITS:
        return int(float(s[:-1]) * _UNITS[s[-1]])
    return int(s)


# Estimates are memoized per (application, canonicalized plan): computing
# one runs the FULL Catalyst optimizer on the driver at plan-BUILD time, so
# without the cache every guarded join re-optimizes its build side (q139
# would pay two extra full-table-scan optimizations per registration).
# semanticHash() only analyzes (no optimizer run), so a cache hit is
# cheap; semantically-equal frames (same tables, same filters) share one
# entry, which is exactly right for the bench/gate pattern of re-building
# identical plans every round. The cache assumes source relations are
# immutable within an application (true here: driver-supplied parquet
# snapshots). The decision is still frozen at build time — runtime
# re-planning is AQE's job, and these hints only override Catalyst where
# its estimate is structurally unusable (post-explode stats).
# semanticHash() is only 32 bits, so the key also carries the output
# schema string: a collision then needs BOTH the same hash and the same
# column names/types, and two such frames flipping each other's broadcast
# decision is vanishingly unlikely (a bare-hash collision at the cache cap
# is ~0.2% birthday probability).
_EST_CACHE: dict[tuple[str, int, str], int] = {}
_EST_CACHE_MAX = 4096


def plan_size_estimate(df: DataFrame) -> int:
    """Catalyst's sizeInBytes estimate for the optimized plan of ``df``,
    memoized per (application, semantic plan hash, output schema)."""
    key = (
        df.sparkSession.sparkContext.applicationId,
        df.semanticHash(),
        df.schema.simpleString(),
    )
    est = _EST_CACHE.get(key)
    if est is None:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        if len(_EST_CACHE) >= _EST_CACHE_MAX:
            _EST_CACHE.clear()
        _EST_CACHE[key] = est
    return est


def broadcast_if_small(
    df: DataFrame,
    *,
    expansion: float = 1.0,
    estimate_from: DataFrame | None = None,
) -> DataFrame:
    """Hint ``broadcast(df)`` only while the estimated materialized size
    fits the session's autoBroadcastJoinThreshold; otherwise return ``df``
    unhinted so the planner falls back to a shuffle join.

    ``estimate_from`` supplies the frame to estimate when ``df`` itself has
    unusable stats (post-explode); ``expansion`` scales the estimate for a
    known fan-out (e.g. shingle postings ~8x their source docs).
    """
    spark = df.sparkSession
    raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    threshold = _parse_bytes(raw)
    if threshold < 0:  # broadcast disabled session-wide
        return df
    est = plan_size_estimate(estimate_from if estimate_from is not None else df)
    return F.broadcast(df) if est * expansion <= threshold else df


def one_partition_if_small(df: DataFrame) -> DataFrame:
    """``df.coalesce(1)`` while the estimated size of ``df`` fits one
    AQE partition (the session's advisoryPartitionSizeInBytes, 64 MB by
    default); otherwise ``df`` unchanged, so large inputs keep their
    layout.

    For iterative MLlib fits over small inputs. Spark's
    ``RDDLossFunction`` aggregates each loss evaluation with
    ``treeAggregate(..., finalAggregateOnExecutor = true)``: over more
    than one input partition every OWL-QN/L-BFGS evaluation is a
    two-stage job with a shuffle, and on a few-MB train set that fixed
    per-job cost is the fit. Over one partition each evaluation is one
    stage of one task. Only for fits whose model does not depend on the
    partitioning beyond float summation order (not RF bootstrap, GBT
    subsampling, CV folds, KMeans init or approxQuantile).

    For the streaming store runner and its delta reader
    (streaming/events.py ``_run_stores`` and ``_read_store_deltas``): a
    micro-batch or store of a few hundred rows then plans no Exchange, so
    each write or fold runs as one stage (see the staged-store contract
    there).

    The decision reads the ``plan_size_estimate`` memo, so a stale entry
    (a store read whose directory list is unchanged but whose files grew)
    can only change whether the frame is coalesced, never its rows.
    """
    raw = df.sparkSession.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
    return df.coalesce(1) if plan_size_estimate(df) <= _parse_bytes(raw) else df
