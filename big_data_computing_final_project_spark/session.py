"""SparkSession construction with scale-oriented defaults.

The reference is a single-process pandas pipeline (SURVEY.md §3); this engine
targets a multi-executor cluster, so the session enables the optimizer
features that matter at 100 TB — AQE (runtime shuffle coalescing + skew-join
splitting), Arrow for every Python<->JVM boundary, and UTC session time so
results are byte-stable across cluster timezones (and against the DuckDB
oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Tuned for the local[32] test harness; on a real cluster these are
# overridden by spark-submit conf. shuffle.partitions matches core count
# locally — at cluster scale AQE coalesces from a deliberately high initial
# number, so we set the initial high and let AQE shrink.
_LOCAL_CORES = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Generated classes kept per JVM: about ten times the largest working set
# measured for one pass (see get_spark).
_CODEGEN_CACHE_ENTRIES = "2000"


def get_spark(app_name: str = "big-data-computing-spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Defaults are chosen for scale-out behavior, not just local green tests:

    - ``spark.sql.adaptive.enabled`` + coalescePartitions + skewJoin: runtime
      re-planning replaces hand-tuned partition counts; skewed join keys
      (e.g. hot ``user_id`` in events) are split automatically.
    - ``spark.sql.execution.arrow.pyspark.enabled``: Arrow batches for
      pandas_udf / toPandas — the only sanctioned Python path (SURVEY §2.9).
    - ``spark.sql.session.timeZone=UTC``: deterministic timestamp semantics.
    - ``spark.sql.shuffle.partitions``: sized to local cores here; AQE
      coalesces below it when partitions are small.
    - ``spark.sql.autoBroadcastJoinThreshold``: kept at default (10 MB) so
      dimension tables (region/nation/supplier/part) broadcast without hints;
      we still add explicit ``broadcast()`` hints in join helpers as
      documentation + insurance when stats are missing.
    - ``spark.sql.codegen.cache.maxEntries``: generated classes kept for
      reuse. Measured working set per pass: ~190 classes for the ML
      pipeline (q49 house pipeline alone ~120), ~205 for a stream
      ingest/fold/compact cycle, against Spark's default of 100, which
      made every warm run recompile (Janino) and re-JIT all of them. It is
      a static conf: a session someone else already started (for example
      ``tools/check_bare_session.py``) keeps its own value.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", _LOCAL_CORES)
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.codegen.cache.maxEntries", _CODEGEN_CACHE_ENTRIES)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.legacy.timeParserPolicy", "CORRECTED")
        # legacy events.parquet generations store TIMESTAMP(NANOS) which the
        # vectorized reader rejects; read those as long nanos and normalize
        # in the catalog loader (no-op for native-micros files)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{_LOCAL_CORES}]")
    return builder.getOrCreate()
