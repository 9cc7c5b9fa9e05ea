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
import re

from pyspark.sql import SparkSession

# Local core count, $SPARK_GRAFT_CPUS: the test harness and perfbench set it
# to the box's cores. shuffle.partitions matches it locally; on a real
# cluster spark-submit conf overrides both, and AQE coalesces from a
# deliberately high initial partition count.
_LOCAL_CORES = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Generated classes kept per JVM: about ten times the largest working set
# measured for one pass (see get_spark).
_CODEGEN_CACHE_ENTRIES = "2000"

# The driver JVM's policy (see get_spark):
# - C2 (tier 4) thresholds at ten times the JDK 17 defaults, so methods run
#   as C1 code and only code that stays hot pays for a C2 compile;
# - the Parallel collector. G1's concurrent threads and larger write
#   barriers cost more CPU than its short pauses save on many short jobs;
#   Serial saves as much cold CPU but slows warm stream passes and not the
#   10x queries. Parallel grows the heap more freely, so peak RSS can be
#   higher under the same heap cap.
_DRIVER_JVM_OPTIONS = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 "
    "-XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=400000 "
    "-XX:+UseParallelGC"
)

# A collector the caller selects in an environment variable the driver JVM
# reads; a second selection on the same command line makes the JVM exit at
# init ("Multiple garbage collectors selected").
_CALLER_JVM_ENV = ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS", "PYSPARK_SUBMIT_ARGS")
_COLLECTOR_FLAG = re.compile(r"-XX:\+Use(?:Serial|Parallel|G1|Z|Shenandoah|Epsilon)GC\b")


def _driver_jvm_options() -> str:
    """``_DRIVER_JVM_OPTIONS``, without its collector when the caller
    already selects one."""
    if any(_COLLECTOR_FLAG.search(os.environ.get(v, "")) for v in _CALLER_JVM_ENV):
        kept = (t for t in _DRIVER_JVM_OPTIONS.split() if not _COLLECTOR_FLAG.fullmatch(t))
        return " ".join(kept)
    return _DRIVER_JVM_OPTIONS


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
    - ``spark.driver.defaultJavaOptions``: the driver JVM's policy,
      ``_DRIVER_JVM_OPTIONS``: C2 thresholds at ten times the defaults and
      the Parallel collector.

      JIT. The engine's local work is many short jobs over small inputs,
      and a per-thread CPU probe of the driver JVM (4 cores, the
      ``ml_pipeline`` workload of ``perfbench/run.py``, default JIT) put
      the C1/C2 compiler threads at 7.5 of 18.3 CPU-s during set-up, 22.5
      of 46.8 CPU-s in the cold pass (executor tasks: 5.0) and 2.9 of 15.6
      CPU-s in the first warm pass. With the raised thresholds most
      methods stay C1 code, and only code that stays hot (a 10x query's
      generated loops) is compiled by C2. C1 only
      (``-XX:TieredStopAtLevel=1``) saved more CPU but doubled the wall
      time of the compute-bound 10x queries (see SCALING.md, "JVM
      warm-up").

      Collector. ``-XX:+UseParallelGC`` replaces JDK 17's default G1.
      G1's concurrent refinement and marking threads and its larger write
      barriers (which make every compiled method bigger, so C2 has more to
      compile) cost CPU that its short pauses do not pay back on many
      short jobs: on 4 cores the cold pass fell about 7% and set-up about
      2% under Parallel on both perfbench workloads, and the 10x queries
      got a little faster in wall time. Serial cut cold CPU a little more
      but made the warm ``stream_ingest`` pass slower and gave no 10x
      gain. The cost is memory: Parallel grows the heap more freely, so
      peak RSS rose from about 2.4 to 3.0 GB on ``ml_pipeline`` and 3.3
      to 5.0 GB on ``stream_ingest``; the heap cap
      (``spark.driver.memory``) is the same, so the worst case is too
      (SCALING.md, "Collector"). A caller that selects its own collector
      with a ``-XX:+Use...GC`` token in ``JAVA_TOOL_OPTIONS``,
      ``_JAVA_OPTIONS``, ``JDK_JAVA_OPTIONS`` or ``PYSPARK_SUBMIT_ARGS``
      keeps it: the flag is then left out, since two selections make the
      JVM exit at init.

      It is set as ``defaultJavaOptions``, not ``extraJavaOptions``:
      PySpark puts builder confs on the ``spark-submit`` line ahead of
      ``PYSPARK_SUBMIT_ARGS``, so a caller that sets
      ``spark.driver.extraJavaOptions`` there (perfbench does) would
      override it, while the default options are prepended to the extra
      ones and both reach the JVM. Like the codegen cache it is
      static: it only applies to a JVM this call launches.
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
        .config("spark.driver.defaultJavaOptions", _driver_jvm_options())
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
