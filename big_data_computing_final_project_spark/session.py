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

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
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


# Hadoop's local file system with permissions set through java.nio instead of
# a forked ``chmod`` (see get_spark). The jar is built from the sources beside
# it; rebuild it with:
#   cd big_data_computing_final_project_spark/jvm && d=$(mktemp -d) &&
#   javac --release 17 -cp "$(python -c 'import os, pyspark; print(os.path.dirname(pyspark.__file__))')/jars/*" \
#     -d "$d" sparkgraft/fs/*.java &&
#   jar --create --date=2026-01-01T00:00:00Z --file spark-graft-fs.jar -C "$d" . && rm -rf "$d"
_NIO_FS_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "spark-graft-fs.jar")
_NIO_FS_CONFS = {
    "spark.driver.extraClassPath": _NIO_FS_JAR,
    "spark.hadoop.fs.file.impl": "sparkgraft.fs.NioLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": "sparkgraft.fs.NioLocalFs",
}
_LOCAL_MASTER = re.compile(r"local(?:\[[^\]]*\])?")
_CALLER_MASTER_OR_CLASSPATH = re.compile(
    r"--master|spark\.master|--driver-class-path|spark\.driver\.extraClassPath"
)


def _caller_sets_master_or_classpath() -> bool:
    """Whether the caller names a master or a driver class path of its own:
    in ``PYSPARK_SUBMIT_ARGS`` either replaces get_spark's, and the jar's
    class path would replace one in ``spark-defaults.conf``."""
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(_find_spark_home(), "conf")
    try:
        with open(os.path.join(conf_dir, "spark-defaults.conf")) as f:
            defaults = f.read()
    except OSError:
        defaults = ""
    submit_args = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    return any(_CALLER_MASTER_OR_CLASSPATH.search(s) for s in (submit_args, defaults))


def _local_fs_confs(master: str | None) -> dict[str, str]:
    """``_NIO_FS_CONFS`` when this call launches a local driver JVM that will
    have the jar on its class path; otherwise none."""
    launches_jvm = SparkContext._gateway is None and not os.environ.get("PYSPARK_GATEWAY_PORT")
    if master is None or not _LOCAL_MASTER.fullmatch(master) or not launches_jvm:
        return {}
    return {} if _caller_sets_master_or_classpath() else _NIO_FS_CONFS


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
    - ``spark.hadoop.fs.file.impl`` and
      ``spark.hadoop.fs.AbstractFileSystem.file.impl``, with the jar on
      ``spark.driver.extraClassPath`` (``_NIO_FS_CONFS``), for a local
      master only: Hadoop's local file system, checksummed as before, whose
      raw layer sets permission bits with ``Files.setPosixFilePermissions``.

      A local session loads no ``libhadoop``, so Hadoop's
      ``RawLocalFileSystem`` forks ``chmod`` for every file and directory a
      write creates, and no conf turns that off: 9 forks per parquet write
      (five directories, the part file, ``_SUCCESS`` and their two ``.crc``
      sidecars), 214 per warm ``stream_ingest`` pass of
      ``perfbench/run.py`` (7 staged writes per micro-batch, the streaming
      checkpoint through ``FileContext``, the five compactions); without
      them that pass takes about 10% less CPU on 4 cores (SCALING.md,
      "Writes without forks"). The plugin overrides only
      ``setPermission``: it sets the same nine bits without a fork and hands
      a mode with the sticky bit, or a platform without POSIX permissions,
      to Hadoop. Files, ``.crc`` sidecars, ``_SUCCESS``
      markers, permission bits and store layout stay the stock ones.

      Local masters only: a cluster's nodes load ``libhadoop``, which sets
      permissions without a fork, and its executors would not have the jar.
      The confs are also left out when the driver JVM is already running
      (it has no jar on its class path) and when the caller names its own
      master or driver class path (see ``_caller_sets_master_or_classpath``):
      a bare or cluster session gets Hadoop's own file system.
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
    if master is None and not os.environ.get("SPARK_MASTER"):
        master = f"local[{_LOCAL_CORES}]"
    if master is not None:
        builder = builder.master(master)
    return builder.config(map=_local_fs_confs(master)).getOrCreate()
