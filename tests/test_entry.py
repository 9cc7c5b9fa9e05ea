"""Driver-contract smoke tests for __spark_entry__.py."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import __spark_entry__ as entrymod


def test_entry_runs(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns[0] == "l_returnflag"


def test_every_oracle_key_has_query():
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) > 0


def test_driver_jvm_runs_the_session_jit_policy(spark):
    """Every token of the session's driver JVM policy is on the driver
    JVM's command line, and the JVM runs the collector it names: a policy
    that never reaches the JVM (for example one moved into
    ``extraJavaOptions``, which a caller's own ``extraJavaOptions``
    replaces), or a collector flag that a later one overrides, fails
    here."""
    from big_data_computing_final_project_spark.session import _DRIVER_JVM_OPTIONS

    mf = spark._jvm.java.lang.management.ManagementFactory
    jvm_args = set(mf.getRuntimeMXBean().getInputArguments())
    missing = [t for t in _DRIVER_JVM_OPTIONS.split() if t not in jvm_args]
    assert not missing, (missing, sorted(jvm_args))
    collectors = sorted(b.getName() for b in mf.getGarbageCollectorMXBeans())
    assert collectors == ["PS MarkSweep", "PS Scavenge"], collectors


_COLLECTOR_PROBE = """
import json
from big_data_computing_final_project_spark.session import get_spark
s = get_spark("collector-probe", master="local[1]")
assert s.range(3).count() == 3
mf = s._jvm.java.lang.management.ManagementFactory
print(json.dumps(sorted(b.getName() for b in mf.getGarbageCollectorMXBeans())))
s.stop()
"""


def test_caller_collector_still_gets_a_session(tmp_path):
    """A caller that selects its own collector (here Serial, through
    ``JAVA_TOOL_OPTIONS``) gets a session on that collector: get_spark
    leaves its own collector flag out, since two selections make the JVM
    exit at init."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, JAVA_TOOL_OPTIONS="-XX:+UseSerialGC", PYTHONPATH=repo,
               SPARK_GRAFT_DRIVER_MEM="1g", TMPDIR=str(tmp_path))
    for v in ("PYSPARK_SUBMIT_ARGS", "SPARK_MASTER"):
        env.pop(v, None)
    proc = subprocess.run([sys.executable, "-c", _COLLECTOR_PROBE], cwd=str(tmp_path),
                          env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    collectors = json.loads(proc.stdout.strip().splitlines()[-1])
    assert collectors == ["Copy", "MarkSweepCompact"], collectors
