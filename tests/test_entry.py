"""Driver-contract smoke tests for __spark_entry__.py."""

from __future__ import annotations

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
    """Every token of the session's JIT policy is on the driver JVM's
    command line: a policy that never reaches the JVM (for example one
    moved into ``extraJavaOptions``, which a caller's own
    ``extraJavaOptions`` replaces) fails here."""
    from big_data_computing_final_project_spark.session import _DRIVER_JIT_OPTIONS

    mx = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    jvm_args = set(mx.getInputArguments())
    missing = [t for t in _DRIVER_JIT_OPTIONS.split() if t not in jvm_args]
    assert not missing, (missing, sorted(jvm_args))
