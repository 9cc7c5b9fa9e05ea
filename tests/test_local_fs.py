"""The local file system plugin (``session._NIO_FS_CONFS``): a local session
writes without forking ``chmod``, leaves the stock layout and permission
bits, survives a caller's own driver class path, and runs the classes its
committed sources compile to."""

from __future__ import annotations

import os
import shutil
import stat
import subprocess
import sys
import zipfile

import pytest

from big_data_computing_final_project_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JVM_DIR = os.path.join(REPO, "big_data_computing_final_project_spark", "jvm")

# One parquet write, then an availableNow stream whose foreachBatch stages
# the rows as a parquet delta (the checkpoint writes through FileContext).
_WRITE_PROBE = """
import os, sys
from big_data_computing_final_project_spark.session import get_spark
out = sys.argv[1]
s = get_spark("local-fs-probe", master="local[1]")
s.range(5).write.parquet(os.path.join(out, "src"))
q = (s.readStream.schema("id bigint").parquet(os.path.join(out, "src")).writeStream
     .trigger(availableNow=True).option("checkpointLocation", os.path.join(out, "ckpt"))
     .foreachBatch(lambda df, _: df.write.mode("append").parquet(os.path.join(out, "delta")))
     .start())
q.awaitTermination()
assert sorted(r.id for r in s.read.parquet(os.path.join(out, "delta")).collect()) == list(range(5))
s.stop()
"""


def _run_probe(tmp_path, out, submit_args=None, path_prefix=None):
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_GRAFT_DRIVER_MEM="1g", TMPDIR=str(tmp_path))
    for v in ("PYSPARK_SUBMIT_ARGS", "SPARK_MASTER", "PYSPARK_GATEWAY_PORT"):
        env.pop(v, None)
    if submit_args:
        env["PYSPARK_SUBMIT_ARGS"] = submit_args
    if path_prefix:
        env["PATH"] = path_prefix + os.pathsep + env["PATH"]
    proc = subprocess.run(
        [sys.executable, "-c", _WRITE_PROBE, str(out)], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=600, preexec_fn=lambda: os.umask(0o022),
    )
    assert proc.returncode == 0, proc.stderr[-3000:]


def test_local_session_writes_without_forking_chmod(tmp_path):
    """With a logging ``chmod`` first on ``PATH``, a parquet write and a
    staged stream delta fork no ``chmod`` (Hadoop's own local file system
    forks about nine per write), and leave files ``0644``, directories
    ``0755`` and the ``.crc`` sidecars, as the stock file system does under
    umask 022."""
    shim_dir, log = tmp_path / "bin", tmp_path / "chmod.log"
    shim_dir.mkdir()
    shim = shim_dir / "chmod"
    shim.write_text(f'#!/bin/sh\necho "$*" >> {log}\nexec {shutil.which("chmod")} "$@"\n')
    shim.chmod(0o755)
    out = tmp_path / "out"
    _run_probe(tmp_path, out, path_prefix=str(shim_dir))

    calls = log.read_text().splitlines() if log.exists() else []
    assert calls == [], calls[:10]
    bad = {}
    for d, dirs, files in os.walk(out):
        for n, want in [(n, 0o755) for n in dirs] + [(n, 0o644) for n in files]:
            mode = stat.S_IMODE(os.lstat(os.path.join(d, n)).st_mode)
            if mode != want:
                bad[os.path.relpath(os.path.join(d, n), out)] = oct(mode)
    assert not bad, bad
    for sub in ("src", "delta"):
        names = set(os.listdir(out / sub))
        parts = [n for n in names if n.startswith("part-")]
        want = {"_SUCCESS", "._SUCCESS.crc"} | {f".{n}.crc" for n in parts}
        assert parts and want <= names, sorted(names)
    assert any(n.endswith(".crc") for n in os.listdir(out / "ckpt" / "offsets"))


def test_caller_classpath_still_gets_a_session(tmp_path):
    """A caller's own ``spark.driver.extraClassPath`` in
    ``PYSPARK_SUBMIT_ARGS`` replaces the session's; the plugin confs are
    then left out, so the session still writes and reads parquet."""
    extra = tmp_path / "caller-jars"
    extra.mkdir()
    _run_probe(tmp_path, tmp_path / "out",
               submit_args=f"--conf spark.driver.extraClassPath={extra} pyspark-shell")


def test_local_fs_confs_apply_to_local_masters_only(monkeypatch, tmp_path):
    """Only a ``local[...]`` master this call launches gets the plugin: a
    cluster master, ``local-cluster`` (whose executors lack the jar), a
    caller's own master or class path, and a running JVM keep Hadoop's own
    file system."""
    monkeypatch.setattr(session.SparkContext, "_gateway", None)
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    for m in ("local", "local[4]", "local[*]", "local[4,2]"):
        assert session._local_fs_confs(m) == session._NIO_FS_CONFS, m
    for m in (None, "yarn", "spark://h:7077", "local-cluster[2,1,1024]"):
        assert session._local_fs_confs(m) == {}, m
    (tmp_path / "spark-defaults.conf").write_text("spark.driver.extraClassPath caller.jar\n")
    assert session._local_fs_confs("local[4]") == {}
    (tmp_path / "spark-defaults.conf").unlink()
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", "--master yarn pyspark-shell")
    assert session._local_fs_confs("local[4]") == {}
    monkeypatch.delenv("PYSPARK_SUBMIT_ARGS")
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "4242")
    assert session._local_fs_confs("local[4]") == {}


def test_jar_matches_its_sources(tmp_path):
    """The committed jar holds exactly the classes its ``.java`` sources
    compile to (classes are compared byte for byte; zip entries carry
    timestamps)."""
    javac = shutil.which("javac")
    if javac is None:
        pytest.skip("no javac on PATH")
    import pyspark

    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
    src_dir = os.path.join(JVM_DIR, "sparkgraft", "fs")
    sources = sorted(os.path.join(src_dir, n) for n in os.listdir(src_dir) if n.endswith(".java"))
    subprocess.run([javac, "--release", "17", "-cp", jars, "-d", str(tmp_path), *sources],
                   check=True, capture_output=True, timeout=300)
    built = {}
    for d, _, files in os.walk(tmp_path):
        for n in files:
            p = os.path.join(d, n)
            built[os.path.relpath(p, tmp_path).replace(os.sep, "/")] = open(p, "rb").read()
    with zipfile.ZipFile(session._NIO_FS_JAR) as z:
        committed = {n: z.read(n) for n in z.namelist() if n.endswith(".class")}
    assert sorted(committed) == sorted(built)
    assert [n for n in built if built[n] != committed[n]] == []
