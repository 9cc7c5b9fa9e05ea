"""Benchmark driver.

    python3 perfbench/run.py --workload ml_pipeline --seed 1 --seconds 20 --trace 0

One fresh process per run: set-up (timed), input generation and oracle
digests (untimed), one cold pass, then at least one warm pass, more until
the passes' wall time reaches ``--seconds``. Set-up and each op are
measured in wall time and in CPU time of the engine's whole process tree
(this process, the driver JVM and its Python workers); the end-to-end
metrics are the CPU times, which a busy shared host disturbs about half as
much as wall time.
Every op's output is checked. The last stdout line is the result;
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run, whose three warm passes are untraced, traced,
untraced (see README.md). A record with the per-op detail, wall times
included, and the run's context is written under ``perfbench/.work/results/``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "big_data_computing_final_project_spark"
# the warm pass a traced run traces (its passes: cold, untraced, traced,
# untraced)
TRACED_PASS = 2

END_TO_END = [
    ("setup_s", "s"),
    ("cold_pass_cpu_s", "s"),
    ("pass_cpu_s", "s"),
    ("op_geomean_cpu_s", "s"),
]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def configure(trace: bool, run_dir: str) -> int:
    """Environment for the engine, its Python workers and its JVM, all of it
    pointing inside the benchmark's work directory. Returns the core count."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    for d in (tmp, os.path.join(WORK, "spark-local")):
        os.makedirs(d, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if trace:
        from layers import eventlog_conf

        os.makedirs(os.path.join(run_dir, "eventlog"))
        conf.update(eventlog_conf(os.path.join(run_dir, "eventlog")))
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
            "PYTHONPATH": REPO,
            "TMPDIR": tmp,
            # every JVM would write its perf-data file to the system temp
            # directory, outside the checkout
            "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
            "PYSPARK_SUBMIT_ARGS": " ".join(
                f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
            )
            + " pyspark-shell",
        }
    )
    os.environ.pop("SPARK_MASTER", None)
    return cores


def source_rev() -> dict:
    """The git rev when the tree is a checkout, and always a digest of the
    engine's sources, so a record names the code it measured."""
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(os.path.join(REPO, PACKAGE))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    rev = None
    try:
        top, head = subprocess.run(
            ["git", "-C", REPO, "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        ).stdout.split()
        if os.path.realpath(top) == os.path.realpath(REPO):
            rev = head
    except (OSError, ValueError, subprocess.SubprocessError):
        pass
    return {"git_rev": rev, "source_sha": h.hexdigest()[:16]}


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all its
    descendants: the driver JVM and the Python workers it forks. Children
    that have exited count through their parent's reaped-children times.
    Time the hypervisor steals, or other processes hold the CPU, is not in
    it."""
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:  # the process exited while listing
                continue
            fields = stat[stat.rindex(")") + 2 :].split()
            procs[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    kids = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo += kids.get(pid, [])
    return ticks / os.sysconf("SC_CLK_TCK")


def settle(max_s: float = 10.0) -> float:
    """Wait until the engine is idle: its processes use less than a quarter
    of a core over half a second (the JVM compiles hot code in the
    background for seconds after a pass), or ``max_s`` has passed. Returns
    the seconds waited."""
    t0 = time.perf_counter()
    c = tree_cpu_s()
    while time.perf_counter() - t0 < max_s:
        time.sleep(0.5)
        now = tree_cpu_s()
        if now - c < 0.125:
            break
        c = now
    return time.perf_counter() - t0


def peak_rss_mb(spark) -> float:
    """Peak resident memory (VmHWM) of this process plus the driver JVM."""
    def hwm(pid) -> float:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    jvm = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return hwm("self") + hwm(jvm)


def ready_session():
    """Imports, ``get_spark()`` and a first tiny job; every timing counts from
    process start."""
    from big_data_computing_final_project_spark.plans import all_queries  # noqa: F401
    from big_data_computing_final_project_spark.session import get_spark

    t_import = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t_session = time.perf_counter()
    spark.range(1000).count()
    t_ready = time.perf_counter()
    return spark, {
        "setup_cpu_s": tree_cpu_s(),
        "import_s": t_import - T0,
        "get_spark_s": t_session - t_import,
        "first_job_s": t_ready - t_session,
        "setup_s": t_ready - T0,
    }


def shutdown(spark) -> None:
    """Stop the session and wait until the driver JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the gateway server exits on EOF
        proc.wait(timeout=60)


def run_pass(workload, pass_idx: int, tracer=None) -> tuple[dict, dict, list]:
    """Run one pass; returns ``({op: wall s}, {op: CPU s}, [failures])``. An
    op is its builder call plus collecting its result (or its whole call);
    checks run after, unmeasured, on the collected rows."""
    span = tracer.span if tracer is not None else (lambda *_: nullcontext())
    times, cpu, failures = {}, {}, []
    workload.before_pass()
    for op in workload.ops:
        try:
            c, t = tree_cpu_s(), time.perf_counter()
            with span(op, "build" if op.is_query else "exec", pass_idx):
                df = op.fn()
            if op.is_query:
                with span(op, "exec", pass_idx):
                    rows = df.collect()
            times[op.name] = time.perf_counter() - t
            cpu[op.name] = tree_cpu_s() - c
            if tracer is not None:
                tracer.after_op(op, df, pass_idx, workload.stream)
            problem = op.check(df.columns, rows) if op.is_query else op.check()
        except Exception:  # an op that raises is a failed op; the run goes on
            problem = traceback.format_exc(limit=3)
            times.pop(op.name, None)
            cpu.pop(op.name, None)
        if problem:
            failures.append({"pass": pass_idx, "op": op.name, "problem": problem})
            log(f"FAILED pass {pass_idx} {op.name}: {problem}")
    return times, cpu, failures


def _pass_metrics(passes: list[dict], op_names: list[str]) -> tuple[float, float, dict]:
    """Median pass total, geometric mean of the per-op medians, and those
    per-op medians, over ``passes`` (each ``{op: seconds}``)."""
    op_median = {
        n: statistics.median(p[n] for p in passes if n in p)
        for n in op_names
        if any(n in p for p in passes)
    }
    geomean = math.exp(statistics.fmean(math.log(v) for v in op_median.values()))
    return statistics.median(sum(p.values()) for p in passes), geomean, op_median


def measure(args, trace: bool, run_dir: str) -> dict:
    cores = configure(trace, run_dir)
    sys.path.insert(0, REPO)
    spark, setup = ready_session()
    try:
        from workloads import WORKLOADS

        workload = WORKLOADS[args.workload](spark, WORK, run_dir, args.seed)
        tracer = None
        if trace:
            from layers import Tracer

            tracer = Tracer(spark, cores, os.path.join(run_dir, "eventlog"))
        # the cold pass, then warm passes: at least one, more until the
        # passes' wall time reaches --seconds. A traced run makes exactly
        # three and traces the middle one; the untraced passes on either side
        # are its reference. Each pass starts once the engine is idle.
        min_passes = 4 if trace else 2
        passes, cpu_passes, failures, settled = [], [], [], []
        while len(passes) < min_passes or (
            not trace and sum(sum(p.values()) for p in passes) < args.seconds
        ):
            traced = tracer if len(passes) == TRACED_PASS else None
            settled.append(settle())
            times, cpu, failed = run_pass(workload, len(passes), traced)
            passes.append(times)
            cpu_passes.append(cpu)
            failures += failed
        session = {**setup, "peak_rss_mb": peak_rss_mb(spark)}
        if tracer is not None:
            tracer.close()
    finally:
        shutdown(spark)

    op_names = [op.name for op in workload.ops]
    attempted = len(op_names) * len(passes)
    untraced = [i for i in range(1, len(passes)) if not (trace and i == TRACED_PASS)]
    pass_s, geomean_s, op_median = _pass_metrics([passes[i] for i in untraced], op_names)
    pass_cpu, geomean_cpu, op_cpu = _pass_metrics([cpu_passes[i] for i in untraced], op_names)
    rec = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": int(trace),
        "cpus": cores,
        **source_rev(),
        "session": session,
        "passes": passes,
        "cpu_passes": cpu_passes,
        "settled_s": settled,
        "op_median_s": op_median,
        "op_median_cpu_s": op_cpu,
        "failures": failures,
        "attempted": attempted,
        # end-to-end metrics, over the untraced passes only
        "metrics": {
            "setup_s": setup["setup_cpu_s"],
            "cold_pass_cpu_s": sum(cpu_passes[0].values()),
            "pass_cpu_s": pass_cpu,
            "op_geomean_cpu_s": geomean_cpu,
        },
        # the same set-up and passes in wall time: recorded, not gated (see
        # README.md)
        "wall": {
            "setup_s": setup["setup_s"],
            "cold_pass_s": sum(passes[0].values()),
            "pass_s": pass_s,
            "op_geomean_s": geomean_s,
        },
    }
    if tracer is not None:
        stream = dict(workload.stream)
        if stream:
            stream["drop_bytes"] = sum(
                os.path.getsize(os.path.join(stream["drops"], f))
                for f in os.listdir(stream["drops"])
            )
        layers, per_op = tracer.layer_metrics(
            [TRACED_PASS], session, stream or {"n_docs": 0}, op_names
        )
        layers["trace.overhead_ratio"] = sum(passes[TRACED_PASS].values()) / pass_s
        rec["layers"], rec["per_op_layers"] = layers, per_op
        rec["accounting"] = accounting(
            layers["trace.overhead_ratio"], per_op, [passes[i] for i in untraced]
        )
    return rec


def accounting(overhead: float, per_op: dict, untraced: list[dict]) -> dict:
    """Per op: traced ``build_s + exec_s`` over the op's median untraced time.
    The ratio should lie between 1 and the tracing overhead, give or take the
    op's own spread over the untraced passes ((max - min) / median)."""
    out = {}
    for op, v in per_op.items():
        xs = [p[op] for p in untraced if op in p]
        if not xs:
            continue
        mid = statistics.median(xs)
        ratio = (v["build_s"] + v["exec_s"]) / mid
        tol = (max(xs) - min(xs)) / mid
        lo, hi = min(1.0, overhead) - tol, max(1.0, overhead) + tol
        out[op] = {"ratio": ratio, "tolerance": tol, "within": lo <= ratio <= hi}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ml_pipeline", "stream_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(REPO, PACKAGE)):
        log(f"no {PACKAGE}/ beside {HERE}: run from a checkout of the repository")
        return 2
    sys.path.insert(0, HERE)

    run_dir = os.path.join(WORK, "runs", f"{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        rec = measure(args, bool(args.trace), run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        from layers import PER_LAYER

        metrics = {k: {"value": rec["layers"][k], "unit": u} for k, u in PER_LAYER}
    else:
        metrics = {k: {"value": rec["metrics"][k], "unit": u} for k, u in END_TO_END}

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    out = os.path.join(
        WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(out, "w") as f:
        json.dump(rec, f, indent=1, default=str)
    failed = len({(f["pass"], f["op"]) for f in rec["failures"]})
    if args.trace:
        log(f"tracing overhead (traced pass_s / untraced pass_s): "
            f"{rec['layers']['trace.overhead_ratio']:.3f}")
        outside = {op: a for op, a in rec["accounting"].items() if not a["within"]}
        log(f"build_s + exec_s within the overhead band for "
            f"{len(rec['accounting']) - len(outside)} of {len(rec['accounting'])} ops")
        for op, a in outside.items():
            log(f"  outside: {op} ratio {a['ratio']:.3f} (tolerance {a['tolerance']:.3f})")
    # a summary line, then the result line
    summary = ("seed", "cpus", "git_rev", "source_sha", "metrics", "wall", "op_median_s")
    print(json.dumps({"summary": {k: rec[k] for k in summary}, "record": out}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": rec["attempted"],
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
