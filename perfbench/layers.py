"""Per-layer measurement for the traced run, from outside the engine.

The traced run turns on Spark's uncompressed event log (through the
benchmark's own ``PYSPARK_SUBMIT_ARGS``) and records a time window for each
op phase it drives: ``build`` (the builder call), ``exec`` (collecting the
result, or the whole call of a call op). Every job, task and SQL execution
in the event log is attributed to the window its start time falls in. Each
window is also tagged as a job group so the log reads by op. Catalyst phase
times come from the DataFrame's ``QueryPlanningTracker``; streaming batch
times from a ``StreamingQueryListener``.
"""

from __future__ import annotations

import bisect
import json
import os
import statistics
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

# (name, unit) of every per-layer metric, in BENCHMARK.json order
PER_LAYER = [
    ("session.get_spark_s", "s"),
    ("session.first_job_s", "s"),
    ("session.peak_rss_mb", "MB"),
    ("plans.build_s", "s"),
    ("plans.build_jobs", "count"),
    ("plans.build_job_s", "s"),
    ("plans.build_py_s", "s"),
    ("ml.fit_s", "s"),
    ("ml.fit_jobs", "count"),
    ("ml.fit_core_busy", "ratio"),
    ("catalyst.analysis_ms", "ms"),
    ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("exec.exec_s", "s"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.task_s", "s"),
    ("exec.task_cpu_s", "s"),
    ("exec.gc_s", "s"),
    ("exec.core_busy", "ratio"),
    ("exec.shuffle_write_bytes", "bytes"),
    ("exec.shuffle_read_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"),
    ("exec.failed_tasks", "count"),
    ("sources.input_bytes", "bytes"),
    ("sources.input_rows", "count"),
    ("sources.files_read", "count"),
    ("operators.python_rows", "count"),
    ("operators.python_bytes", "bytes"),
    ("operators.sql_timing_ms", "ms"),
    ("streaming.batches", "count"),
    ("streaming.trigger_ms_p50", "ms"),
    ("streaming.add_batch_ms_p50", "ms"),
    ("streaming.commit_ms_p50", "ms"),
    ("streaming.rows_per_s", "1/s"),
    ("streaming.ingest_docs_per_s", "1/s"),
    ("streaming.fold_s", "s"),
    ("streaming.compact_s", "s"),
    ("streaming.store_bytes", "bytes"),
    ("streaming.store_files", "count"),
    ("streaming.write_amp", "ratio"),
    ("streaming.compact_bytes_rewritten", "bytes"),
    ("streaming.store_files_after_compact", "count"),
    ("streaming.fold_jobs", "count"),
    ("trace.overhead_ratio", "ratio"),
]

_CATALYST = {"analysis": "analysis_ms", "optimization": "optimization_ms", "planning": "planning_ms"}
_PY_NODE_HINTS = ("Python", "Arrow", "Pandas")


def eventlog_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
    }


class _Progress(StreamingQueryListener):
    """Collects every micro-batch's ``durationMs`` and input row count."""

    def __init__(self):
        self.batches: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.batches.append(
            {"batch_id": p.batchId, "rows": p.numInputRows, "ms": dict(p.durationMs)}
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _parquet_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


_ACC_KEYS = (
    "jobs", "stages", "tasks", "task_s", "task_cpu_s", "gc_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "failed_tasks", "input_bytes", "input_rows",
    "files_read", "python_rows", "python_bytes", "sql_timing_ms", "job_s",
)


class _Window:
    """One op phase of one pass: wall-clock bounds (epoch ms) and the event
    log counters attributed to it."""

    __slots__ = ("op", "phase", "pass_idx", "is_ml", "start", "end", "acc")

    def __init__(self, op, phase, pass_idx, is_ml, start):
        self.op, self.phase, self.pass_idx, self.is_ml = op, phase, pass_idx, is_ml
        self.start, self.end = start, None
        self.acc: dict = dict.fromkeys(_ACC_KEYS, 0.0)

    @property
    def wall(self) -> float:
        return (self.end - self.start) / 1000.0


class Tracer:
    """Records op windows, Catalyst phases and stream progress during the run;
    ``layer_metrics`` turns them and the event log into per-layer numbers."""

    def __init__(self, spark, cores: int, log_dir: str):
        self.spark, self.cores, self.log_dir = spark, cores, log_dir
        self.windows: list[_Window] = []
        self.catalyst: dict[tuple[int, str], dict[str, float]] = {}
        self.progress = _Progress()
        spark.streams.addListener(self.progress)
        self.store_snaps: dict[int, dict[str, dict[str, int]]] = {}

    @contextmanager
    def span(self, op, phase: str, pass_idx: int):
        sc = self.spark.sparkContext
        sc.setJobGroup(f"pass{pass_idx}:{op.name}:{phase}", f"{op.name} {phase}")
        w = _Window(op.name, phase, pass_idx, op.is_ml, time.time() * 1000.0)
        try:
            yield
        finally:
            w.end = time.time() * 1000.0
            self.windows.append(w)
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def after_op(self, op, df, pass_idx: int, stream: dict) -> None:
        """After an op: a query's Catalyst phases (its collect ran on the
        DataFrame's own query execution, so the tracker holds the phases
        that ran), and the stream stores' files after ingest and after
        compaction."""
        if op.is_query:
            phases = df._jdf.queryExecution().tracker().phases()
            got = {}
            for phase, key in _CATALYST.items():
                opt = phases.get(phase)
                got[key] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
            self.catalyst[(pass_idx, op.name)] = got
        if not stream:
            return
        if op.name == "ingest":
            self.store_snaps.setdefault(pass_idx, {})["ingest"] = _parquet_files(stream["root"])
        elif op.name.startswith("compact."):
            self.store_snaps.setdefault(pass_idx, {})["compact"] = _parquet_files(stream["root"])

    def close(self) -> None:
        self.spark.streams.removeListener(self.progress)

    # -- event log -----------------------------------------------------------

    def _events(self):
        files = []
        for d, _, names in os.walk(self.log_dir):
            for n in names:
                if not n.startswith(".") and not n.startswith("appstatus"):
                    files.append(os.path.join(d, n))

        def order(p):  # rolling logs: events_<index>_<app id>
            parts = os.path.basename(p).split("_")
            return int(parts[1]) if len(parts) > 2 and parts[1].isdigit() else 0

        for p in sorted(files, key=order):
            with open(p) as f:
                for line in f:
                    yield json.loads(line)

    def _attribute(self) -> list[dict]:
        """Fold the event log into the op windows; returns node timing records
        as ``{"window", "node", "ms"}`` for the informational breakdown."""
        ws = sorted(self.windows, key=lambda w: w.start)
        starts = [w.start for w in ws]

        def window_at(ms):
            i = bisect.bisect_right(starts, ms) - 1
            if i >= 0 and ms <= ws[i].end:
                return ws[i]
            return None

        accums: dict[int, tuple[str, str, str, int]] = {}  # id -> (node, metric, type, node key)
        exec_window: dict[int, _Window] = {}
        accum_sum: dict[tuple[int, int], float] = {}  # (window idx, accum id) -> value
        widx = {id(w): i for i, w in enumerate(ws)}
        jobs_open: dict[int, tuple[_Window, float]] = {}
        node_key = [0]

        def add_plan(info):
            node_key[0] += 1
            k = node_key[0]
            for m in info.get("metrics", []):
                accums[m["accumulatorId"]] = (info["nodeName"], m["name"], m["metricType"], k)
            for c in info.get("children", []):
                add_plan(c)

        def add_accum(w, aid, v):
            # the log writes SQL metric values of task accumulables as strings
            if w is None or aid not in accums:
                return
            try:
                v = float(v)
            except (TypeError, ValueError):
                return
            key = (widx[id(w)], aid)
            accum_sum[key] = accum_sum.get(key, 0.0) + v

        for ev in self._events():
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                w = window_at(ev["Submission Time"])
                if w is not None:
                    w.acc["jobs"] += 1
                    jobs_open[ev["Job ID"]] = (w, ev["Submission Time"])
            elif kind == "SparkListenerJobEnd":
                opened = jobs_open.pop(ev["Job ID"], None)
                if opened is not None:
                    w, t0 = opened
                    w.acc.setdefault("job_spans", []).append((t0, ev["Completion Time"]))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                w = window_at(info.get("Submission Time", -1))
                if w is not None:
                    w.acc["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                ti = ev["Task Info"]
                w = window_at(ti["Launch Time"])
                if w is None:
                    continue
                a = w.acc
                a["tasks"] += 1
                if ev["Task End Reason"]["Reason"] != "Success":
                    a["failed_tasks"] += 1
                tm = ev.get("Task Metrics") or {}
                a["task_s"] += tm.get("Executor Run Time", 0) / 1000.0
                a["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                a["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                a["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                sw = tm.get("Shuffle Write Metrics") or {}
                a["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                im = tm.get("Input Metrics") or {}
                a["input_bytes"] += im.get("Bytes Read", 0)
                a["input_rows"] += im.get("Records Read", 0)
                for acc in ti.get("Accumulables", []):
                    add_accum(w, acc.get("ID"), acc.get("Update"))
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                add_plan(ev["sparkPlanInfo"])
                w = window_at(ev["time"])
                if w is not None:
                    exec_window[ev["executionId"]] = w
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                add_plan(ev["sparkPlanInfo"])
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                w = exec_window.get(ev["executionId"])
                for aid, v in ev["accumUpdates"]:
                    add_accum(w, aid, v)

        nodes: dict[tuple[int, int], dict] = {}
        for (wi, aid), v in accum_sum.items():
            node, metric, mtype, k = accums[aid]
            a = ws[wi].acc
            if metric == "number of files read":
                a["files_read"] += v
            if any(h in node for h in _PY_NODE_HINTS):
                if metric == "number of output rows":
                    a["python_rows"] += v
                elif metric == "data sent to Python workers":
                    a["python_bytes"] += v
            if mtype in ("timing", "nsTiming"):
                ms = v / 1e6 if mtype == "nsTiming" else v
                a["sql_timing_ms"] += ms
                rec = nodes.setdefault((wi, k), {"window": ws[wi], "node": node, "ms": 0.0})
                rec["ms"] += ms
        for w in ws:
            spans = sorted(w.acc.pop("job_spans", []))
            covered, reach = 0.0, float("-inf")
            for s, e in spans:
                s = max(s, reach)
                if e > s:
                    covered += e - s
                    reach = e
            w.acc["job_s"] = covered / 1000.0
        return list(nodes.values())

    # -- metrics ---------------------------------------------------------------

    def layer_metrics(self, warm: list[int], session: dict, stream: dict, ops_order: list[str]):
        """Per-layer metrics as medians over the warm passes, plus the per-op
        record. ``session`` carries the set-up timings and peak RSS."""
        nodes = self._attribute()
        by_pass: dict[int, list[_Window]] = {}
        for w in self.windows:
            by_pass.setdefault(w.pass_idx, []).append(w)

        def pass_values(p: int) -> dict[str, float]:
            ws = by_pass.get(p, [])
            build = [w for w in ws if w.phase == "build"]
            ex = [w for w in ws if w.phase == "exec"]
            ml = [w for w in build if w.is_ml]

            def total(group, key):
                return float(sum(w.acc[key] for w in group))

            build_s = float(sum(w.wall for w in build))
            fit_s = float(sum(w.wall for w in ml))
            exec_s = float(sum(w.wall for w in ex))
            v = {
                "plans.build_s": build_s,
                "plans.build_jobs": total(build, "jobs"),
                "plans.build_job_s": total(build, "job_s"),
                "plans.build_py_s": build_s - total(build, "job_s"),
                "ml.fit_s": fit_s,
                "ml.fit_jobs": total(ml, "jobs"),
                "ml.fit_core_busy": total(ml, "task_s") / (fit_s * self.cores) if fit_s else 0.0,
                "exec.exec_s": exec_s,
                "exec.core_busy": total(ex, "task_s") / (exec_s * self.cores) if exec_s else 0.0,
            }
            for key in ("jobs", "stages", "tasks", "task_s", "task_cpu_s", "gc_s",
                        "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                        "failed_tasks"):
                v[f"exec.{key}"] = total(ex, key)
            for key in ("input_bytes", "input_rows", "files_read"):
                v[f"sources.{key}"] = total(ws, key)
            for key in ("python_rows", "python_bytes", "sql_timing_ms"):
                v[f"operators.{key}"] = total(ws, key)
            for key in _CATALYST.values():
                v[f"catalyst.{key}"] = sum(
                    c[key] for (pi, _), c in self.catalyst.items() if pi == p
                )
            folds = [w for w in ws if w.op.startswith(("fold.", "refold."))]
            v["streaming.fold_jobs"] = total(folds, "jobs")
            v["streaming.fold_s"] = float(sum(w.wall for w in folds))
            v["streaming.compact_s"] = float(
                sum(w.wall for w in ws if w.op.startswith("compact."))
            )
            ingest = [w.wall for w in ws if w.op == "ingest"]
            v["streaming.ingest_docs_per_s"] = stream["n_docs"] / ingest[0] if ingest else 0.0
            snaps = self.store_snaps.get(p, {})
            before, after = snaps.get("ingest", {}), snaps.get("compact", {})
            v["streaming.store_bytes"] = float(sum(before.values()))
            v["streaming.store_files"] = float(len(before))
            v["streaming.write_amp"] = (
                v["streaming.store_bytes"] / stream["drop_bytes"] if before else 0.0
            )
            v["streaming.compact_bytes_rewritten"] = float(
                sum(s for f, s in after.items() if f not in before)
            )
            v["streaming.store_files_after_compact"] = float(len(after))
            return v

        per_pass = [pass_values(p) for p in warm]
        out = {k: statistics.median(pv[k] for pv in per_pass) for k in per_pass[0]}

        # micro-batches: split the listener's sequence at each batch 0 (every
        # pass starts from a fresh checkpoint); pool the warm passes' batches
        runs: list[list[dict]] = []
        for b in self.progress.batches:
            if b["batch_id"] == 0 or not runs:
                runs.append([])
            runs[-1].append(b)
        pooled = [b for i, r in enumerate(runs) if i in warm for b in r if b["rows"] > 0]

        def p50(key):
            xs = [b["ms"].get(key, 0) for b in pooled]
            return float(statistics.median(xs)) if xs else 0.0

        trig_s = sum(b["ms"].get("triggerExecution", 0) for b in pooled) / 1000.0
        out.update(
            {
                "streaming.batches": float(len(pooled)) / len(warm),
                "streaming.trigger_ms_p50": p50("triggerExecution"),
                "streaming.add_batch_ms_p50": p50("addBatch"),
                "streaming.commit_ms_p50": p50("commitOffsets"),
                "streaming.rows_per_s": sum(b["rows"] for b in pooled) / trig_s if trig_s else 0.0,
                "session.get_spark_s": session["get_spark_s"],
                "session.first_job_s": session["first_job_s"],
                "session.peak_rss_mb": session["peak_rss_mb"],
            }
        )

        # per-op record: medians over warm passes of each op's own layers
        per_op = {}
        for name in ops_order:
            rows = []
            for p in warm:
                ws = [w for w in by_pass.get(p, []) if w.op == name]
                b = [w for w in ws if w.phase == "build"]
                e = [w for w in ws if w.phase == "exec"]
                cat = self.catalyst.get((p, name), {})
                top = sorted(
                    (n for n in nodes if n["window"] in ws), key=lambda n: -n["ms"]
                )[:3]
                rows.append(
                    {
                        "build_s": sum(w.wall for w in b),
                        "build_jobs": sum(w.acc["jobs"] for w in b),
                        "build_job_s": sum(w.acc["job_s"] for w in b),
                        "exec_s": sum(w.wall for w in e),
                        **{f"exec_{k}": sum(w.acc[k] for w in e) for k in
                           ("jobs", "stages", "tasks", "task_s", "shuffle_write_bytes",
                            "shuffle_read_bytes", "spill_bytes")},
                        **{k: sum(w.acc[k] for w in ws) for k in
                           ("input_bytes", "input_rows", "files_read", "python_rows",
                            "python_bytes")},
                        **cat,
                        "top_nodes": [(n["node"], round(n["ms"], 1)) for n in top],
                    }
                )
            rec = {k: statistics.median(r[k] for r in rows) for k in rows[0] if k != "top_nodes"}
            rec["top_nodes_last_pass"] = rows[-1]["top_nodes"]
            node_ms: dict[str, float] = {}
            for n in nodes:
                if n["window"].op == name and n["window"].pass_idx in warm:
                    node_ms[n["node"]] = node_ms.get(n["node"], 0.0) + n["ms"] / len(warm)
            rec["node_type_ms"] = dict(sorted(node_ms.items(), key=lambda kv: -kv[1]))
            per_op[name] = rec
        return out, per_op
