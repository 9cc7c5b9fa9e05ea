"""Interleaved A/B of the benchmark of record between two checkouts.

    python3 tools/perfbench_ab.py <dirA> <dirB> --workload W --pairs N --seed0 S

``dirA`` is the base (for example a clone of the parent commit), ``dirB``
the change. Pair ``i`` runs ``perfbench/run.py --workload W --seed S+i
--seconds <run_seconds> --trace 0`` once in each checkout, A first in even
pairs and B first in odd ones, so a drift of the box over the session
falls on both sides alike. Metric names, their direction and
``run_seconds`` come from ``BENCHMARK.json`` in ``dirB``.

For each end-to-end metric it prints both sides' median and inclusive
quartiles, the change of the median, in how many pairs B was better
("wins"), and the gap between the medians against A's interquartile
range. How many warm passes a run makes depends on its wall time, so
the two runs of a pair can take their medians over different counts;
the same summary is printed again over only the pairs whose two runs
drew the same warm-pass count. Then the
failed-op count, attempted ops and warm-pass count of every run, and,
last, one JSON line with every run's values.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    """One benchmark run in ``checkout``: its result line, or a record of
    the failure when the run printed none."""
    proc = subprocess.run(
        [sys.executable, os.path.join(checkout, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    try:
        res = json.loads(lines[-1])
        # the run's record file lists its passes: the cold one, then the
        # warm ones whose median pass_cpu_s is
        record = [json.loads(ln)["record"] for ln in lines if '"record"' in ln][-1]
        with open(record) as f:
            warm_passes = len(json.load(f)["passes"]) - 1
        return {
            "seed": seed,
            "failed": res["failed"],
            "attempted": res["attempted"],
            "warm_passes": warm_passes,
            "metrics": {k: v["value"] for k, v in res["metrics"].items()},
        }
    except (IndexError, KeyError, ValueError, OSError):
        tail = proc.stderr.strip().splitlines()[-5:]
        return {"seed": seed, "failed": None, "attempted": None, "metrics": {},
                "error": f"exit {proc.returncode}: " + " | ".join(tail)}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(runs_a: list[dict], runs_b: list[dict], metrics: list[dict]) -> list[dict]:
    rows = []
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        pairs = [(a["metrics"][name], b["metrics"][name]) for a, b in zip(runs_a, runs_b)
                 if name in a["metrics"] and name in b["metrics"]]
        if not pairs:
            continue
        qa, qb = quartiles([a for a, _ in pairs]), quartiles([b for _, b in pairs])
        gap = qb[1] - qa[1]
        rows.append({
            "metric": name,
            "a": qa,
            "b": qb,
            "change": gap / qa[1] if qa[1] else float("nan"),
            "wins": sum((b < a) if lower else (b > a) for a, b in pairs),
            "pairs": len(pairs),
            "gap_over_a_iqr": abs(gap) / (qa[2] - qa[0]) if qa[2] > qa[0] else float("inf"),
        })
    return rows


def print_summary(runs_a: list[dict], runs_b: list[dict], metrics: list[dict]) -> None:
    for row in summarize(runs_a, runs_b, metrics):
        a, b = row["a"], row["b"]
        print(f"  {row['metric']}: A {a[1]:.3f} ({a[0]:.3f}-{a[2]:.3f}) -> "
              f"B {b[1]:.3f} ({b[0]:.3f}-{b[2]:.3f}), {row['change']:+.1%}, "
              f"wins {row['wins']}/{row['pairs']}, |gap| / A IQR {row['gap_over_a_iqr']:.2f}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("dir_a")
    ap.add_argument("dir_b")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, required=True)
    args = ap.parse_args()
    dirs = {"A": os.path.abspath(args.dir_a), "B": os.path.abspath(args.dir_b)}
    with open(os.path.join(dirs["B"], "BENCHMARK.json")) as f:
        bench = json.load(f)

    runs: dict[str, list[dict]] = {"A": [], "B": []}
    for i in range(args.pairs):
        seed = args.seed0 + i
        for side in ("A", "B") if i % 2 == 0 else ("B", "A"):
            r = run_once(dirs[side], args.workload, seed, bench["run_seconds"])
            runs[side].append(r)
            print(f"pair {i + 1}/{args.pairs} seed {seed} {side}: "
                  + (r.get("error") or f"failed {r['failed']}/{r['attempted']} "
                     + json.dumps(r["metrics"])),
                  file=sys.stderr, flush=True)

    print(f"{args.workload}: {args.pairs} pairs, seeds {args.seed0}-{args.seed0 + args.pairs - 1}; "
          f"A = {dirs['A']}, B = {dirs['B']}; median (q1-q3), wins = pairs where B is better")
    print_summary(runs["A"], runs["B"], bench["end_to_end"])
    equal = [(a, b) for a, b in zip(runs["A"], runs["B"])
             if a.get("warm_passes") is not None and a.get("warm_passes") == b.get("warm_passes")]
    print(f"equal warm-pass pairs only: {len(equal)} of {args.pairs}")
    print_summary([a for a, _ in equal], [b for _, b in equal], bench["end_to_end"])
    for side in ("A", "B"):
        print(f"  {side} failed per run: {[r['failed'] for r in runs[side]]}, "
              f"attempted: {sorted({r['attempted'] for r in runs[side]}, key=str)}, "
              f"warm passes per run: {[r.get('warm_passes') for r in runs[side]]}")
    print(json.dumps({"workload": args.workload, "seed0": args.seed0, "runs": runs}))
    return 0 if all(r["failed"] == 0 for side in runs.values() for r in side) else 1


if __name__ == "__main__":
    sys.exit(main())
