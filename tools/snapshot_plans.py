"""Archive the compared queries' physical plans for plan-diff review.

Writes ``plans_snapshot/<query>.txt`` (explain mode=formatted, scan paths
normalized so snapshots are SF-independent) for every query
tests/test_plan_snapshots.py compares (plan_text.pinned: the pure-plan
queries); a query whose builder runs jobs has a plan that varies with
session history, so no archive of it is kept. Re-run after a refactor and
`git diff plans_snapshot/` shows exactly which physical plans moved —
catching regressions subtler than the assertions in test_plan_shape.py
(a lost broadcast, a new exchange, a widened ReadSchema). Naming queries
writes exactly those instead (the sf0.1 headline archive).

Usage:  python tools/snapshot_plans.py [sf_dir] [out_dir] [query ...]

Exits 1 when any requested query fails to build (its archive is left as
it was).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from big_data_computing_final_project_spark.plan_text import pinned, plan_text  # noqa: E402
from big_data_computing_final_project_spark.plans import all_queries  # noqa: E402
from big_data_computing_final_project_spark.session import get_spark  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "plans_snapshot"
    only = set(sys.argv[3:])  # explicit query names; default: the pinned set
    os.makedirs(out_dir, exist_ok=True)
    queries = all_queries()
    failed = sorted(only - set(queries))
    for name in failed:
        print(f"ERROR {name}: no such query")
    spark = get_spark("plan-snapshot")
    spark.sparkContext.setLogLevel("ERROR")
    for name, fn in sorted(queries.items()):
        wanted = name in only if only else pinned(name)
        if not wanted:
            continue
        try:
            text = plan_text(fn(spark, sf_dir))
        except Exception as e:
            print(f"ERROR {name}: {e}")
            failed.append(name)
            continue
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(text)
        print(f"ok    {name}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
