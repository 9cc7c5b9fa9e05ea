"""Physical-plan snapshot regression: every covered query's normalized
``explain(formatted)`` output must match the committed archive in
``plans_snapshot/`` (regenerate deliberately with tools/snapshot_plans.py).

test_plan_shape.py asserts a handful of named properties (broadcast, top-k,
pushdown); this test pins the ENTIRE plan, so any silent change — a new
exchange, a widened ReadSchema, a lost partial aggregate — fails loudly
with a plan diff instead of shipping as a 100×-at-scale surprise.

Queries whose builders execute Spark jobs at plan time (ML fits, iterative
graph/k-means loops, localCheckpoint materialization) are left to the
snapshot tool; this test covers the pure-plan queries, built against the
same sf0.01 the archive was generated from (plan shape can legitimately
depend on input statistics, so the SF must match).
"""

from __future__ import annotations

import difflib
import os

import pytest

from big_data_computing_final_project_spark.plan_text import (
    STATE_DEPENDENT,
    normalize_plan,
    pinned,
    plan_text,
)
from big_data_computing_final_project_spark.plans import all_queries

SNAP_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans_snapshot")
SNAP_SF_DIR = "/root/testdata/sf0.01"

# plan_text.pinned is shared with bench.py, so its cross-run plans_sha
# hashes exactly the subset this test pins.


def _snapshot_cases() -> list[str]:
    return sorted(name for name in all_queries() if pinned(name))


@pytest.mark.parametrize("name", _snapshot_cases())
def test_plan_matches_snapshot(spark, name):
    path = os.path.join(SNAP_DIR, f"{name}.txt")
    assert os.path.exists(path), f"missing snapshot {path}; run tools/snapshot_plans.py"
    df = all_queries()[name](spark, SNAP_SF_DIR)
    got = plan_text(df)
    with open(path) as f:
        # the archive predates some normalizations (core-count literals);
        # normalizing is idempotent, so re-applying it is safe
        want = normalize_plan(f.read())
    if got != want:
        diff = "\n".join(
            difflib.unified_diff(want.splitlines(), got.splitlines(), "snapshot", "current", lineterm="")
        )
        pytest.fail(f"physical plan for {name} changed:\n{diff[:4000]}")


# --- sf0.1 headline pins (VERDICT r4 item 6) -------------------------------
# test_plan_matches_snapshot pins every query at the sf0.01 gate SF, but
# bench.py runs at sf0.1, where size estimates and AQE thresholds can
# legitimately flip join strategies. These pins freeze the bench set's
# broadcast/shuffle decisions at the bench SF, so an estimate-threshold
# drift (e.g. a broadcast_if_small flip) surfaces as a plan diff instead
# of an unexplained timing anomaly. Queries that execute jobs at
# plan-build time (q100's sketch candidates, q101's bloom bitmap) are
# deterministic per SF, so their plans pin too.

SNAP01_DIR = os.path.join(os.path.dirname(SNAP_DIR), "plans_snapshot", "sf0.1")
SNAP01_SF_DIR = "/root/testdata/sf0.1"


def _headline_cases() -> list[str]:
    from bench import HEADLINE

    # STATE_DEPENDENT builds (session quantizer cache, build-time
    # localCheckpoint) produce plans that vary with pytest execution
    # order — exact-text pins for them would be order-dependent flakes
    # (ADVICE r10); the snapshot tool owns their archives.
    return sorted(
        n
        for n in HEADLINE
        if n in all_queries() and n.split("_")[0] not in STATE_DEPENDENT
    )


@pytest.mark.parametrize("name", _headline_cases())
def test_headline_plan_matches_sf01_snapshot(spark, name):
    path = os.path.join(SNAP01_DIR, f"{name}.txt")
    assert os.path.exists(path), (
        f"missing snapshot {path}; run tools/snapshot_plans.py "
        f"{SNAP01_SF_DIR} plans_snapshot/sf0.1 <headline names>"
    )
    df = all_queries()[name](spark, SNAP01_SF_DIR)
    got = plan_text(df)
    with open(path) as f:
        want = normalize_plan(f.read())
    if got != want:
        diff = "\n".join(
            difflib.unified_diff(want.splitlines(), got.splitlines(), "snapshot", "current", lineterm="")
        )
        pytest.fail(f"sf0.1 physical plan for {name} changed:\n{diff[:4000]}")
