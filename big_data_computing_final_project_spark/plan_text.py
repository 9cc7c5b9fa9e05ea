"""Normalized physical-plan text and fingerprints.

One normalizer shared by the snapshot archive (tools/snapshot_plans.py,
tests/test_plan_snapshots.py) and bench.py's per-query ``plan_sha`` field,
so "same plan, slower clock" is machine-distinguishable from a real plan
regression: an ambient ~20% slowdown must never read as a 2x gate failure
— the fingerprint proves the physical plan did not move while the wall
clock did.

Normalization strips everything that legitimately differs run-to-run or
machine-to-machine: expression/plan/RDD ids, JIT call sites, the SF
directory, lambda counters, huge collected-state literal arrays (bloom
bitmaps), and what follows the core count: partition and split counts, and
in caches materialized at build time, the run-time stage sizes and the
coalescing reads AQE adds.
"""

from __future__ import annotations

import hashlib
import io
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def normalize_plan(plan: str) -> str:
    plan = re.sub(r"/root/testdata/sf[0-9.]+", "<SF_DIR>", plan)
    plan = re.sub(r"#\d+L?", "#N", plan)  # expression ids differ run-to-run
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    plan = re.sub(r"RDD\[\d+\]", "RDD[N]", plan)  # RDD ids depend on job history
    plan = re.sub(r"lambda ([a-z]+)_\d+", r"lambda \1_N", plan)  # session-global counter
    plan = re.sub(r" at \S+:\d+", " at <SITE>:0", plan)  # call-site string is JIT-dependent
    # collected-state literals (e.g. bloom bitmap word arrays) are data-dependent
    plan = re.sub(r"\[[0-9,\- ]{500,}\]", "<LIT_ARRAY>", plan)
    # partition and split counts follow the core count (shuffle.partitions,
    # default parallelism), so the same code prints a different plan per box
    plan = re.sub(r", \d+\)(, (?:ENSURE_REQUIREMENTS|REPARTITION_BY_|REBALANCE_PARTITIONS_BY_))", r", N)\1", plan)
    plan = re.sub(r"RoundRobinPartitioning\(\d+\)", "RoundRobinPartitioning(N)", plan)
    plan = re.sub(r"splits=Some\(\d+\)", "splits=Some(N)", plan)
    # run-time sizes of materialized query stages (partial aggregates emit
    # one row per group per partition)
    plan = re.sub(r"Statistics\(sizeInBytes=[^)]*\)", "Statistics(N)", plan)
    return _drop_coalescing_reads(plan)


def _drop_coalescing_reads(plan: str) -> str:
    """Remove the ``AQEShuffleRead`` nodes from the final plans of caches a
    builder materialized: AQE adds one only when the shuffle's partitions
    are smaller than its target size, which follows the partition count.
    The node's child takes its place in the tree, its details block goes,
    and the operator ids after it close up."""
    if "AQEShuffleRead" not in plan:
        return plan
    lines = plan.split("\n")
    dropped: set[int] = set()
    out: list[str] = []
    i = 0
    while i < len(lines):
        if re.match(r"\(\d+\) AQEShuffleRead$", lines[i]):  # details, to its blank line
            while i < len(lines) and lines[i]:
                i += 1
            i += 1
            continue
        node = re.search(r"[+:]- AQEShuffleRead \((\d+)\)$", lines[i])
        if not node:
            out.append(lines[i])
            i += 1
            continue
        dropped.add(int(node.group(1)))
        col, marker = node.start(), lines[i][node.start() : node.start() + 3]
        i += 1
        # the single child sits 3 columns deeper; its subtree's lines carry
        # a continuation (blank or ':') where the dropped node's marker was
        child = True
        while i < len(lines) and len(lines[i]) > col + 3 and lines[i][col + 1 : col + 3] == "  ":
            ln = lines[i]
            out.append(ln[:col] + marker + ln[col + 6 :] if child else ln[: col + 3] + ln[col + 6 :])
            child = False
            i += 1

    # operator ids: tree nodes, details headers, and references to a node
    ids = (
        r"(?<= \()\d+(?=\)$|\), Statistics\()|(?<=^\()\d+(?=\) )"
        r"|(?:(?<=Reuses operator id: )|(?<=Hosting operator id = ))\d+"
    )
    return re.sub(
        ids, lambda m: str(int(m[0]) - sum(d < int(m[0]) for d in dropped)), "\n".join(out), flags=re.M
    )


def plan_text(df: DataFrame) -> str:
    """Normalized ``explain(mode="formatted")`` output of ``df``."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode="formatted")
    return normalize_plan(buf.getvalue())


def plan_fingerprint(df: DataFrame) -> str:
    """Short stable hash of the normalized physical plan (12 hex chars —
    enough to diff across rounds, short enough for one bench JSON line)."""
    return hashlib.sha256(plan_text(df).encode()).hexdigest()[:12]


# --- pure-plan query registry (shared by tests/test_plan_snapshots.py and
# bench.py) -----------------------------------------------------------------
#
# PLAN_ONLY: queries whose builder runs NO Spark job — their fresh-build
# physical plan is a pure function of code + static stats, so exact plan
# text (and any hash over it) is comparable across sessions, boxes, and
# session histories. Everything else (ML fits, iterative loops,
# localCheckpoint materialization, collected sketch state) builds a plan
# that can legitimately differ with session history — q36's fresh-build
# plan has 88 nodes in a bare session but 106 after one in-session
# execution (cached shared LSH state changes the downstream plan), with
# all 247 snapshot pins still green. Cross-run aggregates must therefore
# hash ONLY this subset.
#
# UNSTABLE: multi-COUNT(DISTINCT) Expand rewrites order their column lists
# nondeterministically across sessions (ExpressionSet iteration) — same
# plan, shuffled projection order — so exact text comparison is excluded.

PLAN_ONLY = {
    *(f"q{i:02d}" for i in range(1, 35)),
    "q38", "q41", "q42", "q43", "q51", "q52", "q53", "q54", "q55", "q56",
    "q57", "q58", "q59", "q63", "q65", "q66", "q67", "q69", "q70", "q71",
    "q73", "q75", "q76", "q77", "q78", "q79", "q80", "q81", "q82", "q83",
    "q84", "q85", "q86", "q87", "q88", "q89", "q90", "q91", "q92", "q93",
    "q94", "q95", "q96", "q97", "q98", "q99", "q100", "q102", "q103", "q123",
    "q104", "q105", "q106", "q107", "q108", "q109", "q110", "q111", "q112", "q134",
    "q113", "q114", "q115", "q116", "q117", "q118", "q119", "q120", "q121",
    "q135", "q136", "q137", "q138", "q139", "q140", "q141", "q142", "q143", "q144",
    "q125", "q126", "q127", "q128", "q129", "q130", "q131", "q132", "q133", "q145", "q146", "q147", "q148", "q149", "q150",
    "q151", "q152", "q153", "q154", "q155", "q157", "q158", "q160",
    "q161", "q162", "q163", "q164", "q165", "q166", "q167", "q168", "q169",
    "q170", "q171", "q172", "q173", "q176", "q177", "q178", "q179", "q180",
    "q181", "q182", "q183", "q184", "q185", "q186", "q187", "q188", "q189",
    "q191", "q195", "q196", "q197", "q198", "q203",
    "q204", "q206", "q207", "q208", "q209", "q210", "q211", "q212", "q213", "q214", "q215", "q216", "q217", "q218",
    "q219", "q220", "q221", "q223", "q224", "q227", "q228", "q230",
}
# q225 left out: its posting frame localCheckpoints at build
# time (two-consumer materialization), so the snapshot tool owns its pin.

# q173: five COUNT(DISTINCT)s; q235: two — the same Expand rewrite
UNSTABLE = {"q60", "q173", "q235"}


def pinned(name: str) -> bool:
    """Whether a query's plan text is archived and compared: PLAN_ONLY and
    not UNSTABLE (tests/test_plan_snapshots.py, bench.py's plans_sha and
    tools/snapshot_plans.py's default set)."""
    prefix = name.split("_")[0]
    return prefix in PLAN_ONLY and prefix not in UNSTABLE

# STATE_DEPENDENT: headline queries whose fresh-build plan depends on
# SESSION state, not just code + SF — q64/q222 read the session quantizer
# cache (the plan contains an InMemoryRelation only if another call fit
# and materialized the assignment frame earlier in the session), q225
# localCheckpoints its posting frame at build time. Pinning their exact
# plan text in a shared pytest session is order-dependent,
# so the sf0.1 headline pin skips them; tools/snapshot_plans.py (fresh
# session, deterministic order) writes their sf0.1 archive.
STATE_DEPENDENT = {"q64", "q222", "q225", "q232"}  # q232 rides q225's checkpoint
