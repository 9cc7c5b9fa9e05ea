"""Physical-plan shape regression tests.

Correctness tests say *what* each query returns; these say *how* — the plan
properties that make the same code viable at 100 TB:

- filters/projections reach the parquet scan (PushedFilters / ReadSchema);
- dimension joins broadcast instead of shuffling the fact side;
- top-k compiles to TakeOrderedAndProject, not a global sort;
- no query anywhere falls back to row-at-a-time Python (BatchEvalPython)
  or an unbroadcast cartesian product.

A refactor that silently loses one of these still passes the value-hash
oracle at sf0.01 but regresses by orders of magnitude at scale; this file
is the guard.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

from big_data_computing_final_project_spark.plans import all_queries


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_q01_pushdown_and_pruned_scan(spark, sf_dir):
    df = all_queries()["q01_pricing_summary"](spark, sf_dir)
    plan = plan_of(df)
    # the shipdate predicate must reach the parquet reader
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the scan reads the 7 needed columns, not all 16
    read_schema = next(ln for ln in plan.splitlines() if "ReadSchema" in ln)
    assert read_schema.count(":") - 1 == 7, read_schema
    assert "l_comment" not in read_schema


def test_q01_partial_aggregation(spark, sf_dir):
    plan = plan_of(all_queries()["q01_pricing_summary"](spark, sf_dir))
    # partial (map-side) + final HashAggregate around one exchange
    assert plan.count("HashAggregate") >= 2


def test_q01_whole_stage_codegen(spark, sf_dir):
    # under AQE codegen spans exist only in the executed plan, so run the
    # query (tiny at test SF) and inspect the final physical plan
    df = all_queries()["q01_pricing_summary"](spark, sf_dir)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    # codegen'd operators carry the "*(stageId)" prefix in the plan string
    assert "*(" in executed, executed[:500]


def test_q03_star_join_broadcasts_dims(spark, sf_dir):
    plan = plan_of(all_queries()["q03_star_join_revenue"](spark, sf_dir))
    # region/nation/customer/supplier sides broadcast; the lineitem fact
    # side must never be on the build side of a shuffle for a dim join
    assert "BroadcastHashJoin" in plan
    assert "BroadcastExchange" in plan


def test_q06_topk_uses_take_ordered(spark, sf_dir):
    plan = plan_of(all_queries()["q06_topk_customers"](spark, sf_dir))
    # ORDER BY + LIMIT k must compile to per-partition top-k + merge,
    # not a full global Sort
    assert "TakeOrderedAndProject" in plan


def test_q58_dim_join_broadcasts(spark, sf_dir):
    plan = plan_of(all_queries()["q58_brand_revenue"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


@pytest.mark.parametrize("name", sorted(all_queries()))
def test_no_python_row_udf_or_cartesian(spark, sf_dir, name):
    """Sweep every registered query: the hot path stays JVM-side.

    BatchEvalPython = row-at-a-time Python UDF (the slow path SURVEY §2.9
    forbids); Arrow-batched paths (ArrowEvalPython, MapInPandas,
    FlatMapGroupsInPandas) are the sanctioned escape hatch and remain
    allowed. CartesianProduct = an unbroadcast cross join — O(n*m) shuffle;
    1-row broadcast joins compile to BroadcastNestedLoopJoin instead, which
    is fine.
    """
    df = all_queries()[name](spark, sf_dir)
    plan = plan_of(df, mode="simple")
    assert "BatchEvalPython" not in plan, f"{name} fell back to row-at-a-time Python"
    assert "CartesianProduct" not in plan, f"{name} plans an unbroadcast cross join"


def test_q135_topk_uses_take_ordered(spark, sf_dir):
    plan = plan_of(all_queries()["q135_shipping_priority"](spark, sf_dir))
    # the Q3 shape's LIMIT 10 must compile to per-partition top-k + merge
    assert "TakeOrderedAndProject" in plan


def _broadcast_subtrees(plan: str) -> list[str]:
    """Each BroadcastExchange's subtree (the rows that get collected to the
    driver and shipped to every executor), extracted by tree indentation."""
    lines = plan.splitlines()
    out = []
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        indent = max(ln.find("+-"), ln.find(":-"))
        sub = []
        for nxt in lines[i + 1 :]:
            pos = max(nxt.find("+-"), nxt.find(":-"))
            if pos != -1 and pos <= indent:
                break
            sub.append(nxt)
        out.append("\n".join(sub))
    return out


def test_q40_rescore_never_broadcasts_embeddings_table(spark, sf_dir):
    """VERDICT r3 item 2 / r5 item 1: nothing in q40 may be FORCE-broadcast.
    In the dense regime (the 0.4 gate threshold) the candidate set is ~all
    rep pairs — corpus-scale, a guaranteed driver OOM if hinted onto a
    broadcast (caught by the 10x stress: 6 tasks x 170 MiB serialized
    results) — and the embeddings table never fits either. Catalyst/AQE
    may still size-gate small sides at gate SFs — adaptive and scale-safe
    — but the builder must leave every join strategy to the planner."""
    df = all_queries()["q40_embedding_near_dup"](spark, sf_dir)
    logical = str(df._jdf.queryExecution().optimizedPlan())
    lines = [ln for ln in logical.splitlines() if "strategy=broadcast" in ln]
    assert lines == [], f"q40 force-broadcasts:\n{lines}"


def test_q40_primary_is_pure_plan_no_python(spark, sf_dir):
    """VERDICT r5 item 1 'done' criterion: the primary path is ONE lazy
    DataFrame — building it runs no Spark job (no driver-side embedding
    collect) and its plan contains no Python evaluation node (the GEMM
    twin keeps its MapInPandas, but it is unregistered)."""
    df = all_queries()["q40_embedding_near_dup"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # ExistingRDD / checkpointed-RDD scans are the signature of driver-side
    # assembly (collect -> parallelize, localCheckpoint block loops): every
    # input must come straight from the parquet scan in ONE lazy plan
    for node in (
        "MapInPandas",
        "BatchEvalPython",
        "ArrowEvalPython",
        "ExistingRDD",
        "LogicalRDD",
    ):
        assert node not in plan, f"q40 primary path contains {node}"


def test_q137_cyclic_join_broadcasts_dims(spark, sf_dir):
    plan = plan_of(all_queries()["q137_local_supplier_volume"](spark, sf_dir))
    # customer/supplier/nation(+region) all broadcast — the cyclic
    # same-nation constraint must not force a fact-side shuffle join
    # against a dimension
    assert "BroadcastHashJoin" in plan
    assert "BroadcastExchange" in plan


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf_dir, tmp_path):
    """DPP: a partitioned fact joined to a filtered dim must prune fact
    partitions with a runtime subquery (dynamicpruningexpression in the
    scan's PartitionFilters) — at 100 TB the fact side reads only the
    directories the dim's surviving keys name, not the whole table."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.write.partitionBy("event_type").parquet(str(tmp_path / "ev"))
    fact = spark.read.parquet(str(tmp_path / "ev"))
    dim = spark.createDataFrame(
        [("click", 1.0), ("view", 2.0)], ["event_type", "wt"]
    ).filter(F.col("wt") < 1.5)
    j = fact.join(dim, "event_type").groupBy("event_type").count()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan, plan[:800]
    got = {r["event_type"]: r["count"] for r in j.collect()}
    want = ev.filter(F.col("event_type") == "click").count()
    assert got == {"click": want}


def _in_lambda(plan: str, token: str) -> bool:
    """Whether any occurrence of ``token`` in ``plan`` sits inside the
    parentheses of a ``lambdafunction(...)``."""
    stack: list[bool] = []  # per open paren: does it open a lambdafunction
    i = 0
    while i < len(plan):
        if plan.startswith(token, i) and any(stack):
            return True
        c = plan[i]
        if c == "(":
            stack.append(plan.endswith("lambdafunction", 0, i))
        elif c == ")" and stack:
            stack.pop()
        elif c == "\n":
            stack.clear()
        i += 1
    return False


def test_tokenizer_runs_once_per_document(spark, sf_dir, tmp_path, monkeypatch):
    """Every shingle builder stages the tokens in its own projection, so the
    optimized plan holds the tokenizer's regexp_replace once and never inside
    the shingle transform's lambdafunction, where it would run once per
    shingle. Covers dedup._shingled (q35, q36, q68, q122, q159) and the
    streaming shingle and LSH steps. The LSH step checkpoints its shingled
    frame, so its tokenizer is seen in the frame it checkpoints."""
    import os

    from big_data_computing_final_project_spark.plans.dedup import _shingled
    from big_data_computing_final_project_spark.streaming import events as E

    def optimized(df) -> str:
        return df._jdf.queryExecution().optimizedPlan().toString()

    sf001 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    plans = {"dedup._shingled": [optimized(_shingled(spark, sf001))]}

    seen: list[str] = []
    frame_cls = type(spark.range(1))
    stage, checkpoint = E._stage, frame_cls.localCheckpoint

    def capture_stage(df, delta_root, batch_id):
        seen.append(optimized(df))
        return stage(df, delta_root, batch_id)

    def capture_checkpoint(df, *args, **kwargs):
        seen.append(optimized(df))
        return checkpoint(df, *args, **kwargs)

    monkeypatch.setattr(E, "_stage", capture_stage)
    monkeypatch.setattr(frame_cls, "localCheckpoint", capture_checkpoint)
    batch = spark.createDataFrame(
        [
            (1, "The quick brown fox jumps over the lazy dog", "web"),
            (2, "the quick brown fox jumps over the lazy cat", "web"),
            (3, "Lorem ipsum dolor sit amet", "books"),
        ],
        "doc_id bigint, text string, source string",
    )
    for name, step in (("_shingles_step", E._shingles_step), ("_lsh_step", E._lsh_step)):
        seen.clear()
        step(batch, 0, str(tmp_path / name), 0)
        plans[name] = [p for p in seen if "regexp_replace" in p]

    for name, texts in plans.items():
        assert texts, f"{name}: no captured plan runs the tokenizer"
        for plan in texts:
            assert plan.count("regexp_replace(") == 1, f"{name}:\n{plan}"
            assert not _in_lambda(plan, "regexp_replace("), f"{name}:\n{plan}"
