"""The benchmark's workloads: the ops of one pass and the check of each op.

An op is either a *query* (a builder that returns a DataFrame; the
benchmark collects its result) or a *call* (a function that does its own
work, such as a streaming ingest or a store compaction). A query's
``check`` receives its columns and collected rows; a call's ``check``
receives nothing. A check returns ``None`` when the output is correct and a short
reason otherwise.

Expected digests come from the DuckDB oracle over the same input files,
computed once per input before any timing.
"""

from __future__ import annotations

import os
import shutil
import sys
from dataclasses import dataclass, field
from typing import Callable

import duckdb

from inputs import ensure_base, ensure_stream

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

from check_oracle import frame_digest  # noqa: E402

from big_data_computing_final_project_spark.plans import all_oracles, all_queries  # noqa: E402
from big_data_computing_final_project_spark.streaming import events  # noqa: E402


@dataclass
class Op:
    name: str
    fn: Callable
    is_query: bool
    check: Callable
    is_ml: bool = False


@dataclass
class Workload:
    """One prepared workload: ``ops`` are the ops of every pass, in the order
    they run (the same in every pass and every run, so an op pays the same
    first-use costs in every run); ``before_pass`` runs unmeasured before each
    pass; ``stream`` names the stream workload's store root, drops and
    corpus size for the traced run."""

    ops: list[Op]
    before_pass: Callable[[], None] = lambda: None
    stream: dict = field(default_factory=dict)


def _digest(cols: list[str], rows) -> str:
    return frame_digest(cols, [tuple(r) for r in rows])


def _oracle_digests(sf_dir: str, names: list[str]) -> dict[str, str]:
    oracles = all_oracles()
    con = duckdb.connect()
    try:
        for f in os.listdir(sf_dir):
            if f.endswith(".parquet"):
                t = f[: -len(".parquet")]
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{f}'")
        out = {}
        for n in names:
            rel = con.sql(oracles[n])
            out[n] = _digest([d[0] for d in rel.description], rel.fetchall())
        return out
    finally:
        con.close()


def _oracle_check(want: str):
    def check(cols, rows):
        got = _digest(cols, rows)
        return None if got == want else f"digest {got[:8]} != oracle {want[:8]}"

    return check


def _rows_only_check(cols: list[str], n_rows: int):
    """Columns and row count are pinned; the digest must repeat on every pass
    of the run (the first pass sets it)."""
    seen: list[str] = []

    def check(got_cols, rows):
        if sorted(got_cols) != sorted(cols) or len(rows) != n_rows:
            return f"shape {sorted(got_cols)} x {len(rows)} != {sorted(cols)} x {n_rows}"
        d = _digest(got_cols, rows)
        seen.append(d)
        return None if d == seen[0] else f"digest {d[:8]} changed from {seen[0][:8]}"

    return check


# -- ml_pipeline -------------------------------------------------------------

_ML_ROWS_ONLY = {
    "q49_house_pipeline": (["metric", "value"], 4),
    "q124_l1_feature_selection": (["feature", "abs_coef", "selected"], 10),
}
_ML_ORACLE = ["q123_roc_auc"]


def ml_pipeline(spark, work: str, scratch: str, seed: int) -> Workload:
    sf_dir = ensure_base(work)
    queries = all_queries()
    want = _oracle_digests(sf_dir, _ML_ORACLE)
    return Workload(
        [
            Op(n, lambda n=n: queries[n](spark, sf_dir), True, _rows_only_check(*shape), True)
            for n, shape in _ML_ROWS_ONLY.items()
        ]
        + [
            Op(n, lambda n=n: queries[n](spark, sf_dir), True, _oracle_check(want[n]), True)
            for n in _ML_ORACLE
        ]
    )


# -- stream_ingest -----------------------------------------------------------

_DOCS_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"
_COMPACTS = {
    "dup_flow": ("flow", events.compact_dup_flow_store),
    "volume": ("volume", events.compact_volume_store),
    "kept": ("kept", events.compact_kept_store),
    "fert": ("fert", events.compact_fert_store),
    "shingle": ("shingles", events.compact_shingle_store),
}


def stream_ingest(spark, work: str, scratch: str, seed: int) -> Workload:
    """One pass: ingest every drop through ``run_stream_ingest_suite`` with
    the scorecard stores, fold the three store reads, compact the five
    stores, fold again. Every fold must equal the DuckDB oracle of its batch
    twin (q146, q157, q232) on the whole corpus, before and after
    compaction."""
    base = ensure_base(work)
    corpus, drops, n_docs = ensure_stream(work, base, seed)
    want = _oracle_digests(
        corpus, ["q146_dup_flow_matrix", "q157_corpus_report_card", "q232_curation_scorecard"]
    )
    state_dir = os.path.join(scratch, "stream-state")
    root, ckpt = os.path.join(state_dir, "stores"), os.path.join(state_dir, "ckpt")

    def before_pass() -> None:
        shutil.rmtree(state_dir, ignore_errors=True)
        os.makedirs(state_dir)

    def ingest() -> None:
        docs = (
            spark.readStream.schema(_DOCS_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(drops)
        )
        events.run_stream_ingest_suite(docs, root, ckpt, timeout_sec=150, scorecard=True)

    folds = {
        "q146_dup_flow_matrix": lambda: events.dup_flow_matrix_from_store(
            spark, os.path.join(root, "flow")
        ),
        "q157_corpus_report_card": lambda: events.report_card_from_store(
            spark, os.path.join(root, "volume"), os.path.join(root, "flow")
        ),
        "q232_curation_scorecard": lambda: events.curation_scorecard_from_stores(spark, root),
    }

    def fold_ops(prefix: str) -> list[Op]:
        return [Op(f"{prefix}.{q}", fn, True, _oracle_check(want[q])) for q, fn in folds.items()]

    def compact_op(name: str, sub: str, fn) -> Op:
        return Op(f"compact.{name}", lambda: fn(spark, os.path.join(root, sub)), False, lambda: None)

    return Workload(
        [Op("ingest", ingest, False, lambda: None)]
        + fold_ops("fold")
        + [compact_op(n, sub, fn) for n, (sub, fn) in _COMPACTS.items()]
        + fold_ops("refold"),
        before_pass,
        stream={"root": root, "drops": drops, "n_docs": n_docs},
    )


WORKLOADS = {"ml_pipeline": ml_pipeline, "stream_ingest": stream_ingest}
