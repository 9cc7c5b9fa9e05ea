"""Batch/stream equivalence: the streaming tumbling-window plan under
trigger(availableNow) must reproduce the batch q27 result exactly
(which is itself DuckDB-oracle-checked)."""

from __future__ import annotations

import os
import shutil
import tempfile

from big_data_computing_final_project_spark.plans import all_queries
from big_data_computing_final_project_spark.streaming import (
    run_stream_to_memory,
    stream_events,
    tumbling_counts,
)


def test_stream_equals_batch_tumbling(spark, sf_dir):
    ckpt = tempfile.mkdtemp(prefix="ckpt_stream_")
    try:
        events = stream_events(spark, sf_dir)
        result = tumbling_counts(events)
        run_stream_to_memory(result, "stream_tumbling", ckpt)
        streamed = {
            tuple(r) for r in spark.sql("SELECT * FROM stream_tumbling").collect()
        }
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    batch = {tuple(r) for r in all_queries()["q27_tumbling_window"](spark, sf_dir).collect()}
    assert streamed == batch
    assert len(batch) > 0


def test_stream_parquet_sink_round_trip(spark, sf_dir, tmp_path):
    """Stateless stream -> parquet file sink == the same batch plan.

    Covers the S2-sink surface for streams: append mode, checkpointed
    exactly-once file commits, availableNow backlog drain."""
    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.catalog import load_table
    from big_data_computing_final_project_spark.streaming.events import (
        run_stream_to_parquet,
        stream_events,
    )

    stream = stream_events(spark, sf_dir).filter(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id", "value"
    )
    out = str(tmp_path / "out")
    run_stream_to_parquet(stream, out, str(tmp_path / "ckpt"))

    got = sorted(
        (r.event_id, r.ts, r.user_id, r.value)
        for r in spark.read.parquet(out).collect()
    )
    want = sorted(
        (r.event_id, r.ts, r.user_id, r.value)
        for r in load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select("event_id", "ts", "user_id", "value")
        .collect()
    )
    assert got == want and len(got) > 0


def test_stream_upsert_sink_converges_to_batch(spark, sf_dir, tmp_path):
    """foreachBatch upsert sink: after draining the backlog, the keyed
    table equals the batch aggregate — update-mode rows with the same key
    replaced, not appended."""
    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.catalog import load_table
    from big_data_computing_final_project_spark.functions.stats import dec_sum
    from big_data_computing_final_project_spark.streaming.events import (
        run_stream_upsert,
        stream_events,
    )

    agg = (
        stream_events(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), dec_sum(F.col("value")).alias("total_value"))
    )
    out = str(tmp_path / "upsert")
    run_stream_upsert(agg, ["event_type"], out, str(tmp_path / "ckpt"))

    got = sorted(
        (r.event_type, r.n, r.total_value)
        for r in spark.read.parquet(out + "/data").collect()
    )
    want = sorted(
        (r.event_type, r.n, r.total_value)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), dec_sum(F.col("value")).alias("total_value"))
        .collect()
    )
    assert got == want and len(got) > 0
    # keys are unique — upsert replaced, never appended
    assert len({k for k, _, _ in got}) == len(got)


def test_stream_static_enrich_equals_batch(spark, sf_dir):
    """Stream-static join: streaming events against the batch customer dim
    must equal the batch q83 plan (which is DuckDB-oracle-checked)."""
    import shutil
    import tempfile

    from big_data_computing_final_project_spark.catalog import load_table
    from big_data_computing_final_project_spark.streaming.events import (
        enrich_stream,
        run_stream_to_memory,
        stream_events,
    )

    ckpt = tempfile.mkdtemp(prefix="ckpt_enrich_")
    try:
        result = enrich_stream(
            stream_events(spark, sf_dir), load_table(spark, sf_dir, "customer")
        )
        run_stream_to_memory(result, "stream_enrich", ckpt)
        streamed = {tuple(r) for r in spark.sql("SELECT * FROM stream_enrich").collect()}
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    batch = {
        tuple(r) for r in all_queries()["q83_event_enrich"](spark, sf_dir).collect()
    }
    assert streamed == batch and len(batch) > 0


def test_stream_stream_interval_join_equals_batch(spark, sf_dir, tmp_path):
    """Watermarked stream-stream interval join == the batch q84 plan."""
    from big_data_computing_final_project_spark.streaming.events import (
        stream_events,
        view_click_join_stream,
    )
    from pyspark.sql import functions as F

    views = stream_events(spark, sf_dir).filter(F.col("event_type") == "view")
    clicks = stream_events(spark, sf_dir).filter(F.col("event_type") == "click")
    joined = view_click_join_stream(views, clicks)
    q = (
        joined.writeStream.format("memory")
        .queryName("stream_vc_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    if q.isActive:
        q.stop()
    streamed = {tuple(r) for r in spark.sql("SELECT * FROM stream_vc_join").collect()}
    batch = {tuple(r) for r in all_queries()["q84_view_click_join"](spark, sf_dir).collect()}
    assert streamed == batch and len(batch) > 0


def test_stream_tdigest_store_answers_quantiles(spark, sf_dir, tmp_path):
    """Incremental sketching: stream -> per-batch t-digest partials store;
    quantiles answered from the store match exact batch percentiles within
    the sketch's rank-error bound, without re-reading events."""
    import numpy as np
    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.catalog import load_table
    from big_data_computing_final_project_spark.streaming.events import (
        run_stream_tdigest,
        sketch_store_quantiles,
        stream_events,
    )

    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")
    run_stream_tdigest(stream_events(spark, sf_dir), "event_type", "value", store, ckpt)

    got = {r["key"]: r for r in sketch_store_quantiles(spark, store, [0.5, 0.9]).collect()}
    ev = load_table(spark, sf_dir, "events").select("event_type", "value").toPandas()
    assert set(got) == set(ev["event_type"].unique())
    for etype, grp in ev.groupby("event_type"):
        vals = np.sort(grp["value"].to_numpy())
        for q in (0.5, 0.9):
            est = got[etype][f"p{int(q * 100):02d}"]
            rank = np.searchsorted(vals, est, side="left") / len(vals)
            assert abs(rank - q) < 0.02, (etype, q, est)


def test_stream_heavy_hitters_store_certified_bounds(spark, sf_dir, tmp_path):
    """Incremental heavy hitters: token stream split over 3 micro-batches ->
    per-batch SpaceSaving partials store; merged [lo, hi] bounds from the
    store contain the exact counts even at tight capacity, and at ample
    capacity the store's top-k IS the exact top-k."""
    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.catalog import load_table
    from big_data_computing_final_project_spark.functions import text as X
    from big_data_computing_final_project_spark.streaming.events import (
        hh_store_topk,
        run_stream_heavy_hitters,
    )

    docs = load_table(spark, sf_dir, "documents").select(X.tokens(F.col("text")).alias("toks"))
    src = str(tmp_path / "src")
    docs.repartition(3).write.parquet(src)
    exact = {
        r["t"]: r["n"]
        for r in docs.select(F.explode("toks").alias("t")).groupBy("t").agg(F.count(F.lit(1)).alias("n")).collect()
    }

    stream = (
        spark.readStream.schema("toks array<string>").option("maxFilesPerTrigger", "1").parquet(src)
    )
    store, ckpt = str(tmp_path / "hh_tight"), str(tmp_path / "ckpt_tight")
    run_stream_heavy_hitters(stream, "toks", store, ckpt, capacity=50)
    tight = hh_store_topk(spark, store, k=10).collect()
    assert len(tight) == 10
    for r in tight:
        assert r["count_lo"] <= exact[r["item"]] <= r["count_hi"], r

    store2, ckpt2 = str(tmp_path / "hh_ample"), str(tmp_path / "ckpt_ample")
    stream2 = (
        spark.readStream.schema("toks array<string>").option("maxFilesPerTrigger", "1").parquet(src)
    )
    run_stream_heavy_hitters(stream2, "toks", store2, ckpt2, capacity=100_000)
    ample = hh_store_topk(spark, store2, k=10).collect()
    want = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert [(r["item"], r["count_lo"], r["count_hi"]) for r in ample] == [
        (t, n, n) for t, n in want
    ]


def test_stream_dq_audit_store_equals_batch_audit(spark, sf_dir, tmp_path):
    """Streaming DQ audit: per-batch additive violation counts summed from
    the store must equal the one-shot batch audit of the same data."""
    import os

    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.catalog import load_table
    from big_data_computing_final_project_spark.operators.quality import check_predicates
    from big_data_computing_final_project_spark.streaming import stream_events
    from big_data_computing_final_project_spark.streaming.events import (
        dq_store_report,
        run_stream_dq_audit,
    )

    checks = {
        "nonneg_value": F.col("value") < 0,
        "nonnull_user": F.col("user_id").isNull(),
        "known_event_type": ~F.col("event_type").isin("view", "click", "purchase", "refund"),
    }
    store = os.path.join(tmp_path, "dq_store")
    ckpt = os.path.join(tmp_path, "ckpt")
    run_stream_dq_audit(stream_events(spark, sf_dir), checks, store, ckpt)
    got = {
        r.constraint: (r.n_violations, r.n_checked)
        for r in dq_store_report(spark, store).collect()
    }
    want = {
        r.constraint: (r.n_violations, r.n_checked)
        for r in check_predicates(load_table(spark, sf_dir, "events"), checks).collect()
    }
    assert got == want and want["nonnull_user"][1] > 0


def test_stream_mixture_monitor_equals_batch(spark, sf_dir, tmp_path):
    """Ingest-drift mixture monitor: stream tumbling counts into the keyed
    upsert store, then the store-derived per-window shares must equal the
    batch q134 exactly once the backlog drains."""
    from big_data_computing_final_project_spark.streaming.events import (
        mixture_from_store,
        run_stream_upsert,
        stream_events,
        tumbling_counts,
    )

    counts = tumbling_counts(stream_events(spark, sf_dir)).select(
        "window_start", "event_type", "n_events"
    )
    out = str(tmp_path / "mixstore")
    run_stream_upsert(counts, ["window_start", "event_type"], out, str(tmp_path / "ckpt"))

    got = [tuple(r) for r in mixture_from_store(spark, out).collect()]
    want = [
        tuple(r) for r in all_queries()["q134_window_mixture"](spark, sf_dir).collect()
    ]
    assert got == want and len(got) > 0


# ---------------------------------------------------------------------------
# Shared planted corpus for the ingest-store tests below: three exact-dup
# groups spanning sources (case/whitespace variants -> same fingerprint,
# DIFFERENT n_chars, so char accounting is keeper-sensitive) + one unique
# doc, two languages. Changing it changes every store pin together — the
# three tests deliberately cannot drift onto different corpora.
# ---------------------------------------------------------------------------

_PLANTED_DOCS = [
    (1, "shared text one", "en", "srcA"),
    (2, "shared  text  one", "en", "srcB"),   # same fp as 1, more chars
    (3, "Shared Text One", "en", "srcB"),     # same fp as 1
    (4, "shared text two", "de", "srcB"),
    (5, "shared text two", "en", "srcA"),
    (6, "shared text three", "en", "srcC"),
    (7, "shared text three", "en", "srcC"),
    (8, "completely different", "de", "srcA"),
]
_PLANTED_DROPS = [_PLANTED_DOCS[0:3], _PLANTED_DOCS[3:6], _PLANTED_DOCS[6:8]]
_DOCS_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"


def _docs_tbl(sub):
    from _fixtures import planted_docs_table

    return planted_docs_table(sub)


def _write_corpus(corpus_dir) -> str:
    """One documents.parquet over the full planted corpus (batch input)."""
    from _fixtures import write_planted_corpus

    return write_planted_corpus(corpus_dir, _PLANTED_DOCS)


def _write_doc_drops(src_dir, drops) -> str:
    """Stage drops as parquet files with MONOTONIC past mtimes —
    FileStreamSource processes oldest-first, so this pins the arrival
    order without sleeps."""
    import time

    import pyarrow.parquet as pq

    src_dir.mkdir()
    base = time.time() - 3600
    for i, sub in enumerate(drops):
        p = str(src_dir / f"drop_{i}.parquet")
        pq.write_table(_docs_tbl(sub), p)
        os.utime(p, (base + 10 * i, base + 10 * i))
    return str(src_dir)


def _docs_stream(spark, src_dir: str):
    return (
        spark.readStream.schema(_DOCS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )


def test_stream_dup_flow_store_equals_batch_q146(spark, tmp_path):
    """Dedup-at-ingest twin of q146: the planted corpus arrives as 3
    doc_id-ordered micro-batches; the incremental dup-flow store's matrix
    must equal batch q146 on the full corpus exactly (the ingest contract:
    arrival order respects doc_id order, so first-arrival == min-doc_id
    keeper)."""
    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.functions import text as X
    from big_data_computing_final_project_spark.streaming.events import (
        dup_flow_matrix_from_store,
        run_stream_dup_flow,
    )

    corpus = _write_corpus(tmp_path / "corpus")
    want = [
        tuple(r) for r in all_queries()["q146_dup_flow_matrix"](spark, corpus).collect()
    ]
    assert len(want) == 3  # planted matrix: srcA->srcB, srcB->srcA, srcC->srcC

    src_dir = _write_doc_drops(tmp_path / "arrivals", _PLANTED_DROPS)
    stream = _docs_stream(spark, src_dir).select(
        "doc_id", "source", X.fingerprint(F.col("text")).alias("fp")
    )
    store = str(tmp_path / "flowstore")
    run_stream_dup_flow(stream, store, str(tmp_path / "ckpt_flow"))

    got = [tuple(r) for r in dup_flow_matrix_from_store(spark, store).collect()]
    assert got == want


def test_report_card_store_equals_batch_q157_any_arrival_order(spark, tmp_path):
    """The report-card fold (volume partials + dup-flow edges) must equal
    batch q157 — and unlike q146's keeper attribution, the per-source dup
    EXPOSURE is arrival-order-independent (each multi-copy-group member
    counts once for its own source, keeper or dup), so the equality must
    hold for id-ordered AND reversed drop order."""
    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.functions import text as X
    from big_data_computing_final_project_spark.streaming.events import (
        report_card_from_store,
        run_stream_dup_flow,
        run_stream_volume_counts,
    )

    corpus = _write_corpus(tmp_path / "corpus")
    want = [
        tuple(r)
        for r in all_queries()["q157_corpus_report_card"](spark, corpus).collect()
    ]

    for case, order in (
        ("fwd", _PLANTED_DROPS),
        ("rev", list(reversed(_PLANTED_DROPS))),
    ):
        src_dir = _write_doc_drops(tmp_path / f"arrivals_{case}", order)
        flow_store = str(tmp_path / f"flow_{case}")
        run_stream_dup_flow(
            _docs_stream(spark, src_dir).select(
                "doc_id", "source", X.fingerprint(F.col("text")).alias("fp")
            ),
            flow_store,
            str(tmp_path / f"ckpt_flow_{case}"),
        )
        vol_store = str(tmp_path / f"vol_{case}")
        run_stream_volume_counts(
            _docs_stream(spark, src_dir).select(
                "source",
                "lang",
                "n_chars",
                X.token_count(F.col("text")).cast("bigint").alias("n_toks"),
            ),
            vol_store,
            str(tmp_path / f"ckpt_vol_{case}"),
        )
        got = [
            tuple(r)
            for r in report_card_from_store(spark, vol_store, flow_store).collect()
        ]
        assert got == want, case


def test_ingest_suite_single_pass_equals_batch_twins(spark, tmp_path):
    """One foreachBatch pass over the raw document stream must leave BOTH
    stores in the same state as running them separately: the dup-flow fold
    equals batch q146 (id-ordered drops) and the report-card fold equals
    batch q157."""
    from big_data_computing_final_project_spark.streaming.events import (
        dup_flow_matrix_from_store,
        report_card_from_store,
        run_stream_ingest_suite,
    )

    corpus = _write_corpus(tmp_path / "corpus")
    want_flow = [
        tuple(r) for r in all_queries()["q146_dup_flow_matrix"](spark, corpus).collect()
    ]
    want_card = [
        tuple(r)
        for r in all_queries()["q157_corpus_report_card"](spark, corpus).collect()
    ]

    src_dir = _write_doc_drops(tmp_path / "arrivals", _PLANTED_DROPS)
    flow_dir, vol_dir, kept_dir = run_stream_ingest_suite(
        _docs_stream(spark, src_dir), str(tmp_path / "stores"), str(tmp_path / "ckpt_suite")
    )

    got_flow = [tuple(r) for r in dup_flow_matrix_from_store(spark, flow_dir).collect()]
    assert got_flow == want_flow
    got_card = [
        tuple(r) for r in report_card_from_store(spark, vol_dir, flow_dir).collect()
    ]
    assert got_card == want_card

    # kept store + budget fold (round-10): the incremental dedup-adjusted
    # budget must equal the batch computation (min-doc_id keeper per exact
    # fingerprint -> per-source effective tokens -> q147's plan) — same
    # id-ordered-drops contract as the flow matrix above
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.functions import text as X
    from big_data_computing_final_project_spark.plans.curation import _BUDGET_TOKENS
    from big_data_computing_final_project_spark.streaming.events import (
        compact_kept_store,
        dedup_adjusted_budget_from_store,
    )

    docs = spark.read.parquet(f"{corpus}/documents.parquet").select(
        "doc_id",
        "source",
        X.fingerprint(F.col("text")).alias("fp"),
        X.token_count(F.col("text")).cast("bigint").alias("nt"),
    )
    keep = docs.groupBy("fp").agg(
        F.min_by(F.struct("source", "nt"), "doc_id").alias("k")
    )
    eff = keep.groupBy(F.col("k.source").alias("source")).agg(
        F.sum("k.nt").cast("bigint").alias("eff_tokens")
    )
    raw = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nt").cast("bigint").alias("raw_tokens"),
    )
    j = raw.join(eff, "source", "left").na.fill(0, ["eff_tokens"]).withColumn(
        "wt", F.floor(F.sqrt(F.col("eff_tokens").cast("double"))).cast("bigint")
    )
    planned = F.floor(
        (F.lit(_BUDGET_TOKENS) * F.col("wt")).cast("double")
        / F.sum("wt").over(Window.partitionBy()).cast("double")
    ).cast("bigint")
    want_budget = [
        tuple(r)
        for r in j.select(
            "source",
            "n_docs",
            "raw_tokens",
            "eff_tokens",
            F.when(
                F.col("raw_tokens") > 0,
                F.col("eff_tokens").cast("double") / F.col("raw_tokens"),
            ).alias("dup_discount"),
            "wt",
            planned.alias("planned_tokens"),
            F.when(
                F.col("eff_tokens") > 0,
                planned.cast("double") / F.col("eff_tokens").cast("double"),
            ).alias("repeat_factor"),
        )
        .orderBy("source")
        .collect()
    ]
    got_budget = [
        tuple(r)
        for r in dedup_adjusted_budget_from_store(spark, vol_dir, kept_dir).collect()
    ]
    assert got_budget == want_budget
    # compaction preserves the fold exactly
    compact_kept_store(spark, kept_dir)
    after = [
        tuple(r)
        for r in dedup_adjusted_budget_from_store(spark, vol_dir, kept_dir).collect()
    ]
    assert after == got_budget


def test_store_compaction_preserves_folds_and_continued_ingest(spark, tmp_path):
    """Compacting the dup-flow store between drains must (1) leave the
    folded matrix identical, (2) keep serving keeper lookups when the
    stream CONTINUES on the same checkpoint afterwards — new batch ids
    sit above the checkpoint high-water mark and the `batch_id < N`
    lookup always includes the compacted batch_id=0 delta."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.functions import text as X
    from big_data_computing_final_project_spark.streaming.events import (
        compact_dup_flow_store,
        dup_flow_matrix_from_store,
        run_stream_dup_flow,
    )

    partial_dir = tmp_path / "corpus_partial"
    partial_dir.mkdir()
    pq.write_table(
        _docs_tbl(_PLANTED_DOCS[0:6]), str(partial_dir / "documents.parquet")
    )
    corpus = _write_corpus(tmp_path / "corpus")

    # first two drops, drain, compact
    src_dir = tmp_path / "arrivals"
    _write_doc_drops(src_dir, _PLANTED_DROPS[0:2])

    def _stream():
        return _docs_stream(spark, str(src_dir)).select(
            "doc_id", "source", X.fingerprint(F.col("text")).alias("fp")
        )

    store = str(tmp_path / "flowstore")
    ckpt = str(tmp_path / "ckpt_flow")
    run_stream_dup_flow(_stream(), store, ckpt)
    before = [tuple(r) for r in dup_flow_matrix_from_store(spark, store).collect()]
    compact_dup_flow_store(spark, store)
    after = [tuple(r) for r in dup_flow_matrix_from_store(spark, store).collect()]
    assert after == before
    want_partial = [
        tuple(r)
        for r in all_queries()["q146_dup_flow_matrix"](spark, str(partial_dir)).collect()
    ]
    assert after == want_partial
    # exactly one delta dir per store half remains — at the MAX batch id,
    # and the floor marker now remaps every later ingest id above it
    # (ADVICE r8: a replay of a folded raw id can't overwrite the history)
    assert sorted(
        d for d in os.listdir(os.path.join(store, "keepers"))
        if d.startswith("batch_id=")
    ) == ["batch_id=1"]

    # continue ingesting the third drop on the SAME checkpoint
    import time as _time

    p = str(src_dir / "drop_late.parquet")
    pq.write_table(_docs_tbl(_PLANTED_DROPS[2]), p)
    os.utime(p, (_time.time(), _time.time()))
    run_stream_dup_flow(_stream(), store, ckpt)
    final = [tuple(r) for r in dup_flow_matrix_from_store(spark, store).collect()]
    want_full = [
        tuple(r) for r in all_queries()["q146_dup_flow_matrix"](spark, corpus).collect()
    ]
    assert final == want_full


def test_counts_and_volume_store_compaction_fold_identical(spark, tmp_path):
    """PSI counts (keyed) and volume stores: the compacted single-delta
    store must fold to the identical rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_computing_final_project_spark.streaming.events import (
        compact_counts_store,
        compact_volume_store,
        psi_by_key_from_store,
        report_card_from_store,
        run_stream_ingest_suite,
        run_stream_psi_counts_by_key,
    )

    # keyed PSI store from a 2-drop numeric stream
    src = tmp_path / "vals"
    src.mkdir()
    for i, vals in enumerate([[0.05, 0.15, 0.25], [0.35, 0.95, 0.15]]):
        pq.write_table(
            pa.table(
                {"key": pa.array(["k"] * len(vals)), "v": pa.array(vals)}
            ),
            str(src / f"drop_{i}.parquet"),
        )
    ref_edges = spark.createDataFrame([("k", 0.0, 0.1)], "key string, lo double, width double")
    ref_counts = spark.createDataFrame(
        [("k", b, 5) for b in range(10)], "key string, bin int, n_ref bigint"
    )
    stream = (
        spark.readStream.schema("key string, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    store = str(tmp_path / "kpsi")
    run_stream_psi_counts_by_key(stream, ref_edges, store, str(tmp_path / "ckpt_kpsi"))
    before = [tuple(r) for r in psi_by_key_from_store(spark, store, ref_counts).collect()]
    compact_counts_store(spark, store, ["key"])
    after = [tuple(r) for r in psi_by_key_from_store(spark, store, ref_counts).collect()]
    assert after == before and len(after) == 10
    # one folded delta at the MAX batch id, plus the floor marker — which
    # since ADVICE r9 lives INSIDE the store dir so a directory-level
    # copy/move keeps the floor attached to the data it protects
    assert sorted(os.listdir(store)) == ["_compaction_floor", "batch_id=1"]

    # volume + flow stores via the suite, compacted, report card identical
    src2 = _write_doc_drops(tmp_path / "docs", _PLANTED_DROPS)
    flow_dir, vol_dir, kept_dir = run_stream_ingest_suite(
        _docs_stream(spark, src2), str(tmp_path / "stores"), str(tmp_path / "ckpt_suite")
    )
    card_before = [
        tuple(r) for r in report_card_from_store(spark, vol_dir, flow_dir).collect()
    ]
    compact_volume_store(spark, vol_dir)
    card_after = [
        tuple(r) for r in report_card_from_store(spark, vol_dir, flow_dir).collect()
    ]
    assert card_after == card_before


def test_compaction_crash_between_renames_is_recovered(spark, tmp_path):
    """A compaction that dies between its two renames leaves no live store
    dir; every fold (and the next compaction) must restore the .old
    backup instead of silently reading an empty store."""
    import shutil

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.functions import text as X
    from big_data_computing_final_project_spark.streaming.events import (
        compact_dup_flow_store,
        dup_flow_matrix_from_store,
        run_stream_dup_flow,
    )

    src_dir = _write_doc_drops(tmp_path / "arrivals", _PLANTED_DROPS)
    store = str(tmp_path / "flowstore")
    run_stream_dup_flow(
        _docs_stream(spark, src_dir).select(
            "doc_id", "source", X.fingerprint(F.col("text")).alias("fp")
        ),
        store,
        str(tmp_path / "ckpt"),
    )
    want = [tuple(r) for r in dup_flow_matrix_from_store(spark, store).collect()]

    # simulate the crash window: live edges dir renamed away, no new dir yet
    edges = os.path.join(store, "edges")
    os.rename(edges, edges + ".old")
    got = [tuple(r) for r in dup_flow_matrix_from_store(spark, store).collect()]
    assert got == want  # fold healed the store, not an empty answer

    # and a fresh compaction attempt after the same crash also recovers
    os.rename(edges, edges + ".old")
    shutil.rmtree(edges + ".compacting", ignore_errors=True)
    compact_dup_flow_store(spark, store)
    got2 = [tuple(r) for r in dup_flow_matrix_from_store(spark, store).collect()]
    assert got2 == want


# ---------------------------------------------------------------------------
# streaming last-touch attribution (twin of batch q179)
# ---------------------------------------------------------------------------

_EV_SCHEMA_STR = (
    "event_id bigint, ts timestamp_ntz, user_id bigint, "
    "event_type string, value double, props string"
)


def _write_event_drops(spark, src_dir, all_rows, n_drops: int) -> str:
    """Split ts-sorted event rows into contiguous drops, one parquet FILE
    per drop (the file stream source does not recurse into the directory
    a DataFrame write produces), mtimes ascending so maxFilesPerTrigger=1
    replays in order."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(src_dir)
    base = _time.time() - 3600
    rows = sorted(all_rows, key=lambda r: (r[1], r[0]))
    per = (len(rows) + n_drops - 1) // n_drops
    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    for i in range(n_drops):
        chunk = rows[i * per : (i + 1) * per]
        tbl = pa.Table.from_pylist(
            [dict(zip(schema.names, r)) for r in chunk], schema=schema
        )
        p = os.path.join(src_dir, f"drop_{i}.parquet")
        pq.write_table(tbl, p)
        os.utime(p, (base + 10 * i, base + 10 * i))
    return src_dir


def test_stream_attribution_equals_batch_q179(spark, sf_dir, tmp_path):
    """The real sf events replayed as 4 time-ordered drops: the incremental
    attribution store's fold must equal batch q179 EXACTLY (hash-grade:
    same campaigns, counts, and revenue doubles) — purchases near drop
    boundaries are attributed from the click store, not just the batch."""
    from big_data_computing_final_project_spark.streaming.events import (
        attribution_from_store,
        run_stream_attribution,
    )

    want = [
        tuple(r)
        for r in all_queries()["q179_lasttouch_attribution"](spark, sf_dir).collect()
    ]
    rows = [tuple(r) for r in spark.read.parquet(f"{sf_dir}/events.parquet").collect()]
    src = _write_event_drops(spark, str(tmp_path / "evdrops"), rows, 4)
    stream = (
        spark.readStream.schema(_EV_SCHEMA_STR)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    store = str(tmp_path / "attrstore")
    run_stream_attribution(stream, store, str(tmp_path / "ckpt_attr"))
    got = [tuple(r) for r in attribution_from_store(spark, store).collect()]
    assert got == want


def test_stream_attribution_cross_batch_click_wins(spark, tmp_path):
    """A click that arrived two drops before its purchase must still win
    (the store lookup), and one outside the 7-day window must not."""
    import datetime as dt

    from big_data_computing_final_project_spark.streaming.events import (
        attribution_from_store,
        run_stream_attribution,
    )

    t0 = dt.datetime(2024, 1, 20, 12, 0, 0)
    d = dt.timedelta
    rows = [
        (1, t0 - d(days=10), 1, "click", 0.0, '{"k": 4}'),   # stale: > 7d out
        (2, t0 - d(days=3), 1, "click", 0.0, '{"k": 6}'),    # drop 1
        (3, t0 - d(days=2), 2, "view", 0.0, "{}"),           # drop 2 filler
        (4, t0, 1, "purchase", 80.0, "{}"),                  # drop 3
        (5, t0, 2, "purchase", 10.0, "{}"),                  # organic
    ]
    src = _write_event_drops(spark, str(tmp_path / "evdrops2"), rows, 3)
    stream = (
        spark.readStream.schema(_EV_SCHEMA_STR)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    store = str(tmp_path / "attrstore2")
    run_stream_attribution(stream, store, str(tmp_path / "ckpt_attr2"))
    got = {r.campaign: r for r in attribution_from_store(spark, store).collect()}
    assert set(got) == {6, -1}
    assert got[6].n_purchases == 1 and got[6].attributed_revenue == 80.0
    assert got[-1].n_purchases == 1 and got[-1].attributed_revenue == 10.0


# ---------------------------------------------------------------------------
# streaming revenue anomaly monitor (twin of batch q169)
# ---------------------------------------------------------------------------

_ORD_SCHEMA_STR = (
    "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
)


def _write_order_drops(spark, src_dir, rows, n_drops, shuffle=False) -> str:
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(src_dir)
    base = _time.time() - 3600
    if shuffle:
        # deterministic interleave: round-robin across drops — violates
        # time order on purpose (the monitor must not care)
        chunks = [rows[i::n_drops] for i in range(n_drops)]
    else:
        rows = sorted(rows, key=lambda r: (r[4], r[0]))
        per = (len(rows) + n_drops - 1) // n_drops
        chunks = [rows[i * per : (i + 1) * per] for i in range(n_drops)]
    schema = pa.schema(
        [
            ("o_orderkey", pa.int64()),
            ("o_custkey", pa.int64()),
            ("o_orderstatus", pa.string()),
            ("o_totalprice", pa.float64()),
            ("o_orderdate", pa.timestamp("us")),
            ("o_orderpriority", pa.string()),
        ]
    )
    for i, chunk in enumerate(chunks):
        tbl = pa.Table.from_pylist(
            [dict(zip(schema.names, r)) for r in chunk], schema=schema
        )
        p = os.path.join(src_dir, f"drop_{i}.parquet")
        pq.write_table(tbl, p)
        os.utime(p, (base + 10 * i, base + 10 * i))
    return src_dir


def test_stream_revenue_monitor_equals_batch_q169_any_split(spark, sf_dir, tmp_path):
    """Day partials are commutative: the store fold must equal batch q169
    tuple-for-tuple for a time-ordered split AND a round-robin (time-
    violating) split."""
    from big_data_computing_final_project_spark.streaming.events import (
        revenue_anomalies_from_store,
        revenue_monitor_log,
        run_stream_revenue_monitor,
    )

    want = [
        tuple(r) for r in all_queries()["q169_rolling_anomaly"](spark, sf_dir).collect()
    ]
    assert want, "sf data has planted anomalies; the pin needs non-empty output"
    rows = [tuple(r) for r in spark.read.parquet(f"{sf_dir}/orders.parquet").collect()]
    for label, shuffle in (("ordered", False), ("roundrobin", True)):
        src = _write_order_drops(
            spark, str(tmp_path / f"odrops_{label}"), rows, 3, shuffle=shuffle
        )
        stream = (
            spark.readStream.schema(_ORD_SCHEMA_STR)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        store = str(tmp_path / f"revstore_{label}")
        run_stream_revenue_monitor(stream, store, str(tmp_path / f"ckpt_{label}"))
        got = [
            tuple(r)
            for r in revenue_anomalies_from_store(spark, store)
            .orderBy("day_idx")
            .collect()
        ]
        assert got == want, label
        log = revenue_monitor_log(spark, store).collect()
        assert [r.batch_id for r in log] == [0, 1, 2]
        # the final evaluation saw the full series: its count matches batch
        assert log[-1].n_anomalies == len(want)


# ---------------------------------------------------------------------------
# streaming basket rules (twin of batch q178)
# ---------------------------------------------------------------------------


def test_stream_basket_rules_equal_batch_q178_any_basket_split(spark, sf_dir, tmp_path):
    """Baskets (whole orders) split into 3 drops — and, because every
    partial is an additive count, ALSO in reversed drop order — must fold
    to batch q178 tuple-for-tuple."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import time as _time

    from big_data_computing_final_project_spark.streaming.events import (
        basket_rules_from_store,
        run_stream_basket_counts,
    )

    want = [
        tuple(r) for r in all_queries()["q178_basket_rules"](spark, sf_dir).collect()
    ]
    assert want
    li = [
        (r.l_orderkey, r.l_partkey)
        for r in spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .collect()
    ]
    schema = pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64())])
    for label, keyfn in (("mod", lambda o: o % 3), ("revmod", lambda o: 2 - o % 3)):
        src = str(tmp_path / f"basket_drops_{label}")
        os.makedirs(src)
        base = _time.time() - 3600
        for i in range(3):
            chunk = [r for r in li if keyfn(r[0]) == i]  # whole orders per drop
            tbl = pa.Table.from_pylist(
                [{"l_orderkey": o, "l_partkey": p} for o, p in chunk], schema=schema
            )
            p = os.path.join(src, f"drop_{i}.parquet")
            pq.write_table(tbl, p)
            os.utime(p, (base + 10 * i, base + 10 * i))
        stream = (
            spark.readStream.schema("l_orderkey bigint, l_partkey bigint")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        store = str(tmp_path / f"basketstore_{label}")
        run_stream_basket_counts(stream, store, str(tmp_path / f"ckpt_bk_{label}"))
        got = [tuple(r) for r in basket_rules_from_store(spark, store).collect()]
        assert got == want, label


# ---------------------------------------------------------------------------
# compaction of the round's new stores
# ---------------------------------------------------------------------------


def test_new_store_compactions_preserve_folds_and_continued_ingest(
    spark, sf_dir, tmp_path
):
    """For each new store: fold before == fold after compaction; and for
    the attribution store (the only order-sensitive one), ingest drops 1-2,
    compact, ingest drop 3 on the SAME checkpoint — the final fold must
    still equal batch q179 (the compacted per-user max click is sufficient
    state under the time-ordered contract)."""
    from big_data_computing_final_project_spark.streaming.events import (
        attribution_from_store,
        basket_rules_from_store,
        compact_attribution_store,
        compact_basket_store,
        compact_revenue_monitor_store,
        revenue_anomalies_from_store,
        run_stream_attribution,
        run_stream_basket_counts,
        run_stream_revenue_monitor,
    )

    # --- basket store: ingest all, compact, fold unchanged
    li = [
        (r.l_orderkey, r.l_partkey)
        for r in spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .collect()
    ]
    import pyarrow as pa
    import pyarrow.parquet as pq
    import time as _time

    schema = pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64())])
    src = str(tmp_path / "cmp_basket_src")
    os.makedirs(src)
    base = _time.time() - 3600
    for i in range(3):
        chunk = [r for r in li if r[0] % 3 == i]
        pq.write_table(
            pa.Table.from_pylist(
                [{"l_orderkey": o, "l_partkey": p} for o, p in chunk], schema=schema
            ),
            os.path.join(src, f"drop_{i}.parquet"),
        )
        os.utime(os.path.join(src, f"drop_{i}.parquet"), (base + 10 * i,) * 2)
    store = str(tmp_path / "cmp_basket_store")
    run_stream_basket_counts(
        spark.readStream.schema("l_orderkey bigint, l_partkey bigint")
        .option("maxFilesPerTrigger", "1")
        .parquet(src),
        store,
        str(tmp_path / "cmp_basket_ckpt"),
    )
    before = [tuple(r) for r in basket_rules_from_store(spark, store).collect()]
    compact_basket_store(spark, store)
    after = [tuple(r) for r in basket_rules_from_store(spark, store).collect()]
    assert before == after and before

    # --- revenue monitor: same additive pattern
    orows = [tuple(r) for r in spark.read.parquet(f"{sf_dir}/orders.parquet").collect()]
    osrc = _write_order_drops(spark, str(tmp_path / "cmp_rev_src"), orows, 3)
    rstore = str(tmp_path / "cmp_rev_store")
    run_stream_revenue_monitor(
        spark.readStream.schema(_ORD_SCHEMA_STR)
        .option("maxFilesPerTrigger", "1")
        .parquet(osrc),
        rstore,
        str(tmp_path / "cmp_rev_ckpt"),
    )
    before = [
        tuple(r)
        for r in revenue_anomalies_from_store(spark, rstore).orderBy("day_idx").collect()
    ]
    compact_revenue_monitor_store(spark, rstore)
    after = [
        tuple(r)
        for r in revenue_anomalies_from_store(spark, rstore).orderBy("day_idx").collect()
    ]
    assert before == after and before

    # --- attribution: compact MID-STREAM, then continue on the same ckpt
    want = [
        tuple(r)
        for r in all_queries()["q179_lasttouch_attribution"](spark, sf_dir).collect()
    ]
    erows = [tuple(r) for r in spark.read.parquet(f"{sf_dir}/events.parquet").collect()]
    erows.sort(key=lambda r: (r[1], r[0]))
    per = (len(erows) + 2) // 3
    esrc = str(tmp_path / "cmp_attr_src")
    os.makedirs(esrc)
    eschema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )

    def _drop(i):
        chunk = erows[i * per : (i + 1) * per]
        p = os.path.join(esrc, f"drop_{i}.parquet")
        pq.write_table(
            pa.Table.from_pylist(
                [dict(zip(eschema.names, r)) for r in chunk], schema=eschema
            ),
            p,
        )
        os.utime(p, (base + 10 * i,) * 2)

    astore = str(tmp_path / "cmp_attr_store")
    ackpt = str(tmp_path / "cmp_attr_ckpt")
    _drop(0)
    _drop(1)
    stream = lambda: (  # noqa: E731
        spark.readStream.schema(_EV_SCHEMA_STR)
        .option("maxFilesPerTrigger", "1")
        .parquet(esrc)
    )
    run_stream_attribution(stream(), astore, ackpt)
    compact_attribution_store(spark, astore)
    _drop(2)
    run_stream_attribution(stream(), astore, ackpt)
    got = [tuple(r) for r in attribution_from_store(spark, astore).collect()]
    assert got == want


# ---------------------------------------------------------------------------
# Incremental MinHash-LSH near-dup store (VERDICT r5 item 7): planted
# near-dup corpus — one exact-dup pair (case variant), two append-suffix
# near-dups (word-3-shingle jac 0.9-0.95), one unrelated doc — so the
# store must emit within-batch AND cross-batch pairs at verified jac.
# ---------------------------------------------------------------------------

_ND_BASE = (
    "the quick brown fox jumps over the lazy dog while seven wizards "
    "brew strong coffee near the old stone bridge"
)
_ND_DOCS = [
    (1, _ND_BASE, "en", "srcA"),
    (2, _ND_BASE.upper(), "en", "srcB"),          # exact dup of 1 (jac 1.0)
    (3, _ND_BASE + " tonight", "en", "srcB"),     # jac 18/19 vs 1
    (4, _ND_BASE + " tonight again", "en", "srcC"),  # jac 18/20 vs 1
    (5, "completely unrelated tiny text", "de", "srcA"),
]
_ND_DROPS = [_ND_DOCS[0:2], _ND_DOCS[2:4], _ND_DOCS[4:5]]


def test_stream_lsh_dedup_store_equals_batch_q36_any_arrival_order(spark, tmp_path):
    """The LSH ingest store's folded pairs must equal batch q36 exactly —
    for in-order AND reversed drops (each unordered pair is emitted once,
    by the batch that sees its second member, with content-determined
    jac)."""
    from big_data_computing_final_project_spark.streaming.events import (
        near_dup_pairs_from_store,
        run_stream_lsh_dedup,
    )

    corpus = _write_corpus_nd(tmp_path / "nd_corpus")
    want = [
        tuple(r)
        for r in all_queries()["q36_minhash_lsh_dedup"](spark, corpus).collect()
    ]
    assert len(want) == 6  # C(4,2) pairs among docs 1-4, none for doc 5

    for case, order in (("fwd", _ND_DROPS), ("rev", list(reversed(_ND_DROPS)))):
        src_dir = _write_doc_drops(tmp_path / f"nd_arrivals_{case}", order)
        store = str(tmp_path / f"nd_store_{case}")
        run_stream_lsh_dedup(
            _docs_stream(spark, src_dir).select("doc_id", "text"),
            store,
            str(tmp_path / f"nd_ckpt_{case}"),
        )
        got = [tuple(r) for r in near_dup_pairs_from_store(spark, store).collect()]
        assert got == want, case


def test_stream_lsh_dedup_store_compaction_and_continued_ingest(spark, tmp_path):
    """Mid-stream compaction of the LSH store must preserve the fold AND
    keep later cross-batch candidate lookups working (the compacted state
    delta stays visible to the batch_id < N filter)."""
    from big_data_computing_final_project_spark.streaming.events import (
        compact_lsh_dedup_store,
        near_dup_pairs_from_store,
        run_stream_lsh_dedup,
    )

    corpus = _write_corpus_nd(tmp_path / "nd_corpus2")
    want = [
        tuple(r)
        for r in all_queries()["q36_minhash_lsh_dedup"](spark, corpus).collect()
    ]

    src_dir = tmp_path / "nd_arrivals_c"
    store = str(tmp_path / "nd_store_c")
    ckpt = str(tmp_path / "nd_ckpt_c")
    # drops 0-1 arrive; drain; compact in the maintenance window
    _write_doc_drops(src_dir, _ND_DROPS[0:2])

    def _stream():
        return _docs_stream(spark, str(src_dir)).select("doc_id", "text")

    run_stream_lsh_dedup(_stream(), store, ckpt)
    before = [tuple(r) for r in near_dup_pairs_from_store(spark, store).collect()]
    compact_lsh_dedup_store(spark, store)
    after = [tuple(r) for r in near_dup_pairs_from_store(spark, store).collect()]
    assert after == before and len(before) > 0

    # drop 2 arrives post-compaction on the SAME checkpoint
    import time as _t

    p = str(src_dir / "drop_late.parquet")
    import pyarrow.parquet as _pq

    _pq.write_table(_docs_tbl(_ND_DROPS[2]), p)
    os.utime(p, (_t.time(), _t.time()))
    run_stream_lsh_dedup(_stream(), store, ckpt)
    final = [tuple(r) for r in near_dup_pairs_from_store(spark, store).collect()]
    assert final == want


def _write_corpus_nd(corpus_dir) -> str:
    from _fixtures import write_planted_corpus

    return write_planted_corpus(corpus_dir, _ND_DOCS)


def test_stream_lsh_dedup_fresh_checkpoint_replay_after_compaction(spark, tmp_path):
    """ADVICE r6 replay safety: after compaction folds history into the max
    batch_id, a stream restarted on a FRESH checkpoint re-delivers every
    drop with ids starting at 0 — reaching (and previously overwriting) the
    compacted id. The `_compaction_floor` marker remaps those ids above the
    compacted delta and the doc-level anti-join makes the re-delivery a
    no-op, so the fold stays exactly q36; a genuinely new doc afterwards
    still pairs against the full compacted state."""
    import shutil
    import time as _t

    import pyarrow.parquet as _pq

    from big_data_computing_final_project_spark.streaming.events import (
        compact_lsh_dedup_store,
        near_dup_pairs_from_store,
        run_stream_lsh_dedup,
    )

    corpus = _write_corpus_nd(tmp_path / "nd_corpus3")
    want = [
        tuple(r)
        for r in all_queries()["q36_minhash_lsh_dedup"](spark, corpus).collect()
    ]

    src_dir = tmp_path / "nd_arrivals_r"
    store = str(tmp_path / "nd_store_r")
    ckpt = str(tmp_path / "nd_ckpt_r")
    _write_doc_drops(src_dir, _ND_DROPS[0:2])  # docs 1-4: all 6 pairs

    def _stream():
        return _docs_stream(spark, str(src_dir)).select("doc_id", "text")

    run_stream_lsh_dedup(_stream(), store, ckpt)
    compact_lsh_dedup_store(spark, store)
    folded = [tuple(r) for r in near_dup_pairs_from_store(spark, store).collect()]
    assert folded == want

    # fresh checkpoint: ids restart at 0 and every already-folded doc is
    # re-delivered, including a batch id EQUAL to the compacted delta's
    shutil.rmtree(ckpt)
    run_stream_lsh_dedup(_stream(), store, str(tmp_path / "nd_ckpt_r2"))
    replayed = [tuple(r) for r in near_dup_pairs_from_store(spark, store).collect()]
    assert replayed == want  # no overwrite, no duplicate or self pairs

    # a genuinely new doc still joins against the compacted + replay state
    p = str(src_dir / "drop_new.parquet")
    _pq.write_table(_docs_tbl(_ND_DROPS[2]), p)
    os.utime(p, (_t.time(), _t.time()))
    run_stream_lsh_dedup(_stream(), store, str(tmp_path / "nd_ckpt_r2"))
    final = [tuple(r) for r in near_dup_pairs_from_store(spark, store).collect()]
    assert final == want  # doc 5 is unrelated: fold unchanged, ingest clean


def test_stream_lsh_dedup_remap_never_collides_with_continued_ingest(
    spark, tmp_path
):
    """ADVICE r7 collision safety: effective batch ids must be injective.
    Scenario: drop A ingests (raw 0), compaction folds it (floor 0), drop B
    with GENUINELY NEW pairing docs continues on the same checkpoint (raw 1
    -> eff floor+1+1 = 2), then a fresh-checkpoint stream re-delivers both
    drops (raw 0 -> eff 1, raw 1 -> eff 2, same content). Under the old
    below-floor-only remap, the fresh raw 0 remapped to eff 1 while the
    continuing raw 1 KEPT id 1 — the emptied replay overwrote drop B's
    delta and silently lost its pairs. Uniform remap keeps every eff id
    unique per raw id, so the fold must still equal batch q36 over all four
    docs, and a brand-new doc afterwards still ingests cleanly above the
    high-water mark."""
    import shutil
    import time as _t

    import pyarrow.parquet as _pq

    from big_data_computing_final_project_spark.streaming.events import (
        compact_lsh_dedup_store,
        near_dup_pairs_from_store,
        run_stream_lsh_dedup,
    )

    corpus = _write_corpus_nd(tmp_path / "nd_corpus4")
    want = [
        tuple(r)
        for r in all_queries()["q36_minhash_lsh_dedup"](spark, corpus).collect()
    ]
    assert len(want) == 6

    src_dir = tmp_path / "nd_arrivals_x"
    store = str(tmp_path / "nd_store_x")
    ckpt = str(tmp_path / "nd_ckpt_x")
    _write_doc_drops(src_dir, _ND_DROPS[0:1])  # docs 1-2: pair (1,2) only

    def _stream():
        return _docs_stream(spark, str(src_dir)).select("doc_id", "text")

    run_stream_lsh_dedup(_stream(), store, ckpt)
    compact_lsh_dedup_store(spark, store)  # floor = 0

    # drop B (docs 3-4, 5 new pairs) continues on the SAME checkpoint
    p = str(src_dir / "drop_b.parquet")
    _pq.write_table(_docs_tbl(_ND_DROPS[1]), p)
    os.utime(p, (_t.time(), _t.time()))
    run_stream_lsh_dedup(_stream(), store, ckpt)
    assert [
        tuple(r) for r in near_dup_pairs_from_store(spark, store).collect()
    ] == want

    # fresh checkpoint re-delivers BOTH drops with raw ids restarting at 0;
    # no remapped id may land on drop B's delta
    shutil.rmtree(ckpt)
    run_stream_lsh_dedup(_stream(), store, str(tmp_path / "nd_ckpt_x2"))
    replayed = [tuple(r) for r in near_dup_pairs_from_store(spark, store).collect()]
    assert replayed == want  # old remap lost drop B's 5 pairs here

    # a genuinely new doc on the fresh checkpoint still ingests cleanly
    p2 = str(src_dir / "drop_new.parquet")
    _pq.write_table(_docs_tbl(_ND_DROPS[2]), p2)
    os.utime(p2, (_t.time() + 1, _t.time() + 1))
    run_stream_lsh_dedup(_stream(), store, str(tmp_path / "nd_ckpt_x2"))
    final = [tuple(r) for r in near_dup_pairs_from_store(spark, store).collect()]
    assert final == want  # doc 5 unrelated: fold unchanged


def test_stream_decode_health_equals_batch_q220_and_compaction(spark, tmp_path):
    """Decode-health-at-ingest (q220's streaming twin): planted real-format
    blobs arrive in two drops; the folded store must equal the q220-shaped
    batch report over the full set — for forward AND reversed arrival
    (counts additive) — and mid-stream compaction must preserve the fold."""
    import pyarrow.parquet as _pq
    from _fixtures import attach_media_mix

    from big_data_computing_final_project_spark.operators.multimodal import decode_health
    from big_data_computing_final_project_spark.streaming.events import (
        compact_decode_health_store,
        decode_health_report_from_store,
        run_stream_decode_health,
    )
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # 40 docs across 2 sources: every format gets good and bad instances
    all_rows = [(i, "srcA" if i % 2 == 0 else "srcB") for i in range(40)]
    docs = spark.createDataFrame(all_rows, "doc_id long, source string")
    counts = decode_health(attach_media_mix(docs)).groupBy(
        "source", "fmt", "status"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    w = Window.partitionBy("source", "fmt")
    want = [
        tuple(r)
        for r in counts.select(
            "source", "fmt", "status", "n_docs",
            (F.col("n_docs").cast("double") / F.sum("n_docs").over(w)).alias(
                "share_of_fmt"
            ),
        ).orderBy("source", "fmt", "status").collect()
    ]
    assert len(want) >= 10

    from _fixtures import planted_media_table as blob_tbl

    drops = [all_rows[:20], all_rows[20:]]
    for case, order in (("fwd", drops), ("rev", list(reversed(drops)))):
        src_dir = tmp_path / f"dh_arrivals_{case}"
        src_dir.mkdir()
        import time as _t

        base = _t.time() - 3600
        for i, sub in enumerate(order):
            p = str(src_dir / f"drop_{i}.parquet")
            _pq.write_table(blob_tbl(sub), p)
            os.utime(p, (base + 10 * i, base + 10 * i))
        store = str(tmp_path / f"dh_store_{case}")
        stream = spark.readStream.schema(
            "doc_id long, source string, content binary"
        ).option("maxFilesPerTrigger", "1").parquet(str(src_dir))
        run_stream_decode_health(stream, store, str(tmp_path / f"dh_ckpt_{case}"))
        got = [
            tuple(r)
            for r in decode_health_report_from_store(spark, store).collect()
        ]
        assert got == want, case

    # compaction folds the deltas without changing the report
    store = str(tmp_path / "dh_store_fwd")
    compact_decode_health_store(spark, store)
    after = [
        tuple(r) for r in decode_health_report_from_store(spark, store).collect()
    ]
    assert after == want


def test_stream_integrity_audit_equals_batch(spark, tmp_path):
    """Referential-integrity-at-ingest (q206's streaming twin): planted
    orders arrive in two drops with 3 orphan custkeys (one repeated across
    drops, one null FK); the folded store must equal the batch audit of
    the full data — for forward AND reversed arrival (counts additive,
    orphan keys distinct-folded)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_computing_final_project_spark.streaming.events import (
        integrity_report_from_store,
        run_stream_integrity_audit,
    )

    dim = spark.createDataFrame([(1,), (2,), (3,)], "c_custkey long")
    drops = [
        [(10, 1), (11, 2), (12, 99), (13, None)],   # orphan 99, null FK
        [(14, 99), (15, 98), (16, 3)],              # orphan 99 again + 98
    ]

    def run(case, order):
        src = tmp_path / f"ia_{case}"
        src.mkdir()
        import os as _os
        import time as _t

        base = _t.time() - 3600
        for i, sub in enumerate(order):
            tbl = pa.table(
                {
                    "o_orderkey": pa.array([r[0] for r in sub], pa.int64()),
                    "o_custkey": pa.array([r[1] for r in sub], pa.int64()),
                }
            )
            p = str(src / f"drop_{i}.parquet")
            pq.write_table(tbl, p)
            _os.utime(p, (base + 10 * i, base + 10 * i))
        stream = (
            spark.readStream.schema("o_orderkey long, o_custkey long")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )
        store = str(tmp_path / f"ia_store_{case}")
        run_stream_integrity_audit(
            stream, "o_custkey", dim, "c_custkey",
            store, str(tmp_path / f"ia_ckpt_{case}"),
        )
        return integrity_report_from_store(spark, store).collect()[0]

    for case, order in (("fwd", drops), ("rev", list(reversed(drops)))):
        r = run(case, order)
        assert (r.n_rows, r.n_null_fk, r.n_orphans, r.n_orphan_keys) == (
            7, 1, 3, 2,
        ), (case, r)


def test_flat_store_compaction_floor_survives_folded_id_replay(spark, tmp_path):
    """ADVICE r8: every compactable FLAT store (decode-health, volume, CDC —
    the store_dir IS the swapped batch_id=* directory) must survive a
    replay of an already-folded raw batch id. Scenario: two batches ingest,
    compaction folds them into the MAX batch_id partition, then batch 1 is
    re-delivered with its RAW id (crash between the delta write and the
    checkpoint commit, compaction run on restart before the stream
    resumes). Before the floor remap the replay mode('overwrite')-destroyed
    the folded partition — the fold collapsed to just the replayed batch's
    rows. With the remap the replay lands ABOVE the floor: history is
    preserved (additive stores at worst double-count the one replayed
    batch; the CDC latest-wins fold is exactly unchanged)."""
    from big_data_computing_final_project_spark.streaming.events import (
        _HEALTH,
        _VOLUME,
        _ingest,
        compact_cdc_store,
        compact_decode_health_store,
        compact_volume_store,
        decode_health_report_from_store,
    )
    from big_data_computing_final_project_spark.operators.multimodal import _mix_blob

    # --- decode-health: 20 docs in 2 batches over the planted mix
    rows = [(i, "srcA" if i % 2 == 0 else "srcB") for i in range(20)]

    def media_df(sub):
        return spark.createDataFrame(
            [(i, s, _mix_blob(i)) for i, s in sub],
            "doc_id long, source string, content binary",
        )

    dh_store = str(tmp_path / "dh_flat")
    _ingest(_HEALTH, media_df(rows[:10]), 0, dh_store)
    _ingest(_HEALTH, media_df(rows[10:]), 1, dh_store)
    full = {
        (r.source, r.fmt, r.status): r.n_docs
        for r in decode_health_report_from_store(spark, dh_store).collect()
    }
    from big_data_computing_final_project_spark.operators.multimodal import (
        decode_health,
    )
    from pyspark.sql import functions as F

    b2_only = {
        (r.source, r.fmt, r.status): r.n_docs
        for r in decode_health(media_df(rows[10:]))
        .groupBy("source", "fmt", "status")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .collect()
    }
    compact_decode_health_store(spark, dh_store)
    # replay batch 1 with its RAW id — the folded partition's id range
    _ingest(_HEALTH, media_df(rows[10:]), 1, dh_store)
    after = {
        (r.source, r.fmt, r.status): r.n_docs
        for r in decode_health_report_from_store(spark, dh_store).collect()
    }
    # destruction symptom would be after == b2_only; the remap keeps all
    # history and double-counts exactly the replayed batch
    assert after == {
        k: full[k] + b2_only.get(k, 0) for k in full
    }, "decode-health history lost on folded-id replay"

    # --- volume store: same scenario, additive (source, lang) partials
    def vol_df(lo, hi):
        return spark.createDataFrame(
            [(f"s{i % 2}", "en", 10 + i, 100 + i) for i in range(lo, hi)],
            "source string, lang string, n_toks long, n_chars long",
        )

    v_store = str(tmp_path / "vol_flat")

    def v_fold():
        return {
            (r.source, r.lang): r.n_docs
            for r in spark.read.schema(
                "source string, lang string, n_docs bigint, "
                "n_tokens bigint, n_chars bigint"
            )
            .option("basePath", v_store)
            .parquet(f"{v_store}/batch_id=*")
            .groupBy("source", "lang")
            .agg(F.sum("n_docs").cast("bigint").alias("n_docs"))
            .collect()
        }

    _ingest(_VOLUME, vol_df(0, 6), 0, v_store)
    _ingest(_VOLUME, vol_df(6, 10), 1, v_store)
    v_full = v_fold()
    compact_volume_store(spark, v_store)
    _ingest(_VOLUME, vol_df(6, 10), 1, v_store)  # folded-id replay
    v_after = v_fold()
    assert all(v_after[k] >= v_full[k] > 0 for k in v_full), (
        "volume history lost on folded-id replay"
    )

    # --- CDC store: latest-wins fold is exactly idempotent under replay
    from big_data_computing_final_project_spark.plans.cdc import latest_cdc_ops
    from big_data_computing_final_project_spark.streaming.events import _CDC
    import os as _os

    def ops_df(rows_):
        return spark.createDataFrame(
            rows_, "k bigint, seq int, op string, st string, pr double"
        )

    c_store = str(tmp_path / "cdc_flat")
    b0 = ops_df([(1, 1, "I", "O", 10.0), (2, 2, "I", "F", 20.0)])
    b1 = ops_df([(1, 3, "U", "F", 11.0), (3, 4, "I", "O", 30.0)])
    for i, b in enumerate((b0, b1)):
        latest_cdc_ops(b).write.mode("overwrite").parquet(
            _os.path.join(c_store, f"batch_id={i}")
        )
    want_cdc = sorted(tuple(r) for r in _CDC.part().fold(spark, c_store).collect())
    compact_cdc_store(spark, c_store)
    # replay batch 1 with its raw id through the remapping ingest path
    from big_data_computing_final_project_spark.streaming.events import (
        _effective_batch_id,
    )

    eff = _effective_batch_id(c_store, 1, _CDC)
    assert eff > 1, "floor marker missing after compact_cdc_store"
    latest_cdc_ops(b1).write.mode("overwrite").parquet(
        _os.path.join(c_store, f"batch_id={eff}")
    )
    got_cdc = sorted(tuple(r) for r in _CDC.part().fold(spark, c_store).collect())
    assert got_cdc == want_cdc, "CDC latest-wins fold changed under replay"

    # --- the floor marker TRAVELS with the store (ADVICE r9): it lives
    # inside the store dir, so a directory-level move/copy/backup keeps
    # the floor attached and a folded-id replay at the new location still
    # remaps above the compacted delta
    moved = str(tmp_path / "cdc_flat_moved")
    _os.rename(c_store, moved)
    assert _effective_batch_id(moved, 1, _CDC) > 1, (
        "floor marker detached from the store by a directory-level move"
    )


def test_stream_decode_health_monitor_alerts_on_spike_quiet_when_clean(
    spark, tmp_path
):
    """Decode-health ALERT monitor (VERDICT r8 item 3): drop 0 is clean
    (no planted-malformed ids) -> every per-source log row is quiet;
    drop 1 plants a malformed spike in srcB only -> srcB's cumulative
    malformed share crosses the threshold and alerts on exactly that
    batch, while srcA stays quiet throughout."""
    import time as _t

    import pyarrow.parquet as _pq

    from big_data_computing_final_project_spark.streaming.events import (
        decode_health_monitor_log,
        run_stream_decode_health_monitor,
    )

    # ids avoiding %7==0 and %11==0 are always 'ok'; multiples of 7 (not
    # 11) decode as planted-malformed
    drop0 = [(1, "srcA"), (2, "srcA"), (3, "srcA"), (4, "srcA"), (5, "srcA"),
             (6, "srcB"), (8, "srcB"), (9, "srcB"), (10, "srcB"), (12, "srcB")]
    drop1 = [(13, "srcA"), (15, "srcA"), (16, "srcA"), (17, "srcA"),
             (7, "srcB"), (14, "srcB"), (21, "srcB"),
             (28, "srcB"), (35, "srcB"), (49, "srcB")]

    from _fixtures import planted_media_table as blob_tbl

    src_dir = tmp_path / "dhm_arrivals"
    src_dir.mkdir()
    base = _t.time() - 3600
    for i, sub in enumerate((drop0, drop1)):
        p = str(src_dir / f"drop_{i}.parquet")
        _pq.write_table(blob_tbl(sub), p)
        os.utime(p, (base + 10 * i, base + 10 * i))
    store = str(tmp_path / "dhm_store")
    stream = (
        spark.readStream.schema("doc_id long, source string, content binary")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src_dir))
    )
    run_stream_decode_health_monitor(
        stream, store, str(tmp_path / "dhm_ckpt"), alert_share=0.2
    )
    log = [
        (r.batch_id, r.source, r.n_docs, r.n_malformed, r.alert)
        for r in decode_health_monitor_log(spark, store).collect()
    ]
    assert log == [
        (0, "srcA", 5, 0, False),
        (0, "srcB", 5, 0, False),
        (1, "srcA", 9, 0, False),   # cumulative, still clean
        (1, "srcB", 11, 6, True),   # 6/11 >= 0.2 -> fires on this drop
    ], log
    shares = {
        (r.batch_id, r.source): r.malformed_share
        for r in decode_health_monitor_log(spark, store).collect()
    }
    assert shares[(1, "srcB")] == 6.0 / 11.0


def test_stream_volume_monitor_alerts_on_collapse_quiet_when_steady(spark, tmp_path):
    """Volume-QUIET alert monitor (VERDICT r9 item 4): srcB's share
    collapses to zero for two consecutive drops -> the quiet streak
    reaches k=2 and alerts on exactly the second silent drop; when the
    feed returns, the streak resets and the alert clears. srcA never goes
    quiet. A steady twin corpus (both sources in every drop) produces a
    log with zero quiet rows and zero alerts."""
    from big_data_computing_final_project_spark.streaming.events import (
        run_stream_volume_monitor,
        volume_monitor_log,
    )

    def mk(i, s):
        return (i, f"planted text body {i}", "en", s)

    collapse = [
        [mk(0, "srcA"), mk(1, "srcA"), mk(2, "srcB"), mk(3, "srcB")],
        [mk(4, "srcA"), mk(5, "srcA"), mk(6, "srcB")],
        [mk(7, "srcA"), mk(8, "srcA")],                 # srcB silent: streak 1
        [mk(9, "srcA"), mk(10, "srcA")],                # srcB silent: streak 2 -> ALERT
        [mk(11, "srcA"), mk(12, "srcB"), mk(13, "srcB")],  # feed returns: reset
    ]
    src = _write_doc_drops(tmp_path / "vm_collapse", collapse)
    store = str(tmp_path / "volmon")
    run_stream_volume_monitor(
        _docs_stream(spark, src),
        ["srcA", "srcB"],
        store,
        str(tmp_path / "ckpt_volmon"),
        min_share=0.05,
        k=2,
    )
    by = {
        (r.batch_id, r.source): r
        for r in volume_monitor_log(spark, store).collect()
    }
    assert len(by) == 10  # 5 drops x 2 known sources
    a_rows = [by[(b, "srcA")] for b in range(5)]
    assert all(not r.quiet and not r.alert and r.quiet_streak == 0 for r in a_rows)
    b_rows = [by[(b, "srcB")] for b in range(5)]
    assert [r.n_docs for r in b_rows] == [2, 1, 0, 0, 2]
    assert [r.quiet for r in b_rows] == [False, False, True, True, False]
    assert [r.quiet_streak for r in b_rows] == [0, 0, 1, 2, 0]
    assert [r.alert for r in b_rows] == [False, False, False, True, False]
    assert by[(0, "srcB")].share == 0.5
    # the counts half doubles as a plain volume store: the fold over the
    # staged partials equals the corpus totals per source
    from big_data_computing_final_project_spark.streaming.events import (
        _read_store_deltas,
    )

    from pyspark.sql import functions as F

    vol = {
        (r.source): r.n
        for r in _read_store_deltas(
            spark,
            os.path.join(store, "counts"),
            "source string, lang string, n_docs bigint, n_tokens bigint, "
            "n_chars bigint",
        )
        .groupBy("source")
        .agg(F.sum("n_docs").cast("bigint").alias("n"))
        .collect()
    }
    assert vol == {"srcA": 9, "srcB": 5}

    # steady twin: both sources present in every drop -> all-quiet log
    steady = [
        [mk(100 + 2 * i, "srcA"), mk(101 + 2 * i, "srcB")] for i in range(3)
    ]
    src2 = _write_doc_drops(tmp_path / "vm_steady", steady)
    store2 = str(tmp_path / "volmon2")
    run_stream_volume_monitor(
        _docs_stream(spark, src2),
        ["srcA", "srcB"],
        store2,
        str(tmp_path / "ckpt_volmon2"),
        min_share=0.05,
        k=2,
    )
    rows2 = volume_monitor_log(spark, store2).collect()
    assert len(rows2) == 6 and not any(r.quiet or r.alert for r in rows2)


def test_ingest_heals_crashed_compaction_before_writing(spark, tmp_path):
    """Round-9 hardening: a compaction that dies between its two renames
    leaves the live store dir missing and `.old` holding ALL history. If
    the stream resumes BEFORE any fold runs, the ingest used to recreate
    the live dir — and the next _recover_compaction would then delete the
    .old backup as a stale leftover, silently losing history. Ingests now
    heal first: the post-crash fold must contain every batch."""
    import os as _os

    from big_data_computing_final_project_spark.streaming.events import (
        _DUP_FLOW,
        _HEALTH,
        _ingest,
        compact_decode_health_store,
        compact_dup_flow_store,
        decode_health_report_from_store,
        dup_flow_matrix_from_store,
    )

    # --- flat store (decode-health) ---
    rows = [(i, "srcA" if i % 2 == 0 else "srcB") for i in range(20)]

    def media_df(sub):
        from big_data_computing_final_project_spark.operators.multimodal import (
            _mix_blob,
        )

        return spark.createDataFrame(
            [(i, s, _mix_blob(i)) for i, s in sub],
            "doc_id long, source string, content binary",
        )

    store = str(tmp_path / "dh_heal")
    _ingest(_HEALTH, media_df(rows[:8]), 0, store)
    _ingest(_HEALTH, media_df(rows[8:16]), 1, store)
    before = {
        (r.source, r.fmt, r.status): r.n_docs
        for r in decode_health_report_from_store(spark, store).collect()
    }
    compact_decode_health_store(spark, store)
    _os.rename(store, store + ".old")  # the mid-compaction crash window
    _ingest(_HEALTH, media_df(rows[16:]), 2, store)
    after = {
        (r.source, r.fmt, r.status): r.n_docs
        for r in decode_health_report_from_store(spark, store).collect()
    }
    # every pre-crash count is preserved (b2 adds on top)
    assert all(after.get(k, 0) >= v for k, v in before.items()), (
        "decode-health history lost after crashed compaction + resume"
    )
    assert sum(after.values()) == 20

    # --- two-level store (dup-flow keepers) ---
    def docs_df(sub):
        return spark.createDataFrame(sub, "doc_id long, source string, fp string")

    dstore = str(tmp_path / "df_heal")
    _ingest(_DUP_FLOW, docs_df([(1, "a", "f1"), (2, "b", "f1")]), 0, dstore)
    _ingest(_DUP_FLOW, docs_df([(3, "c", "f1")]), 1, dstore)
    want = [tuple(r) for r in dup_flow_matrix_from_store(spark, dstore).collect()]
    assert want  # a -> b and a -> c edges exist
    compact_dup_flow_store(spark, dstore)
    keepers = _os.path.join(dstore, "keepers")
    _os.rename(keepers, keepers + ".old")  # crash window on one subdir
    _ingest(_DUP_FLOW, docs_df([(4, "d", "f1")]), 2, dstore)
    got = [tuple(r) for r in dup_flow_matrix_from_store(spark, dstore).collect()]
    # keeper history healed: doc 4 is a DUP of keeper source 'a', never a
    # fresh keeper (which is what a lost keeper store would make it)
    assert {(r[0]) for r in got} == {"a"}
    assert sum(r[2] for r in got) == 3  # three dup docs total


def test_dup_flow_folded_replay_manufactures_no_self_edges(spark, tmp_path):
    """The bounded double-count schedule (a batch's delta compacted before
    its checkpoint commit, then replayed above the floor — a violation of
    the maintenance-window contract) double-counts that batch's EDGES,
    which is accepted and documented; since round 11 it must no longer
    manufacture a SELF-edge: the replayed keeper doc recognizes its own
    folded keeper entry by keeper_doc_id and never emits itself as a
    duplicate (VERDICT r10 item 7)."""
    from big_data_computing_final_project_spark.streaming.events import (
        _DUP_FLOW,
        _ingest,
        compact_dup_flow_store,
        dup_flow_matrix_from_store,
    )

    store = str(tmp_path / "flowstore")
    batch = spark.createDataFrame(
        [(1, "srcA", "x"), (2, "srcB", "x")],
        "doc_id long, source string, fp string",
    )
    _ingest(_DUP_FLOW, batch, 0, store)
    before = {
        (r.keeper_source, r.dup_source): (r.n_docs, r.n_groups)
        for r in dup_flow_matrix_from_store(spark, store).collect()
    }
    assert before == {("srcA", "srcB"): (1, 1)}

    compact_dup_flow_store(spark, store)  # folds batch 0, writes the floor
    _ingest(_DUP_FLOW, batch, 0, store)  # the window-contract-violating replay

    after = {
        (r.keeper_source, r.dup_source): (r.n_docs, r.n_groups)
        for r in dup_flow_matrix_from_store(spark, store).collect()
    }
    # the accepted bounded double-count: the A->B edge counts twice ...
    # ... and NO srcA->srcA self-edge from doc 1 seeing its own keeper
    assert after == {("srcA", "srcB"): (2, 1)}


def test_neardup_labels_store_budget_equals_batch_q226_any_arrival(spark, tmp_path):
    """VERDICT r10 item 3: the near-dup label store's budget fold must
    equal batch q226 (NEAR-dup-netted effective tokens, not just
    exact-fp) after the backlog drains — for in-order AND reversed
    drops: the pair set is arrival-independent (pinned) and the
    min-label fold is commutative."""
    from big_data_computing_final_project_spark.streaming.events import (
        dedup_adjusted_budget_from_labels_store,
        run_stream_ingest_suite,
    )

    corpus = _write_corpus_nd(tmp_path / "ndl_corpus")
    want = [
        tuple(r)
        for r in all_queries()["q226_dedup_adjusted_budget"](spark, corpus).collect()
    ]
    # planted: cluster {1,2,3,4} keeps doc 1 (srcA); doc 5 singleton
    # (srcA) — srcB/srcC contribute raw mass but zero effective mass
    assert [(r[0], r[3] > 0) for r in want] == [
        ("srcA", True), ("srcB", False), ("srcC", False)
    ]

    for case, order in (("fwd", _ND_DROPS), ("rev", list(reversed(_ND_DROPS)))):
        src_dir = _write_doc_drops(tmp_path / f"ndl_arrivals_{case}", order)
        *_, labels_dir = run_stream_ingest_suite(
            _docs_stream(spark, src_dir),
            str(tmp_path / f"ndl_root_{case}"),
            str(tmp_path / f"ndl_ckpt_{case}"),
            near_dup=True,
        )
        got = [
            tuple(r)
            for r in dedup_adjusted_budget_from_labels_store(
                spark, labels_dir
            ).collect()
        ]
        assert got == want, case


def test_neardup_labels_store_compaction_and_continued_ingest(spark, tmp_path):
    """Mid-stream compaction of BOTH suite stores (LSH + labels) must
    preserve the budget fold and keep the continued stream consistent:
    the final budget equals batch q226 on the full corpus."""
    from big_data_computing_final_project_spark.streaming.events import (
        compact_lsh_dedup_store,
        compact_near_dup_labels_store,
        dedup_adjusted_budget_from_labels_store,
        run_stream_ingest_suite,
    )

    corpus = _write_corpus_nd(tmp_path / "ndl_corpus_c")
    src_dir = tmp_path / "ndl_arrivals_c"
    _write_doc_drops(src_dir, _ND_DROPS[0:2])
    root = str(tmp_path / "ndl_root_c")
    ckpt = str(tmp_path / "ndl_ckpt_c")

    def _go():
        return run_stream_ingest_suite(
            _docs_stream(spark, str(src_dir)), root, ckpt, near_dup=True
        )[-2:]

    lsh_dir, labels_dir = _go()
    before = [
        tuple(r)
        for r in dedup_adjusted_budget_from_labels_store(spark, labels_dir).collect()
    ]
    compact_lsh_dedup_store(spark, lsh_dir)
    compact_near_dup_labels_store(spark, labels_dir)
    after = [
        tuple(r)
        for r in dedup_adjusted_budget_from_labels_store(spark, labels_dir).collect()
    ]
    assert after == before

    # continue the third drop on the SAME checkpoint
    import time as _time

    import pyarrow.parquet as pq

    p = str(src_dir / "drop_late.parquet")
    pq.write_table(_docs_tbl(_ND_DROPS[2]), p)
    os.utime(p, (_time.time(), _time.time()))
    _go()
    final = [
        tuple(r)
        for r in dedup_adjusted_budget_from_labels_store(spark, labels_dir).collect()
    ]
    want = [
        tuple(r)
        for r in all_queries()["q226_dedup_adjusted_budget"](spark, corpus).collect()
    ]
    assert final == want


def _vec_tbl(rows):
    import pyarrow as pa

    return pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
        }
    )


def _vec_stream(spark, src_dir: str):
    return (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )


def test_stream_ivf_assign_store_equals_batch_audit_and_probe(spark, tmp_path, sf_dir):
    """VERDICT r10 item 4: stream the corpus embeddings through the IVF
    ingest store (frozen _ivf_fit centers). The store's count fold must
    equal batch q222 exactly (assignment kernel ties to
    KMeans.transform), and probing the STORE-built index must reproduce
    q64 row-for-row (same probe/rerank code, same assignments)."""
    import time

    import pyarrow.parquet as pq

    from big_data_computing_final_project_spark.plans.similarity import (
        _IVF_NLIST,
        _ivf_fit,
    )
    from big_data_computing_final_project_spark.streaming.events import (
        ivf_balance_from_store,
        ivf_monitor_log,
        ivf_topk_from_store,
        run_stream_ivf_assign,
    )

    centers, _ = _ivf_fit(spark, sf_dir)
    tbl = pq.read_table(os.path.join(sf_dir, "embeddings.parquet")).select(
        ["vec_id", "embedding"]
    )
    n = tbl.num_rows
    src = tmp_path / "vec_drops"
    src.mkdir()
    base = time.time() - 3600
    cuts = [(0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n)]
    for i, (lo, hi) in enumerate(cuts):
        p = str(src / f"drop_{i}.parquet")
        pq.write_table(tbl.slice(lo, hi - lo), p)
        os.utime(p, (base + 10 * i,) * 2)

    store = str(tmp_path / "ivf_store")
    run_stream_ivf_assign(
        _vec_stream(spark, str(src)), centers, store, str(tmp_path / "ivf_ckpt")
    )

    got = [tuple(r) for r in ivf_balance_from_store(spark, store, _IVF_NLIST).collect()]
    want = [
        tuple(r) for r in all_queries()["q222_ivf_cell_balance"](spark, sf_dir).collect()
    ]
    assert got == want

    got_topk = [tuple(r) for r in ivf_topk_from_store(spark, sf_dir, store).collect()]
    want_topk = [
        tuple(r) for r in all_queries()["q64_ann_ivf_topk"](spark, sf_dir).collect()
    ]
    assert got_topk == want_topk

    log = ivf_monitor_log(spark, store).collect()
    assert len(log) == 3 and log[-1].n_vecs == n
    # the final live verdict agrees with the batch audit's recommendation
    assert log[-1].alert == any(r[5] == "rebalance" for r in want)

    # full lifecycle: scoring the store-built ranking through the shared
    # metric core reproduces q229 (same assignments -> same ranking)
    from big_data_computing_final_project_spark.streaming.events import (
        ivf_retrieval_metrics_from_store,
    )

    got_eval = [
        tuple(r) for r in ivf_retrieval_metrics_from_store(spark, sf_dir, store).collect()
    ]
    want_eval = [
        tuple(r)
        for r in all_queries()["q229_ann_retrieval_ndcg"](spark, sf_dir).collect()
    ]
    assert got_eval == want_eval


def test_stream_ivf_monitor_alerts_on_hot_cell_drip(spark, tmp_path):
    """The live cell-balance monitor stays quiet while drops are
    balanced and fires exactly when a hot-cell drip pushes the
    cumulative imbalance factor over q222's rebalance threshold."""
    import time

    import pyarrow.parquet as pq

    from big_data_computing_final_project_spark.streaming.events import (
        ivf_monitor_log,
        run_stream_ivf_assign,
    )

    centers = [[4.0 * i, 4.0 * i] for i in range(8)]
    balanced1 = [(i, [4.0 * i + 0.1, 4.0 * i - 0.1]) for i in range(8)]
    balanced2 = [(10 + i, [4.0 * i - 0.1, 4.0 * i + 0.1]) for i in range(8)]
    hot = [(100 + j, [0.01 * j, -0.01 * j]) for j in range(30)]  # all cell 0

    src = tmp_path / "hot_drops"
    src.mkdir()
    base = time.time() - 3600
    for i, rows in enumerate([balanced1, balanced2, hot]):
        p = str(src / f"drop_{i}.parquet")
        pq.write_table(_vec_tbl(rows), p)
        os.utime(p, (base + 10 * i,) * 2)

    store = str(tmp_path / "hot_store")
    run_stream_ivf_assign(
        _vec_stream(spark, str(src)), centers, store, str(tmp_path / "hot_ckpt")
    )
    log = ivf_monitor_log(spark, store).collect()
    # quiet on both balanced drops; cumulative counts after the drip are
    # cell0=32 of 46 total -> imbalance 32*8/46 = 5.57 > 4 -> alert
    assert [r.alert for r in log] == [False, False, True]
    assert log[0].imbalance_factor == 1.0
    assert log[-1].imbalance_factor > 4.0


def test_stream_ivf_store_compaction_and_continued_ingest(spark, tmp_path):
    """Compacting the IVF ingest store mid-stream preserves the balance
    fold, and the continued stream's anti-join still drops replayed or
    already-indexed ids (the folded-delta contract)."""
    import time

    import pyarrow.parquet as pq

    from big_data_computing_final_project_spark.plans.similarity import (
        cell_balance_from_counts,
    )
    from big_data_computing_final_project_spark.streaming.events import (
        compact_ivf_assign_store,
        ivf_balance_from_store,
        run_stream_ivf_assign,
    )

    centers = [[4.0 * i, 4.0 * i] for i in range(4)]
    d1 = [(i, [4.0 * i + 0.1, 4.0 * i - 0.1]) for i in range(4)]
    d2 = [(10 + i, [4.0 * i - 0.1, 4.0 * i + 0.1]) for i in range(4)]
    src = tmp_path / "cmp_drops"
    src.mkdir()
    base = time.time() - 3600
    for i, rows in enumerate([d1, d2]):
        p = str(src / f"drop_{i}.parquet")
        pq.write_table(_vec_tbl(rows), p)
        os.utime(p, (base + 10 * i,) * 2)

    store = str(tmp_path / "cmp_store")
    ckpt = str(tmp_path / "cmp_ckpt")
    run_stream_ivf_assign(_vec_stream(spark, str(src)), centers, store, ckpt)
    before = [tuple(r) for r in ivf_balance_from_store(spark, store, 4).collect()]
    compact_ivf_assign_store(spark, store)
    after = [tuple(r) for r in ivf_balance_from_store(spark, store, 4).collect()]
    assert after == before

    # continue: a late drop REPEATING d2's ids plus one new vector — the
    # replayed ids must not double-index
    late = [(10, [0.1, -0.1]), (99, [12.1, 11.9])]
    p = str(src / "drop_late.parquet")
    pq.write_table(_vec_tbl(late), p)
    os.utime(p, (time.time(), time.time()))
    run_stream_ivf_assign(_vec_stream(spark, str(src)), centers, store, ckpt)
    final = {r.cell: r.n_vecs for r in ivf_balance_from_store(spark, store, 4).collect()}
    assert final == {0: 2, 1: 2, 2: 2, 3: 3}  # only vec 99 (cell 3) added


def test_ingest_suite_near_dup_one_pass_all_folds(spark, tmp_path):
    """run_stream_ingest_suite(near_dup=True): ONE pass over the planted
    near-dup drops maintains every corpus-health store — the flow matrix
    (exact-fp), the exact-fp budget, the LSH pair store, AND the
    cluster-label budget — each folding to its batch twin."""
    from big_data_computing_final_project_spark.streaming.events import (
        dedup_adjusted_budget_from_labels_store,
        dup_flow_matrix_from_store,
        near_dup_pairs_from_store,
        run_stream_ingest_suite,
    )

    corpus = _write_corpus_nd(tmp_path / "suite_nd_corpus")
    src_dir = _write_doc_drops(tmp_path / "suite_nd_arrivals", _ND_DROPS)
    dirs = run_stream_ingest_suite(
        _docs_stream(spark, str(src_dir)),
        str(tmp_path / "suite_nd_root"),
        str(tmp_path / "suite_nd_ckpt"),
        near_dup=True,
    )
    assert len(dirs) == 5
    flow_dir, _, _, lsh_dir, labels_dir = dirs

    got_pairs = [tuple(r) for r in near_dup_pairs_from_store(spark, lsh_dir).collect()]
    want_pairs = [
        tuple(r)
        for r in all_queries()["q36_minhash_lsh_dedup"](spark, corpus).collect()
    ]
    assert got_pairs == want_pairs

    got_budget = [
        tuple(r)
        for r in dedup_adjusted_budget_from_labels_store(spark, labels_dir).collect()
    ]
    want_budget = [
        tuple(r)
        for r in all_queries()["q226_dedup_adjusted_budget"](spark, corpus).collect()
    ]
    assert got_budget == want_budget

    got_flow = [tuple(r) for r in dup_flow_matrix_from_store(spark, flow_dir).collect()]
    want_flow = [
        tuple(r) for r in all_queries()["q146_dup_flow_matrix"](spark, corpus).collect()
    ]
    assert got_flow == want_flow


# ---------------------------------------------------------------------------
# live curation scorecard (round 11): the q232 table folded from stores
# ---------------------------------------------------------------------------


def test_scorecard_suite_fold_equals_batch_q232(spark, tmp_path):
    """run_stream_ingest_suite(scorecard=True): after full ingest the
    store fold must equal batch q232 TUPLE-EXACTLY — under forward AND
    reversed arrival (every scorecard signal is either additive or the
    arrival-order-independent dup exposure), so the live table can never
    disagree with what a batch rebuild would say."""
    from big_data_computing_final_project_spark.streaming.events import (
        curation_scorecard_from_stores,
        run_stream_ingest_suite,
    )

    corpus = _write_corpus(tmp_path / "sc_corpus")
    want = [
        tuple(r)
        for r in all_queries()["q232_curation_scorecard"](spark, corpus).collect()
    ]
    assert len(want) > 0

    for case, drops in (
        ("fwd", _PLANTED_DROPS),
        ("rev", list(reversed(_PLANTED_DROPS))),
    ):
        src_dir = _write_doc_drops(tmp_path / f"sc_arrivals_{case}", drops)
        root = str(tmp_path / f"sc_root_{case}")
        dirs = run_stream_ingest_suite(
            _docs_stream(spark, src_dir),
            root,
            str(tmp_path / f"sc_ckpt_{case}"),
            scorecard=True,
        )
        assert len(dirs) == 6  # flow, volume, kept + fert, health, shingles
        got = [
            tuple(r) for r in curation_scorecard_from_stores(spark, root).collect()
        ]
        assert got == want, case


def test_scorecard_stores_compaction_and_continued_ingest(spark, tmp_path):
    """Compacting every scorecard store mid-stream must leave the fold
    identical, and a continued ingest on the SAME checkpoint must land
    above the compaction floors — the final fold equals batch q232 over
    the full corpus."""
    import time as _time

    import pyarrow.parquet as pq

    from big_data_computing_final_project_spark.streaming.events import (
        compact_decode_health_store,
        compact_fert_store,
        compact_shingle_store,
        curation_scorecard_from_stores,
        run_stream_ingest_suite,
    )

    corpus = _write_corpus(tmp_path / "scc_corpus")
    src_dir = tmp_path / "scc_arrivals"
    _write_doc_drops(src_dir, _PLANTED_DROPS[0:2])
    root = str(tmp_path / "scc_root")
    ckpt = str(tmp_path / "scc_ckpt")
    run_stream_ingest_suite(
        _docs_stream(spark, str(src_dir)), root, ckpt, scorecard=True
    )
    before = [tuple(r) for r in curation_scorecard_from_stores(spark, root).collect()]
    compact_fert_store(spark, os.path.join(root, "fert"))
    compact_shingle_store(spark, os.path.join(root, "shingles"))
    compact_decode_health_store(spark, os.path.join(root, "health"))
    after = [tuple(r) for r in curation_scorecard_from_stores(spark, root).collect()]
    assert after == before

    # continue the stream: the third drop arrives after compaction
    p = str(src_dir / "drop_late.parquet")
    pq.write_table(_docs_tbl(_PLANTED_DROPS[2]), p)
    os.utime(p, (_time.time(), _time.time()))
    run_stream_ingest_suite(
        _docs_stream(spark, str(src_dir)), root, ckpt, scorecard=True
    )
    final = [tuple(r) for r in curation_scorecard_from_stores(spark, root).collect()]
    want = [
        tuple(r)
        for r in all_queries()["q232_curation_scorecard"](spark, corpus).collect()
    ]
    assert final == want


# ---------------------------------------------------------------------------
# incremental PQ maintenance (round 11): the q200 code store at ingest
# ---------------------------------------------------------------------------


def test_stream_pq_encode_store_equals_batch_q200(spark, tmp_path, sf_dir):
    """Stream the corpus embeddings through the PQ encode store (frozen
    _pq_books codebooks). Serving the STORE-built code table must
    reproduce q200 row-for-row (same encode expression, same ADC+rerank
    core), and the code-usage audit must account for every vector."""
    import time

    import pyarrow.parquet as pq

    from big_data_computing_final_project_spark.catalog import load_table
    from big_data_computing_final_project_spark.plans.similarity import (
        _PQ_K,
        _pq_books,
        as_double,
    )
    from big_data_computing_final_project_spark.streaming.events import (
        pq_code_balance_from_store,
        pq_monitor_log,
        pq_topk_from_store,
        run_stream_pq_encode,
    )
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("e")
    )
    dim = len(emb.select("e").first()["e"])
    books = _pq_books(spark, sf_dir, emb, dim)

    tbl = pq.read_table(os.path.join(sf_dir, "embeddings.parquet")).select(
        ["vec_id", "embedding"]
    )
    n = tbl.num_rows
    src = tmp_path / "pq_vec_drops"
    src.mkdir()
    base = time.time() - 3600
    cuts = [(0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n)]
    for i, (lo, hi) in enumerate(cuts):
        p = str(src / f"drop_{i}.parquet")
        pq.write_table(tbl.slice(lo, hi - lo), p)
        os.utime(p, (base + 10 * i,) * 2)

    store = str(tmp_path / "pq_store")
    run_stream_pq_encode(
        _vec_stream(spark, str(src)), books, store, str(tmp_path / "pq_ckpt")
    )

    got_topk = [tuple(r) for r in pq_topk_from_store(spark, sf_dir, store).collect()]
    want_topk = [
        tuple(r) for r in all_queries()["q200_pq_ann_topk"](spark, sf_dir).collect()
    ]
    assert got_topk == want_topk and len(got_topk) > 0

    bal = pq_code_balance_from_store(spark, store)
    per_m = {
        r["m"]: r["total"]
        for r in bal.groupBy("m").agg(F.sum("n_vecs").alias("total")).collect()
    }
    assert per_m == {m: n for m in range(len(books))}
    # every subspace audited over its full code range (empty codes kept)
    assert bal.count() == sum(len(b) for b in books)
    assert all(len(b) <= _PQ_K for b in books)

    log = pq_monitor_log(spark, store).collect()
    assert len(log) == 3 and log[-1].n_vecs == n


def test_stream_pq_store_compaction_and_continued_ingest(spark, tmp_path, sf_dir):
    """Compacting the PQ store mid-stream leaves the served ranking and
    the usage audit identical; a continued ingest on the SAME checkpoint
    lands above the floor and completes the corpus."""
    import time

    import pyarrow.parquet as pq

    from big_data_computing_final_project_spark.catalog import load_table
    from big_data_computing_final_project_spark.plans.similarity import (
        _pq_books,
        as_double,
    )
    from big_data_computing_final_project_spark.streaming.events import (
        compact_pq_code_store,
        pq_code_balance_from_store,
        pq_topk_from_store,
        run_stream_pq_encode,
    )
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("e")
    )
    dim = len(emb.select("e").first()["e"])
    books = _pq_books(spark, sf_dir, emb, dim)

    tbl = pq.read_table(os.path.join(sf_dir, "embeddings.parquet")).select(
        ["vec_id", "embedding"]
    )
    n = tbl.num_rows
    src = tmp_path / "pqc_vec_drops"
    src.mkdir()
    base = time.time() - 3600
    for i, (lo, hi) in enumerate([(0, n // 2), (n // 2, 3 * n // 4)]):
        p = str(src / f"drop_{i}.parquet")
        pq.write_table(tbl.slice(lo, hi - lo), p)
        os.utime(p, (base + 10 * i,) * 2)

    store = str(tmp_path / "pqc_store")
    ckpt = str(tmp_path / "pqc_ckpt")
    run_stream_pq_encode(_vec_stream(spark, str(src)), books, store, ckpt)
    before = [tuple(r) for r in pq_code_balance_from_store(spark, store).collect()]
    compact_pq_code_store(spark, store)
    after = [tuple(r) for r in pq_code_balance_from_store(spark, store).collect()]
    assert after == before

    p = str(src / "drop_late.parquet")
    pq.write_table(tbl.slice(3 * n // 4, n - 3 * n // 4), p)
    os.utime(p, (time.time(),) * 2)
    run_stream_pq_encode(_vec_stream(spark, str(src)), books, store, ckpt)

    got_topk = [tuple(r) for r in pq_topk_from_store(spark, sf_dir, store).collect()]
    want_topk = [
        tuple(r) for r in all_queries()["q200_pq_ann_topk"](spark, sf_dir).collect()
    ]
    assert got_topk == want_topk


def test_scorecard_monitor_pages_on_source_degradation(spark, tmp_path):
    """The scorecard degradation monitor: every source baselines
    un-degraded on first sighting; the drop that floods srcB with
    duplicates flips its recommendation strictly worse and fires
    ``degraded`` on exactly that batch; the final log row per source
    equals batch q232's verdict over the full corpus."""
    from _fixtures import write_planted_corpus

    from big_data_computing_final_project_spark.streaming.events import (
        run_stream_scorecard_monitor,
        scorecard_monitor_log,
    )

    tmpl = "the quick brown fox jumps over the lazy dog near the river bank"
    docs1 = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en", "srcA"),
        (2, "one two three four five six seven eight nine ten eleven", "en", "srcA"),
        (3, tmpl, "en", "srcB"),
        (4, "completely fresh wording with original content in every slot", "en", "srcB"),
    ]
    docs2 = [(5, tmpl, "en", "srcB"), (6, tmpl, "en", "srcB"), (8, tmpl, "en", "srcB")]

    corpus = write_planted_corpus(tmp_path / "mon_corpus", docs1 + docs2)
    src_dir = _write_doc_drops(tmp_path / "mon_arrivals", [docs1, docs2])
    root = str(tmp_path / "mon_root")
    run_stream_scorecard_monitor(
        _docs_stream(spark, src_dir), root, str(tmp_path / "mon_ckpt")
    )

    log = scorecard_monitor_log(spark, root).collect()
    by_batch = {}
    for r in log:
        by_batch.setdefault(r.batch_id, {})[r.source] = r
    assert set(by_batch) == {0, 1}
    # batch 0: both sources clean baselines
    assert by_batch[0]["srcA"].recommendation == "renew"
    assert by_batch[0]["srcB"].recommendation == "renew"
    assert not by_batch[0]["srcA"].degraded and not by_batch[0]["srcB"].degraded
    # batch 1: the dup flood degrades srcB and only srcB
    assert by_batch[1]["srcB"].degraded
    assert by_batch[1]["srcB"].recommendation in ("review", "reduce")
    assert by_batch[1]["srcA"].recommendation == "renew"
    assert not by_batch[1]["srcA"].degraded

    # the final verdicts equal batch q232 over the full corpus
    want = {
        r["source"]: (r["n_flags"], r["recommendation"])
        for r in all_queries()["q232_curation_scorecard"](spark, corpus).collect()
    }
    got = {
        s: (r.n_flags, r.recommendation) for s, r in by_batch[1].items()
    }
    assert got == want


def test_cluster_sizes_fold_equals_batch_q234(spark, tmp_path):
    """The label store's cluster-size fold equals batch q234 tuple-exactly
    after the near-dup ingest drains (converged min labels are the
    component labels), under forward AND reversed arrival."""
    from big_data_computing_final_project_spark.streaming.events import (
        cluster_sizes_from_labels_store,
        run_stream_ingest_suite,
    )

    corpus = _write_corpus_nd(tmp_path / "cs_corpus")
    want = [
        tuple(r)
        for r in all_queries()["q234_dedup_cluster_sizes"](spark, corpus).collect()
    ]
    assert len(want) > 0
    for case, drops in (("fwd", _ND_DROPS), ("rev", list(reversed(_ND_DROPS)))):
        src_dir = _write_doc_drops(tmp_path / f"cs_arrivals_{case}", drops)
        dirs = run_stream_ingest_suite(
            _docs_stream(spark, src_dir),
            str(tmp_path / f"cs_root_{case}"),
            str(tmp_path / f"cs_ckpt_{case}"),
            near_dup=True,
        )
        labels_dir = dirs[4]
        got = [
            tuple(r)
            for r in cluster_sizes_from_labels_store(spark, labels_dir).collect()
        ]
        assert got == want, case
