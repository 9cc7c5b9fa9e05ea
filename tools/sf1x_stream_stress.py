"""Synthetic ~sf1 stress of the STREAMING stores (round-5 backlog item:
"sf1x stress could add the streaming stores at 10x"). The batch families
are covered by tools/sf1x_stress.py; this drives the two newest
foreachBatch stores over the same 10x data and — unlike a pure cliff
run — asserts the store answers EQUAL their batch twins at that scale:

  dup-flow  run_stream_dup_flow over all 50k sf1x documents streamed as
            8 doc_id-ordered crawl drops (the ingest contract q146's
            streaming twin documents: arrival order == id order, so the
            store must equal batch q146_dup_flow_matrix EXACTLY).
  psi       run_stream_psi_counts over the 300k-row CURRENT split of the
            1.5M sf1x orders (o_totalprice, frozen reference bin edges,
            q151's split), in several micro-batches; bin counts are
            additive so psi_from_store must equal batch q151_psi_drift
            EXACTLY, independent of arrival order.
  suite     run_stream_ingest_suite over the same 50k-doc drops: ONE
            read feeds BOTH corpus-health stores; the dup-flow fold must
            equal batch q146 and the report-card fold batch q157.
  keyed psi run_stream_psi_counts_by_key over the same 300k current
            orders keyed by o_orderpriority; psi_by_key_from_store must
            equal batch q160_psi_by_segment exactly.

Drop files are written once per chunk (coalesce(1), renamed into the
arrivals dir) and their mtimes are set MONOTONICALLY in the past with
os.utime — FileStreamSource processes oldest-first, so this pins the
arrival order without the test-suite's 1.1 s sleeps.

Usage: python tools/sf1x_stream_stress.py [out_json]
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from big_data_computing_final_project_spark.functions import text as X  # noqa: E402
from big_data_computing_final_project_spark.plans import all_queries  # noqa: E402
from big_data_computing_final_project_spark.plans.drift import (  # noqa: E402
    _N_BINS,
    _obucket,
    bin_expr,
)
from big_data_computing_final_project_spark.session import get_spark  # noqa: E402
from big_data_computing_final_project_spark.streaming.events import (  # noqa: E402
    dup_flow_matrix_from_store,
    psi_by_key_from_store,
    psi_from_store,
    report_card_from_store,
    run_stream_dup_flow,
    run_stream_ingest_suite,
    run_stream_psi_counts,
    run_stream_psi_counts_by_key,
)
from tools.sf1x_stress import DST, ensure_data  # noqa: E402

N_DROPS = 8


def _write_drops(df, order_col: str, arrivals: str, n_drops: int) -> int:
    """Split df into n_drops contiguous ranges of order_col, write each as
    one parquet file in `arrivals`, mtimes increasing with range order."""
    os.makedirs(arrivals, exist_ok=True)
    lo, hi = df.agg(F.min(order_col), F.max(order_col)).first()
    span = max(int(hi) - int(lo) + 1, 1)
    base = time.time() - 3600  # an hour in the past: never in the future
    for i in range(n_drops):
        a = int(lo) + span * i // n_drops
        b = int(lo) + span * (i + 1) // n_drops
        chunk = df.where((F.col(order_col) >= a) & (F.col(order_col) < b))
        with tempfile.TemporaryDirectory() as tmp:
            chunk.coalesce(1).write.mode("overwrite").parquet(tmp + "/c")
            (part,) = glob.glob(tmp + "/c/part-*.parquet")
            dst = os.path.join(arrivals, f"drop_{i:03d}.parquet")
            shutil.move(part, dst)
        os.utime(dst, (base + 10 * i, base + 10 * i))
    return n_drops


def main() -> None:
    spark = get_spark("sf1x-stream-stress")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_data(spark)
    queries = all_queries()
    spark.range(1000).count()  # warmup
    work = tempfile.mkdtemp(prefix="sf1x_stream_")
    timings: dict[str, float] = {}
    checks: dict[str, bool] = {}
    try:
        _body(spark, queries, work, timings, checks)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    total = round(sum(timings.values()), 3)
    out = {
        "metric": "sf1x_stream_stress_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "checks": checks,
        "sf": "sf0.1x10",
        "ok": all(checks.values()),
    }
    line = json.dumps(out)
    if len(sys.argv) > 1:
        with open(sys.argv[1], "w") as f:
            f.write(line + "\n")
    print(line)


def _body(spark, queries, work, timings, checks) -> None:

    # ---- dup-flow store: 50k docs, 8 ordered crawl drops -----------------
    docs = spark.read.parquet(f"{DST}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    arrivals = os.path.join(work, "doc_drops")
    t0 = time.time()
    _write_drops(docs, "doc_id", arrivals, N_DROPS)
    timings["dup_flow_write_drops"] = round(time.time() - t0, 3)

    stream = (
        spark.readStream.schema("doc_id bigint, source string, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(arrivals)
        .select("doc_id", "source", X.fingerprint(F.col("text")).alias("fp"))
    )
    store = os.path.join(work, "flowstore")
    t0 = time.time()
    run_stream_dup_flow(stream, store, os.path.join(work, "ckpt_flow"),
                        timeout_sec=600)
    timings["dup_flow_stream"] = round(time.time() - t0, 3)

    t0 = time.time()
    got = [tuple(r) for r in dup_flow_matrix_from_store(spark, store).collect()]
    timings["dup_flow_fold"] = round(time.time() - t0, 3)
    want = [
        tuple(r)
        for r in queries["q146_dup_flow_matrix"](spark, DST).collect()
    ]
    checks["dup_flow_equals_batch_q146"] = got == want

    # ---- PSI store: 1.5M orders' current split in micro-batches ----------
    orders = spark.read.parquet(f"{DST}/orders.parquet")
    d = orders.select(
        "o_orderkey",
        F.col("o_totalprice").alias("v"),
        (_obucket() < 80).alias("is_ref"),
    )
    lo, hi = d.where("is_ref").agg(F.min("v"), F.max("v")).first()
    width = (float(hi) - float(lo)) / _N_BINS
    ref_counts = (
        d.where("is_ref")
        .select(bin_expr(F.col("v"), F.lit(float(lo)), F.lit(width)).alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_ref"))
    )
    cur_arrivals = os.path.join(work, "cur_drops")
    t0 = time.time()
    # split on the STABLE o_orderkey (monotonically_increasing_id would be
    # re-evaluated per job and depends on partition layout — rows could be
    # dropped or duplicated across drop files if layouts differ between
    # the min/max action and each chunk write)
    _write_drops(
        d.where(~F.col("is_ref")).select("o_orderkey", "v"),
        "o_orderkey",
        cur_arrivals,
        N_DROPS,
    )
    timings["psi_write_drops"] = round(time.time() - t0, 3)

    cur_stream = (
        spark.readStream.schema("o_orderkey bigint, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(cur_arrivals)
        .select("v")
    )
    psi_store = os.path.join(work, "psistore")
    t0 = time.time()
    run_stream_psi_counts(
        cur_stream, float(lo), width, _N_BINS, psi_store,
        os.path.join(work, "ckpt_psi"), timeout_sec=600,
    )
    timings["psi_stream"] = round(time.time() - t0, 3)

    t0 = time.time()
    got_psi = [
        tuple(r) for r in psi_from_store(spark, psi_store, ref_counts).collect()
    ]
    timings["psi_fold"] = round(time.time() - t0, 3)
    want_psi = [
        tuple(r) for r in queries["q151_psi_drift"](spark, DST).collect()
    ]
    checks["psi_equals_batch_q151"] = got_psi == want_psi

    # ---- single-pass ingest suite: one read, both corpus-health stores ---
    docs_arrivals = os.path.join(work, "suite_drops")
    t0 = time.time()
    _write_drops(
        spark.read.parquet(f"{DST}/documents.parquet").select(
            "doc_id", "text", "lang", "source", "n_chars"
        ),
        "doc_id",
        docs_arrivals,
        N_DROPS,
    )
    timings["suite_write_drops"] = round(time.time() - t0, 3)
    suite_stream = (
        spark.readStream.schema(
            "doc_id bigint, text string, lang string, source string, n_chars bigint"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(docs_arrivals)
    )
    t0 = time.time()
    flow_dir, vol_dir, _ = run_stream_ingest_suite(
        suite_stream,
        os.path.join(work, "suite_stores"),
        os.path.join(work, "ckpt_suite"),
        timeout_sec=600,
    )
    timings["suite_stream"] = round(time.time() - t0, 3)
    t0 = time.time()
    got_sf = [tuple(r) for r in dup_flow_matrix_from_store(spark, flow_dir).collect()]
    got_rc = [
        tuple(r) for r in report_card_from_store(spark, vol_dir, flow_dir).collect()
    ]
    timings["suite_fold"] = round(time.time() - t0, 3)
    checks["suite_flow_equals_batch_q146"] = got_sf == want
    want_rc = [
        tuple(r) for r in queries["q157_corpus_report_card"](spark, DST).collect()
    ]
    checks["suite_card_equals_batch_q157"] = got_rc == want_rc

    # ---- keyed PSI store: per-segment frozen edges over the same split --
    seg = orders.select(
        F.col("o_orderpriority").alias("key"),
        F.col("o_totalprice").alias("v"),
        (_obucket() < 80).alias("is_ref"),
        "o_orderkey",
    )
    ref_edges = (
        seg.where("is_ref")
        .groupBy("key")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
        .select(
            "key", "lo", ((F.col("hi") - F.col("lo")) / float(_N_BINS)).alias("width")
        )
    )
    ref_counts_k = (
        seg.where("is_ref")
        .join(F.broadcast(ref_edges), "key")
        .select(
            "key",
            bin_expr(F.col("v"), F.col("lo"), F.col("width")).alias("bin"),
        )
        .groupBy("key", "bin")
        .agg(F.count(F.lit(1)).alias("n_ref"))
    )
    kcur_arrivals = os.path.join(work, "kcur_drops")
    t0 = time.time()
    _write_drops(
        seg.where(~F.col("is_ref")).select("o_orderkey", "key", "v"),
        "o_orderkey",
        kcur_arrivals,
        N_DROPS,
    )
    timings["keyed_psi_write_drops"] = round(time.time() - t0, 3)
    kcur_stream = (
        spark.readStream.schema("o_orderkey bigint, key string, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(kcur_arrivals)
        .select("key", "v")
    )
    kpsi_store = os.path.join(work, "kpsistore")
    t0 = time.time()
    run_stream_psi_counts_by_key(
        kcur_stream, ref_edges, kpsi_store, os.path.join(work, "ckpt_kpsi"),
        timeout_sec=600,
    )
    timings["keyed_psi_stream"] = round(time.time() - t0, 3)
    t0 = time.time()
    got_kpsi = [
        tuple(r)
        for r in psi_by_key_from_store(spark, kpsi_store, ref_counts_k).collect()
    ]
    timings["keyed_psi_fold"] = round(time.time() - t0, 3)
    want_kpsi = [
        tuple(r) for r in queries["q160_psi_by_segment"](spark, DST).collect()
    ]
    checks["keyed_psi_equals_batch_q160"] = got_kpsi == want_kpsi



if __name__ == "__main__":
    main()
