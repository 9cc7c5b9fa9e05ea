"""Multi-tier scaling record for the heaviest query families (VERDICT r6
item 9, third tier r7 item 4): run each at a 10x and a 30x replica of
sf0.1 — plus a 100x tier for the DEEP set — and record the wall-clock
growth factor together with the OUTPUT growth factor per segment.

Raw time ratios alone mislead here: the replica construction turns every
document into a near-dup group of size = copies, so the ANSWER of the
dedup families grows ~quadratically in copies by design —
C(30,2)/C(10,2) = 9.67x more true pairs for 3x more docs. The honest
scaling statistic is the log-log slope of time vs INPUT when the output
is input-proportional (graph queries), and time vs OUTPUT when the
output itself is super-linear (pair-emitting dedup): an engine is
scale-safe when time grows no faster than max(input, output).

Emits one JSON object per query:
  t10/t30        wall seconds at each tier (same session, warm JVM)
  rows10/rows30  output row counts
  time_factor    t30/t10             (ideal 3.0 for linear-in-input)
  out_factor     rows30/rows10       (1.0 when output is tier-invariant)
  slope_input    ln(time_factor)/ln(3)   — <~1.2 = sub-quadratic in input
  slope_work     ln(time_factor)/ln(max(3, out_factor))
                 — time vs the irreducible work floor; <=1 means the
                 engine tracks output size, the best possible shape

Usage: python tools/growth_stress.py [out_json]
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from big_data_computing_final_project_spark.plans import all_queries  # noqa: E402
from big_data_computing_final_project_spark.session import get_spark  # noqa: E402
from sf1x_stress import DST as DST10  # noqa: E402
from sf1x_stress import ensure_data  # noqa: E402

_WAREHOUSE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "spark-warehouse"
)
DST30 = os.path.join(_WAREHOUSE, "sf3x")
DST100 = os.path.join(_WAREHOUSE, "sf10x")

# the five heaviest by the r6 10x stress, per the verdict's list
QUERIES = [
    "q122_prefix_jaccard",
    "q36_minhash_lsh_dedup",
    "q174_pagerank",
    "q175_triangle_census",
    "q68_dedup_clusters",
    # round-7 families whose work could grow with pairs or groups
    "q206_referential_integrity",
    "q208_near_dup_source_matrix",
    "q209_grouped_percentiles",
]

# third-tier queries (VERDICT r7 item 4): the two cleanest linear stories
# also run at a 100x replica (~sf10: 60M lineitem rows, 500k docs), so the
# growth slope rests on three points instead of an extrapolated two. The
# full QUERIES list stays two-tier — the 100x replica alone costs minutes
# to build and the deep tier exists to certify slopes, not to re-time
# every family.
DEEP = ["q36_minhash_lsh_dedup", "q174_pagerank"]

# --bounded mode (round-8 backlog item 1): the standard replica turns
# every doc into a near-dup group of size = tier, so the dedup families'
# OUTPUT grows quadratically in the tier and only slope_work is honest.
# The bounded replica holds group size at 10 and grows the number of
# GROUPS instead: tier/10 epochs, each epoch a fully-decorrelated copy of
# the corpus (the epoch id SUFFIXED onto every word, so epochs share zero
# tokens AND zero shingles — an interleaved-token variant left tokens
# ~50% shared across epochs and blew q122's candidate set up
# quadratically), each epoch then near-dup-replicated 10x exactly like
# the standard replica. Output pairs = epochs x docs x C(10,2) -> LINEAR
# in the tier, making slope_input the honest statistic for the same code
# paths.
BOUNDED_QUERIES = [
    "q36_minhash_lsh_dedup",
    "q122_prefix_jaccard",
    # round-9 extension (VERDICT r8 item 1): the remaining data-dependent-
    # output heavy families, so every 100-TB claim rests on a measured
    # linear-output tier
    "q102_decontamination",
    "q68_dedup_clusters",
    "q208_near_dup_source_matrix",
    "q82_pack_sequences",
    "q40_embedding_near_dup",
    # q40's OTHER regime on the same replica: at threshold 0.8
    # (_LSH_DELTA 1e-3) _band_params returns (8, 40) and banded
    # LSH prunes; within-group cosine stays exactly 1.0 under the sign-flip
    # replica, so the groups pass this gate too and the output stays linear
    # in the tier. The dense 0.4 entry above keeps measuring the
    # enumeration regime; together both regime slopes are pinned.
    "q40_embedding_near_dup@banded_t0.8",
]
BOUNDED_GROUP = 10


def _q40_banded(spark, sf_dir: str):
    from big_data_computing_final_project_spark.plans.similarity import (
        embedding_near_dup_pairs,
    )

    return embedding_near_dup_pairs(spark, sf_dir, 0.8)


def ensure_bounded_docs(spark, dst: str, tier: int) -> None:
    import pyspark.sql.functions as F

    if os.path.exists(os.path.join(dst, "documents.parquet")):
        return
    os.makedirs(dst, exist_ok=True)
    src = "/root/testdata/sf0.1"
    docs = spark.read.parquet(f"{src}/documents.parquet")
    epochs = max(1, tier // BOUNDED_GROUP)
    out = None
    for e in range(epochs):
        base = docs.withColumn(
            "text", F.regexp_replace("text", r"(\S+)", f"$1-e{e}")
        )
        for i in range(BOUNDED_GROUP):
            c = base.withColumn(
                "doc_id",
                F.col("doc_id") * (epochs * BOUNDED_GROUP)
                + F.lit(e * BOUNDED_GROUP + i),
            )
            if i > 0:
                c = c.withColumn("text", F.concat(F.col("text"), F.lit(f" c{i}")))
            out = c if out is None else out.unionByName(c)
    out.withColumn("n_chars", F.length("text").cast("bigint")).write.mode(
        "overwrite"
    ).parquet(f"{dst}/documents.parquet")


def ensure_bounded_embeddings(spark, dst: str, tier: int) -> None:
    """Bounded-group embeddings replica for q40: each epoch applies a
    deterministic per-(epoch, dim) SIGN-FLIP pattern to every vector — a
    diagonal +-1 orthogonal transform, so within-epoch cosine structure is
    EXACTLY the original corpus's, while any two epochs' patterns differ on
    ~half the dims, decorrelating cross-epoch pairs (64 dims: cos std ~1/8,
    essentially nothing reaches the 0.4 gate). Each epoch's vectors are
    then copied BOUNDED_GROUP times byte-identically — the exact-dup
    collapse guard's design case: groups ride the output-bounded member
    expansion, reps grow linearly with the tier."""
    import pyspark.sql.functions as F

    if os.path.exists(os.path.join(dst, "embeddings.parquet")):
        return
    os.makedirs(dst, exist_ok=True)
    src = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    epochs = max(1, tier // BOUNDED_GROUP)
    out = None
    for e in range(epochs):
        flip = lambda x, i: (  # noqa: E731
            x
            * F.when(F.xxhash64(i, F.lit(e)) % 2 == 0, F.lit(-1.0)).otherwise(
                F.lit(1.0)
            )
        ).cast("float")
        base = src.withColumn("embedding", F.transform("embedding", flip))
        for i in range(BOUNDED_GROUP):
            c = base.withColumn(
                "vec_id",
                F.col("vec_id") * (epochs * BOUNDED_GROUP)
                + F.lit(e * BOUNDED_GROUP + i),
            )
            out = c if out is None else out.unionByName(c)
    out.write.mode("overwrite").parquet(f"{dst}/embeddings.parquet")


def _run(queries, name: str, sf_dir: str, runs: int = 1) -> tuple[float, int]:
    best, n = float("inf"), 0
    for _ in range(runs):
        t0 = time.time()
        df = queries[name](spark, sf_dir)
        n = df.count()
        best = min(best, time.time() - t0)
    return round(best, 3), n


def _segment(t_lo: float, t_hi: float, r_lo: int, r_hi: int, in_factor: float) -> dict:
    tf = t_hi / t_lo
    of = r_hi / max(1, r_lo)
    return {
        "time_factor": round(tf, 3),
        "out_factor": round(of, 3),
        "slope_input": round(math.log(tf) / math.log(in_factor), 3),
        "slope_work": round(math.log(tf) / math.log(max(in_factor, of)), 3),
    }


def _main_bounded() -> None:
    """--bounded: the linear-output replica (see BOUNDED_QUERIES note).
    Tiers 10/30/100 of documents only (the dedup families read nothing
    else); expected slope_input ~1 because output now grows WITH input."""
    out: dict[str, dict] = {}
    tiers = [10, 30, 100]
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    only = set(args[1:])  # optional query subset after out_json
    names = [n for n in BOUNDED_QUERIES if not only or n in only]
    dirs = {}
    for t in tiers:
        d = os.path.join(_WAREHOUSE, f"bounded{t}x")
        ensure_bounded_docs(spark, d, t)
        if any(n.startswith("q40_embedding_near_dup") for n in names):
            ensure_bounded_embeddings(spark, d, t)
        dirs[t] = d
    queries = dict(all_queries())
    queries["q40_embedding_near_dup@banded_t0.8"] = _q40_banded
    spark.range(1000).count()  # warmup
    base_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for name in names:
        res: dict = {}
        for t in tiers:
            # a real cluster's reducer count scales with the data; with the
            # session's fixed 32, the 100x tier measures spill-regime
            # behavior of 10x-volume partitions, not the engine's scaling.
            # 32 execution slots chewing 32*t/10 partitions is exactly how
            # a 32-slot cluster runs that reducer count. Best-of-2 timing:
            # single-shot tiers were +-40% on the same data.
            spark.conf.set("spark.sql.shuffle.partitions", base_parts * t // 10)
            tsec, rows = _run(queries, name, dirs[t], runs=2)
            spark.conf.set("spark.sql.shuffle.partitions", base_parts)
            res[f"t{t}"] = tsec
            res[f"rows{t}"] = rows
        res["seg_10_30"] = _segment(
            res["t10"], res["t30"], res["rows10"], res["rows30"], 3.0
        )
        res["seg_30_100"] = _segment(
            res["t30"], res["t100"], res["rows30"], res["rows100"], 100.0 / 30.0
        )
        out[name] = res
        print(name, json.dumps(res))
    line = json.dumps(
        {
            "metric": "growth_stress_bounded_groups",
            "tiers": tiers,
            "group_size": BOUNDED_GROUP,
            "queries": out,
        }
    )
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if args:
        with open(args[0], "w") as f:
            f.write(line + "\n")
    print(line)


if __name__ == "__main__":
    spark = get_spark("growth-stress")
    spark.sparkContext.setLogLevel("ERROR")
    if "--bounded" in sys.argv:
        _main_bounded()
        sys.exit(0)
    ensure_data(spark, DST10, 10)
    ensure_data(spark, DST30, 30)
    deep = [n for n in DEEP] if "--no-deep" not in sys.argv else []
    if deep:
        ensure_data(spark, DST100, 100)
    queries = all_queries()
    spark.range(1000).count()  # warmup
    out: dict[str, dict] = {}
    for name in QUERIES:
        t10, r10 = _run(queries, name, DST10)
        t30, r30 = _run(queries, name, DST30)
        out[name] = {
            "t10": t10,
            "t30": t30,
            "rows10": r10,
            "rows30": r30,
            **_segment(t10, t30, r10, r30, 3.0),
        }
        if name in deep:
            t100, r100 = _run(queries, name, DST100)
            out[name]["t100"] = t100
            out[name]["rows100"] = r100
            out[name]["seg_30_100"] = _segment(t30, t100, r30, r100, 100.0 / 30.0)
        print(name, json.dumps(out[name]))
    line = json.dumps(
        {
            "metric": "growth_stress_multi_tier",
            "tiers": [10, 30] + ([100] if deep else []),
            "deep_queries": deep,
            "queries": out,
        }
    )
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if args:
        with open(args[0], "w") as f:
            f.write(line + "\n")
    print(line)
