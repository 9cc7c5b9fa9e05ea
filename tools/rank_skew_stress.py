"""Stress record for the ranking operator's hot-bucket guard (VERDICT r5
item 6): plant the degenerate distribution the guard exists for — one
epoch-day bucket holding 50% of a 16M-row fact — and measure the
within-bucket running-count stage with the guard off vs on. The guard is
switched through the module constant ``ranking._HOT_BUCKET_ROWS``.

Without the guard, the hot bucket's running count is ONE task (max task
time ~= the whole stage); with the guard, the bucket is sliced into
per-bucket quantile sub-buckets and the max task share is bounded by
~1/ranking._SUB_BUCKETS of the hot bucket. Checksum equality between the two runs re-asserts
exactness at 16000x the pytest fixture size.

Usage: python tools/rank_skew_stress.py [out_json]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from big_data_computing_final_project_spark.operators import ranking  # noqa: E402
from big_data_computing_final_project_spark.session import get_spark  # noqa: E402
from skew_bench import DATA_DIR, measure  # noqa: E402

N_ROWS = 16_000_000
HOT_SHARE = 0.50
N_DAYS = 2_000  # non-hot rows spread over this many day buckets


def ensure_data(spark) -> str:
    path = os.path.join(DATA_DIR, "rank_fact.parquet")
    if not os.path.exists(path):
        n_hot = int(N_ROWS * HOT_SHARE)
        rows = spark.range(N_ROWS)
        day = F.when(F.col("id") < n_hot, F.lit(1000)).otherwise(
            F.pmod(F.xxhash64("id"), F.lit(N_DAYS)) + 10_000
        )
        rows.select(
            day.alias("day"), F.col("id").alias("uid")
        ).write.mode("overwrite").parquet(path)
    return path


def rank(fact, hot_bucket_rows: int):
    """global_rank over (day, uid) with the guard's threshold set to
    ``hot_bucket_rows`` (2**62 switches it off)."""
    ranking._HOT_BUCKET_ROWS = hot_bucket_rows
    return ranking.global_rank(fact, ["day", "uid"], rank_col="rank")


def main() -> None:
    spark = get_spark("rank-skew-stress")
    spark.sparkContext.setLogLevel("ERROR")
    fact = spark.read.parquet(ensure_data(spark))
    fact.count()  # warm page cache / footers
    results: dict = {}

    unguarded = measure(spark, "rank_unguarded", lambda: rank(fact, 2**62), results)
    guarded = measure(spark, "rank_guarded", lambda: rank(fact, 1_000_000), results)
    assert unguarded == guarded, (unguarded, guarded)
    out = {
        "n_rows": N_ROWS,
        "hot_share": HOT_SHARE,
        "n_days": N_DAYS,
        "checksums_equal": True,
        "results": results,
    }
    line = json.dumps(out)
    print(line)
    if len(sys.argv) > 1:
        with open(sys.argv[1], "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
