"""Unit pins for operators/ranking.py: the distributed global rank / NTILE
must equal the single-partition window forms exactly — including the
n < tiles and heavy-ties edges — on deliberately shuffled input."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from big_data_computing_final_project_spark.operators import ranking
from big_data_computing_final_project_spark.operators.ranking import (
    distributed_ntile,
    global_rank,
)


def _force_guard(monkeypatch, rows, subs):
    # the guard's thresholds are module constants; tests lower them so a
    # small frame has hot buckets
    monkeypatch.setattr(ranking, "_HOT_BUCKET_ROWS", rows)
    monkeypatch.setattr(ranking, "_SUB_BUCKETS", subs)


def _df(spark, vals):
    # two-column rows: (v, uid); shuffled partitioning on purpose
    rows = [(v, i) for i, v in enumerate(vals)]
    return spark.createDataFrame(rows, "v long, uid long").repartition(7, "uid")


def test_global_rank_equals_window_row_number(spark):
    vals = [5, 3, 3, 9, 1, 3, 9, 0, 7, 7, 2, 2, 2, 8]
    df = _df(spark, vals)
    got = {
        r.uid: r.rank
        for r in global_rank(df, ["v", "uid"], rank_col="rank").collect()
    }
    want = {
        r.uid: r.rn
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy("v", "uid"))
        ).collect()
    }
    assert got == want


def test_global_rank_with_coarse_bucket(spark):
    vals = list(range(100, 0, -1)) * 3
    df = _df(spark, vals)
    got = {
        r.uid: r.rank
        for r in global_rank(
            df, ["v", "uid"], bucket=(F.col("v") / 10).cast("bigint")
        ).collect()
    }
    want = {
        r.uid: r.rn
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy("v", "uid"))
        ).collect()
    }
    assert got == want


def test_distributed_ntile_matches_window_ntile(spark):
    for n, tiles in ((14, 5), (15, 5), (3, 5), (1, 5), (100, 7), (12, 12)):
        vals = [(i * 37) % 23 for i in range(n)]
        df = _df(spark, vals)
        got = {
            r.uid: r.t
            for r in distributed_ntile(df, ["v", "uid"], tiles, out_col="t").collect()
        }
        want = {
            r.uid: r.t
            for r in df.withColumn(
                "t", F.ntile(tiles).over(Window.orderBy("v", "uid"))
            ).collect()
        }
        assert got == want, (n, tiles)


def test_distributed_ntile_all_ties(spark):
    df = _df(spark, [4] * 11)
    got = {
        r.uid: r.t for r in distributed_ntile(df, ["v", "uid"], 4, out_col="t").collect()
    }
    want = {
        r.uid: r.t
        for r in df.withColumn(
            "t", F.ntile(4).over(Window.orderBy("v", "uid"))
        ).collect()
    }
    assert got == want


def test_hot_bucket_guard_exactness(spark, monkeypatch):
    """Planted one-hot-bucket skew (one v value holds ~60% of rows): the
    guarded rank must still equal the single-window row_number exactly."""
    _force_guard(monkeypatch, 50, 8)
    vals = [7] * 600 + [(i * 13) % 40 for i in range(400)]
    df = _df(spark, vals)
    got = {
        r.uid: r.rank
        for r in global_rank(df, ["v", "uid"], rank_col="rank").collect()
    }
    want = {
        r.uid: r.rn
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy("v", "uid"))
        ).collect()
    }
    assert got == want


def test_hot_bucket_guard_bounds_partition_share(spark, monkeypatch):
    """The hot bucket's within-bucket window must be split across quantile
    slices: the largest (bucket, sub) slice carries a bounded share of the
    hot bucket, not all of it."""
    from big_data_computing_final_project_spark.operators.ranking import (
        _hot_bucket_subs,
        _BKT,
    )

    _force_guard(monkeypatch, 50, 8)
    vals = [7] * 900 + [(i * 13) % 40 for i in range(100)]
    df = _df(spark, vals)
    tagged = df.withColumn(_BKT, F.col("v"))
    sub = _hot_bucket_subs(tagged, ["v", "uid"])
    assert sub is not None
    sizes = (
        tagged.withColumn("__s", sub)
        .groupBy(_BKT, "__s")
        .count()
        .collect()
    )
    hot = [r for r in sizes if r[_BKT] == 7]
    assert len(hot) >= 7  # the 900-row bucket split into ~8 slices
    # balanced by quantile construction: no slice carries more than ~2/8
    assert max(r["count"] for r in hot) <= 900 * 2 // 8


def test_hot_bucket_guard_coarse_bucket_nulls(spark, monkeypatch):
    """Guard + coarse bucket + NULL order keys: nulls rank first and no
    row is lost through the composite null-safe join."""
    _force_guard(monkeypatch, 20, 4)
    rows = [(None if i % 5 == 0 else (i * 7) % 50, i) for i in range(300)]
    df = spark.createDataFrame(rows, "v long, uid long").repartition(7, "uid")
    got = {
        r.uid: r.rank
        for r in global_rank(
            df,
            ["v", "uid"],
            bucket=(F.col("v") / 10).cast("bigint"),
            rank_col="rank",
        ).collect()
    }
    want = {
        r.uid: r.rn
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy("v", "uid"))
        ).collect()
    }
    assert len(got) == 300 and got == want


def test_hot_bucket_guard_skips_string_led_bucket(spark, monkeypatch):
    """Review fix: a hot bucket whose FIRST varying order column is a
    string must stay whole — subdividing on a later numeric column would
    reorder ranks (name-major order vs uid slices)."""
    _force_guard(monkeypatch, 50, 8)
    rows = [("n%03d" % ((i * 17) % 50), i, 0) for i in range(400)]
    df = spark.createDataFrame(rows, "name string, uid long, b int").repartition(7, "uid")
    got = {
        r.uid: r.rank
        for r in global_rank(
            df, ["name", "uid"], bucket=F.col("b"), rank_col="rank"
        ).collect()
    }
    want = {
        r.uid: r.rn
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy("name", "uid"))
        ).collect()
    }
    assert got == want


def test_hot_bucket_guard_null_mix_counts_as_varying(spark, monkeypatch):
    """Review fix: an earlier numeric column holding {NULL, x} within the
    hot bucket VARIES (NULLs sort first) — NULL-blind min==max must not
    make the guard slice on a later column and scramble ranks."""
    _force_guard(monkeypatch, 40, 4)
    rows = [(None if i % 2 == 0 else 5, i, 0) for i in range(300)]
    df = spark.createDataFrame(rows, "v long, uid long, b int").repartition(7, "uid")
    got = {
        r.uid: r.rank
        for r in global_rank(
            df, ["v", "uid"], bucket=F.col("b"), rank_col="rank"
        ).collect()
    }
    want = {
        r.uid: r.rn
        for r in df.withColumn(
            "rn",
            F.row_number().over(Window.orderBy(F.asc_nulls_first("v"), "uid")),
        ).collect()
    }
    assert got == want


def test_distributed_ntile_with_hot_bucket_guard(spark, monkeypatch):
    """Guard on: the tiles come from the rank and the total count of the
    scan over the finer struct(bucket, slice) bucket; both must still
    match F.ntile, NULL order keys included."""
    _force_guard(monkeypatch, 50, 8)
    rows = [(None if i % 9 == 0 else (7 if i < 600 else i % 40), i) for i in range(1000)]
    df = spark.createDataFrame(rows, "v long, uid long").repartition(7, "uid")
    got = {
        r.uid: r.t
        for r in distributed_ntile(df, ["v", "uid"], 7, out_col="t").collect()
    }
    want = {
        r.uid: r.t
        for r in df.withColumn(
            "t", F.ntile(7).over(Window.orderBy(F.asc_nulls_first("v"), "uid"))
        ).collect()
    }
    assert len(got) == 1000 and got == want
