"""Unit pins for operators/prefix.py: the distributed prefix scan must
equal the single-partition window forms exactly — sum/max/min, strict and
inclusive frames, with and without partition keys — on shuffled input."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from big_data_computing_final_project_spark.operators.prefix import prefix_agg


def _df(spark, vals):
    rows = [(v, i, i % 3) for i, v in enumerate(vals)]
    return spark.createDataFrame(rows, "v long, uid long, g int").repartition(7, "uid")


def test_prefix_sum_equals_window(spark):
    vals = [5, 3, 3, 9, 1, 3, 9, 0, 7, 7, 2, 2, 2, 8]
    df = _df(spark, vals)
    got = {
        r.uid: r.cum
        for r in prefix_agg(df, ["v", "uid"], [("v", "cum", "sum")]).collect()
    }
    want = {
        r.uid: r.cum
        for r in df.withColumn(
            "cum",
            F.sum("v").over(
                Window.orderBy("v", "uid").rowsBetween(Window.unboundedPreceding, 0)
            ),
        ).collect()
    }
    assert got == want


def test_prefix_max_strict_with_coarse_bucket(spark):
    # unique order keys (one row per v required for strict): v = permutation
    vals = [(i * 37) % 100 for i in range(100)]
    assert len(set(vals)) == 100
    df = _df(spark, vals)
    got = {
        r.uid: r.m
        for r in prefix_agg(
            df,
            ["v"],
            [("uid", "m", "max")],
            bucket=(F.col("v") / 10).cast("bigint"),
            strict=True,
        ).collect()
    }
    want = {
        r.uid: r.m
        for r in df.withColumn(
            "m",
            F.max("uid").over(
                Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
            ),
        ).collect()
    }
    assert got == want  # includes the NULL first-row strict frame


def test_prefix_sum_partitioned_equals_window(spark):
    vals = [5, 3, 3, 9, 1, 3, 9, 0, 7, 7, 2, 2, 2, 8, 4, 6]
    df = _df(spark, vals)
    got = {
        r.uid: r.cum
        for r in prefix_agg(
            df,
            ["v", "uid"],
            [("v", "cum", "sum")],
            partition_cols=["g"],
            bucket=(F.col("v") / 4).cast("bigint"),
        ).collect()
    }
    want = {
        r.uid: r.cum
        for r in df.withColumn(
            "cum",
            F.sum("v").over(
                Window.partitionBy("g")
                .orderBy("v", "uid")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        ).collect()
    }
    assert got == want


def test_prefix_min_null_bucket_rows_survive(spark):
    rows = [(None if i % 4 == 0 else (i * 7) % 30, i) for i in range(40)]
    df = spark.createDataFrame(rows, "v long, uid long").repartition(5, "uid")
    out = prefix_agg(df, ["v", "uid"], [("uid", "m", "min")]).collect()
    assert len(out) == 40
    want = {
        r.uid: r.m
        for r in df.withColumn(
            "m",
            F.min("uid").over(
                Window.orderBy(F.asc_nulls_first("v"), "uid").rowsBetween(
                    Window.unboundedPreceding, 0
                )
            ),
        ).collect()
    }
    assert {r.uid: r.m for r in out} == want


_FRAMES = {
    "sum": F.sum,
    "max": F.max,
    "min": F.min,
    "count": F.count,
}


@pytest.mark.parametrize(
    "specs",
    [
        [("v", "out0", "sum")],
        [("v", "out0", "sum"), ("uid", "out1", "max"), ("uid", "out2", "min")],
        [("*", "out0", "count"), ("*", "out1", "total"), ("v", "out2", "sum")],
        [("v", "out0", "total"), ("w", "out1", "total"), ("w", "out2", "sum")],
    ],
    ids=["one", "sum_max_min", "count_total_sum", "sum_totals"],
)
@pytest.mark.parametrize("parts", [None, ["g"]], ids=["global", "partitioned"])
def test_prefix_specs_equal_windows(spark, specs, parts):
    """Several specs over one ordering: every output column equals its own
    single-partition window form on shuffled input (``total`` is the
    whole-group row count for ``"*"`` and the whole-group sum otherwise;
    ``w`` is ``v`` with one null)."""
    vals = [5, 3, 3, 9, 1, 3, 9, 0, 7, 7, 2, 2, 2, 8, 4, 6, 11, 10, 12]
    df = _df(spark, vals)
    df = df.withColumn("w", F.when(F.col("uid") != 4, F.col("v")))
    got = prefix_agg(
        df, ["v", "uid"], specs, bucket=(F.col("v") / 4).cast("bigint"),
        partition_cols=parts,
    ).collect()
    by_group = Window.partitionBy(*(parts or []))
    running = by_group.orderBy("v", "uid").rowsBetween(Window.unboundedPreceding, 0)
    want = df.select(
        "uid",
        *[
            (
                (F.count if vc == "*" else F.sum)(vc).over(by_group)
                if agg == "total"
                else _FRAMES[agg](vc).over(running)
            )
            .alias(oc)
            for vc, oc, agg in specs
        ],
    ).collect()
    assert len(got) == len(vals)
    assert got[0].__fields__[: len(df.columns)] == df.columns  # input columns kept
    for _, oc, _ in specs:
        assert {r.uid: r[oc] for r in got} == {r.uid: r[oc] for r in want}, oc


# operators/quantiles.exact_quantiles — the distributed exact-quantile
# operator (VERDICT r6 item 2: q21's percentile() buffer replaced)


@pytest.mark.parametrize("col", ["l_quantity", "l_discount", "l_extendedprice"])
def test_exact_quantiles_linear_matches_spark_percentile(spark, sf_dir, col):
    """Bit-exact against percentile(), the edge probabilities included;
    l_quantity carries injected nulls, which both skip."""
    from big_data_computing_final_project_spark.catalog import load_table
    from big_data_computing_final_project_spark.operators.quantiles import (
        exact_quantiles,
    )

    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "l_quantity",
        F.when(F.col("l_extendedprice") <= 40000, F.col("l_quantity")),
    )
    qs = [0.0, 0.01, 0.25, 0.5, 0.75, 0.99, 1.0]
    got = {r.q: r.value for r in exact_quantiles(li, col, qs).collect()}
    arr = ", ".join(str(q) for q in qs)
    want = li.agg(F.expr(f"percentile({col}, array({arr}))").alias("p")).collect()[0].p
    assert len(got) == len(qs)
    for q, w in zip(qs, want):
        assert got[q] == w, (q, got[q], w)  # bit-exact, not approx


@pytest.mark.parametrize("mode", ["linear", "lower"])
def test_exact_quantiles_rejects_out_of_range_qs(spark, mode):
    """percentile() refuses probabilities outside [0, 1]; a rank lookup
    would invent a value below 0 and drop one above 1."""
    from big_data_computing_final_project_spark.operators.quantiles import (
        exact_quantiles,
    )

    df = spark.range(10).select(F.col("id").cast("double").alias("x"))
    with pytest.raises(ValueError, match=r"\[-0\.5, 1\.5\]"):
        exact_quantiles(df, "x", [-0.5, 0.5, 1.5], mode=mode, bucket=F.col("val"))


def test_exact_quantiles_lower_is_smallest_reaching_rank(spark):
    from big_data_computing_final_project_spark.operators.quantiles import (
        exact_quantiles,
    )

    vals = [10.0, 20.0, 20.0, 30.0, 40.0, 50.0, 60.0, 70.0, 80.0, 90.0]
    df = spark.createDataFrame([(v,) for v in vals], "x double").repartition(5)
    got = {
        r.q: r.value
        for r in exact_quantiles(
            df, "x", [0.1, 0.25, 0.5, 1.0], mode="lower", bucket=F.col("val")
        ).collect()
    }
    # ceil(q*10)-th smallest value: ranks 1, 3, 5, 10
    assert got == {0.1: 10.0, 0.25: 20.0, 0.5: 40.0, 1.0: 90.0}


def test_exact_quantiles_skips_nulls_and_plan_has_no_percentile(spark):
    from big_data_computing_final_project_spark.operators.quantiles import (
        exact_quantiles,
    )

    df = spark.createDataFrame(
        [(1.0,), (None,), (2.0,), (3.0,), (None,)], "x double"
    )
    out = exact_quantiles(df, "x", [0.5], bucket=F.col("val"))
    assert "percentile(" not in out._jdf.queryExecution().executedPlan().toString()
    assert out.collect()[0].value == 2.0


def test_prefix_strict_duplicate_keys_raise(spark):
    """ADVICE r6: strict mode's unique-order-key precondition is enforced
    in-plan — duplicate keys raise instead of returning order-dependent
    prefixes. Unique keys on the same shape still succeed."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    dup = spark.createDataFrame(
        [(1, 5), (1, 7), (2, 9)], "k long, v long"
    ).repartition(3)
    bad = prefix_agg(dup, ["k"], [("v", "p", "sum")], strict=True, bucket=F.col("k"))
    with pytest.raises(SparkRuntimeException, match="unique order keys"):
        bad.collect()
    ok = spark.createDataFrame([(1, 5), (2, 7), (3, 9)], "k long, v long")
    got = {
        r.k: r.p
        for r in prefix_agg(
            ok, ["k"], [("v", "p", "sum")], strict=True, bucket=F.col("k")
        ).collect()
    }
    assert got == {1: None, 2: 5, 3: 12}


def test_exact_quantiles_grouped_matches_spark_percentile(spark, sf_dir):
    from big_data_computing_final_project_spark.catalog import load_table
    from big_data_computing_final_project_spark.operators.quantiles import (
        exact_quantiles,
    )

    li = load_table(spark, sf_dir, "lineitem")
    qs = [0.1, 0.5, 0.9]
    got = {
        (r.l_returnflag, r.q): r.value
        for r in exact_quantiles(
            li, "l_extendedprice", qs, group_cols=["l_returnflag"]
        ).collect()
    }
    arr = ", ".join(str(q) for q in qs)
    want = {}
    for row in (
        li.groupBy("l_returnflag")
        .agg(F.expr(f"percentile(l_extendedprice, array({arr}))").alias("p"))
        .collect()
    ):
        for q, v in zip(qs, row.p):
            want[(row.l_returnflag, q)] = v
    assert got == want  # bit-exact per group


def test_exact_quantiles_weighted_equals_expansion(spark):
    """Weighted percentile == unweighted percentile of the weight-EXPANDED
    multiset (the definition), pinned for BOTH modes on a small frame; the
    linear mode is additionally pinned bit-exact against Spark's stock
    percentile() on the expanded frame (VERDICT r7 item 6). Zero-weight
    values must never surface."""
    from big_data_computing_final_project_spark.operators.quantiles import (
        exact_quantiles,
    )

    rows = [(5.0, 0), (10.0, 1), (20.0, 3), (30.0, 6)]
    qs = [0.1, 0.4, 0.5, 1.0]
    df = spark.createDataFrame(rows, "x double, w int")
    expanded = spark.createDataFrame(
        [(x,) for x, w in rows for _ in range(w)], "x double"
    )
    for mode in ("lower", "linear"):
        got = {
            r.q: r.value
            for r in exact_quantiles(
                df, "x", qs, mode=mode, weight=F.col("w"), bucket=F.col("val")
            ).collect()
        }
        want = {
            r.q: r.value
            for r in exact_quantiles(
                expanded, "x", qs, mode=mode, bucket=F.col("val")
            ).collect()
        }
        assert got == want, mode
        assert 5.0 not in got.values()  # zero-weight value never selected
    arr = ", ".join(str(q) for q in qs)
    ref = expanded.agg(F.expr(f"percentile(x, array({arr}))").alias("p")).collect()[0].p
    lin = {
        r.q: r.value
        for r in exact_quantiles(
            df, "x", qs, mode="linear", weight=F.col("w"), bucket=F.col("val")
        ).collect()
    }
    assert [lin[q] for q in qs] == list(ref)  # bit-exact vs stock percentile


def test_exact_quantiles_dedupes_duplicate_qs(spark):
    """ADVICE r7: duplicate (or float-colliding) entries in qs must not
    multiply output rows through the lo/hi rank equi-join — one row per
    DISTINCT quantile."""
    from big_data_computing_final_project_spark.operators.quantiles import (
        exact_quantiles,
    )

    df = spark.createDataFrame([(1.0,), (2.0,), (3.0,)], "x double")
    out = exact_quantiles(df, "x", [0.5, 0.5, 0.25, 0.25], bucket=F.col("val")).collect()
    assert [(r.q, r.value) for r in out] == [(0.25, 1.5), (0.5, 2.0)]
    low = exact_quantiles(
        df, "x", [1, 1.0, 0.5], mode="lower", bucket=F.col("val")
    ).collect()
    assert [(r.q, r.value) for r in low] == [(0.5, 2.0), (1.0, 3.0)]


def test_prefix_strict_cross_bucket_duplicates_raise(spark):
    """ADVICE r7: the strict-mode unique-key guard must also catch
    duplicates that straddle bucket partitions (a bucket that is not a
    pure function of the order keys) — previously only same-bucket
    duplicates raised, so a passing plan wasn't a uniqueness proof."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    # same key k=1 lands in buckets 0 and 1: adjacent-in-bucket lag never
    # sees the pair, the bucket-boundary min/max check must
    dup = spark.createDataFrame(
        [(1, 5, 0), (1, 7, 1), (2, 9, 1)], "k long, v long, b long"
    ).repartition(3)
    bad = prefix_agg(dup, ["k"], [("v", "p", "sum")], strict=True, bucket=F.col("b"))
    with pytest.raises(SparkRuntimeException, match="straddling buckets"):
        bad.collect()
    # unique keys with a coarse (non-injective but monotone) bucket pass
    ok = spark.createDataFrame(
        [(1, 5, 0), (2, 7, 0), (3, 9, 1)], "k long, v long, b long"
    )
    got = {
        r.k: r.p
        for r in prefix_agg(
            ok, ["k"], [("v", "p", "sum")], strict=True, bucket=F.col("b")
        ).collect()
    }
    assert got == {1: None, 2: 5, 3: 12}
