"""ML-surface tests: metric-aggregate parity against sklearn-style Python
math, estimator smoke floors, and pipeline invariants (SURVEY §5 strategy:
ML ops get self-checks, not SQL oracles)."""

from __future__ import annotations

import pytest

from big_data_computing_final_project_spark.plans import all_queries

_Q = all_queries()


def _metrics(spark, sf_dir, name):
    return {r.metric: r.value for r in _Q[name](spark, sf_dir).collect()}


def test_macro_f1_matches_python_reference(spark, sf_dir):
    """summary_metrics must equal a hand-rolled macro computation on the
    same (label, prediction) pairs — guards the weighted-vs-macro trap."""
    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.ml.evaluation import summary_metrics

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pred = emb.select(
        F.col("label").cast("bigint").alias("label"),
        (F.col("vec_id") % 3).cast("bigint").alias("prediction"),
    )
    got = summary_metrics(pred).first()

    rows = [(r.label, r.prediction) for r in pred.collect()]
    classes = sorted({l for l, _ in rows} | {p for _, p in rows})
    f1s, precs, recs, correct = [], [], [], 0
    for c in classes:
        tp = sum(1 for l, p in rows if l == c and p == c)
        sup = sum(1 for l, _ in rows if l == c)
        prd = sum(1 for _, p in rows if p == c)
        prec = tp / prd if prd else 0.0
        rec = tp / sup if sup else 0.0
        f1s.append(2 * prec * rec / (prec + rec) if prec + rec else 0.0)
        precs.append(prec)
        recs.append(rec)
    correct = sum(1 for l, p in rows if l == p)
    assert got.accuracy == pytest.approx(correct / len(rows), abs=1e-12)
    assert got.macro_precision == pytest.approx(sum(precs) / len(classes), abs=1e-12)
    assert got.macro_recall == pytest.approx(sum(recs) / len(classes), abs=1e-12)
    assert got.macro_f1 == pytest.approx(sum(f1s) / len(classes), abs=1e-12)


@pytest.mark.parametrize(
    "name",
    ["q44_decision_tree", "q45_random_forest", "q46_gradient_boosting", "q47_logistic_l1"],
)
def test_estimator_fit_produces_sane_metrics(name, spark, sf_dir):
    m = _metrics(spark, sf_dir, name)
    assert m["n_train"] + m["n_test"] == 500  # all embeddings rows used
    assert 0.0 <= m["accuracy"] <= 1.0
    assert 0.0 <= m["macro_f1"] <= 1.0
    # embeddings are label-noise: just demand the split saw >= 10% test rows
    assert m["n_test"] >= 50


def test_grid_search_reports_every_candidate(spark, sf_dir):
    m = _metrics(spark, sf_dir, "q48_grid_search_dt")
    candidates = [k for k in m if k.startswith("cv_f1[")]
    assert len(candidates) == 4  # 2 depths x 2 maxBins
    assert m["best_cv_f1"] == pytest.approx(max(m[k] for k in candidates), abs=1e-12)


def test_house_pipeline_beats_majority_class(spark, sf_dir):
    """Label is 'price above median' — learnable from o_totalprice-derived
    features, so the pipeline must do clearly better than the 0.5 prior."""
    m = _metrics(spark, sf_dir, "q49_house_pipeline")
    assert m["accuracy"] >= 0.8
    assert m["macro_f1"] >= 0.8


def test_house_pipeline_rerun_reuses_generated_code(spark, sf_dir):
    """A repeated q49 run must reuse the classes its first run generated:
    the pipeline generates ~120 distinct classes, more than Spark's default
    codegen cache holds, so an undersized cache recompiles all of them."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = codegen.METRIC_COMPILATION_TIME()
    _metrics(spark, sf_dir, "q49_house_pipeline")
    before = compiles.getCount()
    _metrics(spark, sf_dir, "q49_house_pipeline")
    assert compiles.getCount() - before <= 10


def test_stratified_split_preserves_class_ratios(spark, sf_dir):
    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.ml.pipeline import stratified_split

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("label").cast("double").alias("label")
    )
    train, test = stratified_split(emb, "label", 0.2, seed=42)
    assert train.count() + test.count() == emb.count()
    # every class appears in both folds
    train_classes = {r.label for r in train.select("label").distinct().collect()}
    test_classes = {r.label for r in test.select("label").distinct().collect()}
    assert train_classes == test_classes


def test_binning_strategy_chooser(spark, sf_dir):
    from big_data_computing_final_project_spark.ml.pipeline import choose_binning

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    decisions = choose_binning(li, ["l_quantity", "l_extendedprice"])
    by_col = {d.column: d for d in decisions}
    assert 5 <= by_col["l_quantity"].n_bins <= 10
    assert by_col["l_extendedprice"].strategy in ("equal_width", "quantile")


def test_random_search_samples_seeded(spark, sf_dir):
    """M9 — seeded random search: same seed -> same param maps; CV runs."""
    from big_data_computing_final_project_spark.ml.models import decision_tree
    from big_data_computing_final_project_spark.ml.selection import random_search
    from big_data_computing_final_project_spark.plans.ml_queries import _embedding_features

    dt = decision_tree()
    dist = {dt.maxDepth: [3, 4, 5, 6], dt.maxBins: [8, 16, 32]}
    cv1 = random_search(dt, dist, n_iter=3, num_folds=2, seed=7)
    cv2 = random_search(dt, dist, n_iter=3, num_folds=2, seed=7)
    maps1 = [{p.name: v for p, v in m.items()} for m in cv1.getEstimatorParamMaps()]
    maps2 = [{p.name: v for p, v in m.items()} for m in cv2.getEstimatorParamMaps()]
    assert maps1 == maps2
    df = _embedding_features(spark, sf_dir)
    model = cv1.fit(df)
    assert len(model.avgMetrics) == 3


def test_bootstrap_sample_seed_deterministic(spark, sf_dir):
    from big_data_computing_final_project_spark.operators.profiling import bootstrap_sample

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    a = bootstrap_sample(orders, seed=42).count()
    b = bootstrap_sample(orders, seed=42).count()
    assert a == b
    # with-replacement fraction=1.0 resamples roughly n rows
    n = orders.count()
    assert 0.8 * n < a < 1.2 * n


def test_roc_auc_exact_matches_rank_statistic(spark, sf_dir):
    """roc_auc_exact must equal the tie-corrected Mann-Whitney statistic
    computed by hand (numpy average ranks) on a small tied sample."""
    import numpy as np

    ys = [1, 1, 0, 0, 1, 0, 0, 1, 0, 0, 1, 0]
    ss = [5, 5, 5, 3, 3, 2, 2, 8, 8, 1, 7, 7]
    df = spark.createDataFrame(list(zip(ys, ss)), "y int, s int")

    from big_data_computing_final_project_spark.ml.evaluation import roc_auc_exact

    got = roc_auc_exact(df, label_col="y", score_col="s").first()

    arr_y, arr_s = np.array(ys), np.array(ss, dtype=float)
    order = np.argsort(arr_s, kind="stable")
    ranks = np.empty(len(arr_s))
    sorted_s = arr_s[order]
    i = 0
    while i < len(sorted_s):
        j = i
        while j < len(sorted_s) and sorted_s[j] == sorted_s[i]:
            j += 1
        ranks[order[i:j]] = (i + 1 + j) / 2.0  # average rank of the tie block
        i = j
    npos, nneg = int(arr_y.sum()), int((1 - arr_y).sum())
    want = (ranks[arr_y == 1].sum() - npos * (npos + 1) / 2.0) / (npos * nneg)
    assert got.npos == npos and got.nneg == nneg
    assert abs(got.auc - want) < 1e-12


def test_roc_auc_evaluator_tracks_exact(spark, sf_dir):
    """The binned model-path evaluator (BinaryClassificationEvaluator) must
    agree with the exact rank form on a fitted model's probabilities."""
    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.ml.evaluation import (
        roc_auc_evaluator,
        roc_auc_exact,
    )
    from big_data_computing_final_project_spark.ml.models import logistic_l1
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.functions import vector_to_array

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = emb.select(
        (F.col("label") >= 5).cast("double").alias("label"),
        *[F.col("embedding")[i].cast("double").alias(f"x{i}") for i in range(8)],
    )
    data = VectorAssembler(
        inputCols=[f"x{i}" for i in range(8)], outputCol="features"
    ).transform(df)
    model = logistic_l1(reg_param=0.0001).fit(data)
    pred = model.transform(data)
    binned = roc_auc_evaluator().evaluate(pred)
    exact = (
        roc_auc_exact(
            pred.select(
                "label", vector_to_array("probability")[1].alias("score")
            ),
            label_col="label",
            score_col="score",
        )
        .first()
        .auc
    )
    assert abs(binned - exact) < 5e-3  # binning tolerance
    assert 0.0 <= exact <= 1.0


def _pred_frame(spark, pairs):
    return spark.createDataFrame(
        [(float(l), float(p)) for l, p in pairs], "label double, prediction double"
    )


def test_macro_vs_weighted_f1_rank_differently(spark, sf_dir):
    """On a 98/2-skewed label, the majority-class predictor wins WEIGHTED
    F1 but loses MACRO F1 to a minority-sensitive predictor — so CV must
    rank with the macro evaluator to reproduce the reference's
    scoring='f1_macro' winner. Pins both orderings plus the exact macro
    values."""
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator

    from big_data_computing_final_project_spark.ml.evaluation import MacroF1Evaluator

    # ground truth: 98 zeros, 2 ones
    labels = [0] * 98 + [1] * 2
    # model A: always predict 0
    pred_a = _pred_frame(spark, [(l, 0) for l in labels])
    # model B: catches both positives but flips 10 negatives to 1
    preds_b = [1] * 10 + [0] * 88 + [1, 1]
    pred_b = _pred_frame(spark, list(zip(labels, preds_b)))

    macro = MacroF1Evaluator()
    weighted = MulticlassClassificationEvaluator(metricName="f1")

    ma, mb = macro.evaluate(pred_a), macro.evaluate(pred_b)
    wa, wb = weighted.evaluate(pred_a), weighted.evaluate(pred_b)

    # exact expected macro values (hand-derived confusion arithmetic)
    f1_a0 = 2 * (98 / 100) * 1.0 / (98 / 100 + 1.0)
    assert abs(ma - (f1_a0 + 0.0) / 2) < 1e-12
    f1_b0 = 2 * 1.0 * (88 / 98) / (1.0 + 88 / 98)
    f1_b1 = 2 * (2 / 12) * 1.0 / (2 / 12 + 1.0)
    assert abs(mb - (f1_b0 + f1_b1) / 2) < 1e-12

    assert wa > wb, "weighted F1 must prefer the majority predictor"
    assert mb > ma, "macro F1 must prefer the minority-sensitive predictor"
    assert macro.isLargerBetter()


def test_l1_feature_selection_drops_noise(spark, sf_dir):
    """M7: on a frame where y is a deterministic function of x0 and the
    other features are a constant and hash noise, L1 selection must keep
    x0 and drop the junk (sklearn SelectFromModel semantics: |coef| >
    1e-5 after an L1 fit)."""
    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.ml.models import l1_feature_selection

    df = (
        spark.range(400)
        .select(
            (F.col("id") % 7 - 3).cast("double").alias("x0"),
            F.lit(1.0).alias("const_one"),
            ((F.xxhash64("id") % 100) / 50.0).cast("double").alias("noise"),
        )
        .withColumn("label", (F.col("x0") > 0).cast("double"))
    )
    selected, importance, asm = l1_feature_selection(
        df, ["x0", "const_one", "noise"], reg_param=0.05
    )
    assert selected == ["x0"], selected
    rows = {r.feature: r for r in importance.collect()}
    assert rows["x0"].selected and rows["x0"].abs_coef > 1e-3
    assert not rows["const_one"].selected
    assert not rows["noise"].selected
    assert asm.getInputCols() == ["x0"]


def test_tree_to_dot_structure_matches_model(spark, sf_dir):
    """M14 — the DOT export must contain exactly the fitted tree: one DOT
    node per model node, one edge per parent-child link, split features by
    name, and a balanced digraph wrapper any graphviz renderer accepts."""
    import re

    from pyspark.ml import Pipeline
    from pyspark.ml.classification import DecisionTreeClassifier
    from pyspark.ml.feature import VectorAssembler
    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.ml.viz import importance_bars, tree_to_dot

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    base = orders.select(
        F.col("o_totalprice").alias("price"),
        (F.col("o_custkey") % 5).cast("double").alias("ckey"),
        (F.col("o_totalprice") > 150000).cast("double").alias("label"),
    )
    pipe = Pipeline(
        stages=[
            VectorAssembler(inputCols=["price", "ckey"], outputCol="features"),
            DecisionTreeClassifier(maxDepth=4, seed=42),
        ]
    )
    model = pipe.fit(base).stages[-1]
    names = ["price", "ckey"]
    dot = tree_to_dot(model, feature_names=names)

    assert dot.startswith("digraph Tree {") and dot.rstrip().endswith("}")
    n_nodes = len(re.findall(r'^\d+ \[label="', dot, flags=re.M))
    n_edges = len(re.findall(r"^\d+ -> \d+", dot, flags=re.M))
    assert n_nodes == model.numNodes
    assert n_edges == model.numNodes - 1
    # internal nodes carry a named split condition; depth>0 tree must split
    assert re.search(r"(price|ckey) <= ", dot)
    # every node shows impurity + prediction (the reference's box content)
    assert dot.count("impurity = ") == model.numNodes
    # root's two edges carry the True/False head labels of the figure
    assert dot.count('headlabel="True"') == 1
    assert dot.count('headlabel="False"') == 1

    bars = importance_bars(model, names)
    lines = bars.splitlines()
    assert len(lines) == 2
    # sorted descending, bars proportional: first line has the longest bar
    assert lines[0].count("#") >= lines[1].count("#")
    assert lines[0].split()[0] in names


def test_q192_random_search_deterministic_and_complete(spark, sf_dir):
    """q192 (M9 registered): same seed -> identical candidate/params/metric
    table; reports all 6 candidates plus the BEST row, and BEST carries the
    max metric."""
    from big_data_computing_final_project_spark.plans.ml_queries import q192_random_search

    a = q192_random_search(spark, sf_dir).collect()
    b = q192_random_search(spark, sf_dir).collect()
    assert a == b
    assert len(a) == 7
    best = a[-1]
    assert best.params.startswith("BEST:")
    assert abs(best.cv_macro_f1 - max(r.cv_macro_f1 for r in a[:-1])) < 1e-12
    assert best.params[5:] in {r.params for r in a[:-1]}


def test_q193_grid_search_rf_reports_every_candidate(spark, sf_dir):
    """q193 (M8 over RF): all 4 grid cells reported, winner = max."""
    from big_data_computing_final_project_spark.plans.ml_queries import q193_grid_search_rf

    rows = {r.metric: r.value for r in q193_grid_search_rf(spark, sf_dir).collect()}
    cells = [k for k in rows if k.startswith("cv_f1[")]
    assert len(cells) == 4
    for t in (10, 30):
        for d in (4, 8):
            assert f"cv_f1[trees={t},depth={d}]" in rows
    assert abs(rows["best_cv_f1"] - max(rows[c] for c in cells)) < 1e-12


def test_render_dot_hermetic(spark, sf_dir, tmp_path, monkeypatch):
    """PNG render of q44's tree (the reference's export_graphviz artifact),
    HERMETIC: a stub `dot` executable planted on PATH exercises the whole
    render path — format inference, stdin handoff, exit-code check, output
    file — deterministically on any box (real graphviz, when present, is
    a bonus covered by the same code path). The no-binary branch must
    raise a clear FileNotFoundError."""
    import os
    import stat

    import pytest as _pytest

    from big_data_computing_final_project_spark.ml.models import decision_tree
    from big_data_computing_final_project_spark.ml.viz import render_dot, tree_to_dot
    from big_data_computing_final_project_spark.plans.ml_queries import (
        _embedding_features,
    )

    model = decision_tree(max_depth=3).fit(_embedding_features(spark, sf_dir))
    dot = tree_to_dot(model)
    real_path = os.environ.get("PATH", "")

    # no binary on PATH -> clear error
    monkeypatch.setenv("PATH", str(tmp_path / "emptybin"))
    with _pytest.raises(FileNotFoundError, match="graphviz"):
        render_dot(dot, str(tmp_path / "tree.png"))

    # stub dot: validates -T, reads the DOT from stdin, writes PNG magic +
    # the digraph text (so the test can assert the handoff was complete)
    bindir = tmp_path / "bin"
    bindir.mkdir()
    stub = bindir / "dot"
    stub.write_text(
        "#!/bin/sh\n"
        'case "$1" in -Tpng) ;; *) echo "bad fmt $1" >&2; exit 9;; esac\n'
        '[ "$2" = "-o" ] || exit 9\n'
        "printf '\\211PNG\\r\\n\\032\\n' > \"$3\"\n"
        'cat >> "$3"\n'
    )
    stub.chmod(stub.stat().st_mode | stat.S_IEXEC)
    monkeypatch.setenv("PATH", f"{bindir}{os.pathsep}{real_path}")
    out = render_dot(dot, str(tmp_path / "tree.png"))
    with open(out, "rb") as f:
        blob = f.read()
    assert blob[:8] == b"\x89PNG\r\n\x1a\n"
    assert b"digraph" in blob  # the full DOT reached the renderer's stdin

    # nonzero exit surfaces as RuntimeError with stderr attached
    with _pytest.raises(RuntimeError, match="bad fmt"):
        render_dot(dot, str(tmp_path / "tree.svg"))


def test_house_pipeline_loss_jobs_run_one_stage(spark, sf_dir):
    """Each OWL-QN loss evaluation of q49's LR fit (treeAggregate at
    RDDLossFunction) must run as a single stage. Spark aggregates it with
    finalAggregateOnExecutor, so over a multi-partition train set every
    evaluation is a two-stage job with a shuffle; the fit input goes
    through one_partition_if_small to avoid that. Run at sf0.01, where
    the 12k-row train set spans more than one partition."""
    import os
    import time

    sc = spark.sparkContext
    group = "q49-loss-stages"
    sc.setJobGroup(group, "q49 loss-job stages")
    try:
        _Q["q49_house_pipeline"](spark, os.path.join(os.path.dirname(sf_dir), "sf0.01")).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    deadline = time.time() + 30
    while time.time() < deadline and any(
        st.getJobInfo(j) is None or st.getJobInfo(j).status == "RUNNING" for j in jobs
    ):
        time.sleep(0.2)
    loss_stage_counts = []
    for j in jobs:
        stage_ids = st.getJobInfo(j).stageIds
        names = [st.getStageInfo(s).name for s in stage_ids if st.getStageInfo(s)]
        if any("RDDLossFunction" in n for n in names):
            loss_stage_counts.append(len(stage_ids))
    assert len(loss_stage_counts) >= 10  # OWL-QN ran (q49 runs ~70)
    assert set(loss_stage_counts) == {1}, loss_stage_counts


def test_single_partition_lr_fit_matches_partitioned_fit(spark):
    """An L1 LR fit on one_partition_if_small(df) must be the fit on the
    multi-partition df up to float summation order: coefficients equal to
    1e-9 relative, and identical predictions."""
    import numpy as np
    from pyspark.ml.feature import VectorAssembler
    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.ml.models import logistic_l1
    from big_data_computing_final_project_spark.operators.sizing import one_partition_if_small

    xs = [F.sin(F.col("id") * (k + 1) * 0.37) for k in range(4)]
    noise = (F.xxhash64("id") % 1000) / 1000.0 - 0.5
    df = spark.range(0, 3000, numPartitions=4).select(
        "id",
        *[x.alias(f"x{k}") for k, x in enumerate(xs)],
        ((xs[0] + 0.5 * xs[1] + noise) > 0).cast("double").alias("label"),
    )
    data = VectorAssembler(inputCols=[f"x{k}" for k in range(4)], outputCol="features").transform(df)
    one = one_partition_if_small(data)
    assert data.rdd.getNumPartitions() == 4
    assert one.rdd.getNumPartitions() == 1

    lr = logistic_l1(reg_param=0.001)
    multi, single = lr.fit(data), lr.fit(one)
    np.testing.assert_allclose(
        single.coefficients.toArray(), multi.coefficients.toArray(), rtol=1e-9, atol=0
    )
    np.testing.assert_allclose(single.intercept, multi.intercept, rtol=1e-9, atol=0)

    def predictions(model):
        return model.transform(data).select("id", "prediction").orderBy("id").collect()

    assert predictions(single) == predictions(multi)


def test_one_partition_if_small_keeps_large_layout(spark):
    """Above the advisory partition size the frame is returned unchanged."""
    from big_data_computing_final_project_spark.operators.sizing import one_partition_if_small

    df = spark.range(0, 1000, numPartitions=3)
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    spark.conf.set(key, "1b")
    try:
        assert one_partition_if_small(df) is df
    finally:
        spark.conf.unset(key)
    assert one_partition_if_small(df).rdd.getNumPartitions() == 1


def test_house_pipeline_driver_jobs_within_budget(spark, sf_dir):
    """Apart from its OWL-QN loss evaluations, a warm q49 runs one job tree
    per driver statistic: the median, one aggregate over the cached base
    (bucketizer range, label set, labelled-row count), one StringIndexer
    fit, the discretizer, scaler and LR summarizer, and one confusion-count
    collect for both the metrics and n_test. Before these were folded it
    ran 36 non-loss jobs at sf0.01."""
    import os

    from _fixtures import run_in_job_group

    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    q49 = _Q["q49_house_pipeline"]
    q49(spark, sf01).collect()  # the warm run below reuses the memoized schemas
    _, jobs = run_in_job_group(spark, "q49-driver-jobs", lambda: q49(spark, sf01).collect())
    loss = [names for names in jobs if any("RDDLossFunction" in n for n in names)]
    assert len(loss) >= 10  # OWL-QN ran
    assert len(jobs) - len(loss) <= 20, len(jobs) - len(loss)


def _old_summary_aggregate(pred):
    """accuracy and macro P/R/F1 as Spark aggregates over the per-class
    report, the way summary_metrics computed them before it collected."""
    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.ml.evaluation import classification_report

    return classification_report(pred).agg(
        (F.sum("tp") / F.sum("support")).alias("accuracy"),
        F.avg("precision").alias("macro_precision"),
        F.avg("recall").alias("macro_recall"),
        F.avg("f1").alias("macro_f1"),
    ).first()


_METRICS = ("accuracy", "macro_precision", "macro_recall", "macro_f1")


def test_summary_metrics_binary_equals_report_aggregate_bitwise(spark):
    """For two classes the Python class sum is Spark's avg over the
    report, so every metric is the same double. A null label and a null
    prediction each count as one more class that is never right, as in
    the report's joins."""
    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.ml.evaluation import summary_metrics

    pred = spark.range(0, 997, numPartitions=5).select(
        F.when(F.col("id") % 50 == 0, None)
        .otherwise((F.col("id") % 3 == 0).cast("bigint"))
        .alias("label"),
        F.when(F.col("id") % 70 == 1, None)
        .otherwise((F.xxhash64("id") % 7 < 2).cast("bigint"))
        .alias("prediction"),
    )
    want = _old_summary_aggregate(pred)
    got = summary_metrics(pred).first()
    for m in _METRICS:
        assert float.hex(got[m]) == float.hex(want[m]), m


def test_summary_metrics_partition_independent_one_execution(spark):
    """Ten classes: the same rows in 1 and in 7 partitions give the same
    doubles, and each call runs one SQL execution (the count collect)."""
    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.ml.evaluation import summary_metrics

    store = spark._jsparkSession.sharedState().statusStore()
    base = spark.range(0, 3001, numPartitions=1).select(
        (F.col("id") % 10).cast("bigint").alias("label"),
        (F.xxhash64("id") % 11).cast("bigint").alias("prediction"),
    )
    results = []
    for df in (base, base.repartition(7)):
        before = store.executionsCount()
        frame = summary_metrics(df)
        assert store.executionsCount() - before == 1
        results.append([float.hex(frame.first()[m]) for m in _METRICS])
    assert results[0] == results[1]
    want = _old_summary_aggregate(base)
    for m, got in zip(_METRICS, results[0]):
        assert float.fromhex(got) == pytest.approx(want[m], rel=1e-15, abs=0), m


def test_stratified_split_excludes_null_labels(spark):
    """Rows with a null label go to neither split; the other rows are split
    disjointly and completely, whether or not the label set is passed."""
    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.ml.pipeline import stratified_split

    df = spark.range(0, 300, numPartitions=3).select(
        "id",
        F.when(F.col("id") % 5 == 0, None).otherwise((F.col("id") % 2).cast("double")).alias("label"),
    )
    for labels in (None, [0.0, 1.0]):
        train, test = stratified_split(df, "label", 0.2, seed=42, labels=labels)
        tr = {r.id for r in train.collect()}
        te = {r.id for r in test.collect()}
        assert not tr & te
        assert tr | te == {i for i in range(300) if i % 5}
