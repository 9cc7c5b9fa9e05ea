"""ML queries (SURVEY.md §2.8). Two tiers:

1. **Metric semantics, oracle-checked** (q41-q43): the custom macro-F1 /
   classification-report / confusion aggregates evaluated over a
   *deterministic* predictor (`vec_id % 3` against `embeddings.label`), so
   the exact metric arithmetic — the SURVEY §4 "hard part" (Spark's "f1" is
   weighted, the reference's contract is macro) — is verified bit-for-bit
   in DuckDB.

2. **Estimator fits, rows-only** (q44+): `pyspark.ml` DT/RF/GBT/LR training
   with fixed seeds; not SQL-expressible, so the driver records rows-only
   and pytest enforces metric floors (mirroring the reference's own
   held-out-validation practice, SURVEY §5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..ml.evaluation import classification_report, confusion_counts, macro_metrics
from ..operators.sizing import broadcast_if_small, one_partition_if_small
from ..sources.io import local_frame
from .registry import register

# embeddings.label ∈ 0..9; the deterministic predictor emits 0..2, so the
# macro average spans all 10 label classes (zero-F1 classes included —
# exactly how sklearn's macro handles unpredicted classes)
_CLASSES = list(range(10))


def _pred_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 'model': predict vec_id % 3. Exercises the evaluation
    operators without a training step."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        F.col("label").cast("bigint").alias("label"),
        (F.col("vec_id") % 3).cast("bigint").alias("prediction"),
    )


# ---------------------------------------------------------------------------
# q41 — confusion matrix (M11; `df.stat.crosstab('label','prediction')`
# shape, kept long-format for scale).
# ---------------------------------------------------------------------------

_Q41_ORACLE = """
SELECT CAST(label AS BIGINT) AS label,
       CAST(vec_id % 3 AS BIGINT) AS prediction,
       COUNT(*) AS n
FROM embeddings
GROUP BY label, prediction
ORDER BY label, prediction
"""


@register("q41_confusion_matrix", oracle=_Q41_ORACLE)
def q41_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return confusion_counts(_pred_df(spark, sf_dir)).orderBy("label", "prediction")


# ---------------------------------------------------------------------------
# q42 — per-class classification report (M11). Integer confusion counts →
# identical double divisions on both engines.
# ---------------------------------------------------------------------------

_Q42_ORACLE = """
WITH p AS (SELECT CAST(label AS BIGINT) AS label, CAST(vec_id % 3 AS BIGINT) AS prediction FROM embeddings),
per_label AS (SELECT label, COUNT(*) AS support FROM p GROUP BY label),
per_pred AS (SELECT prediction AS label, COUNT(*) AS predicted FROM p GROUP BY prediction),
diag AS (SELECT label, COUNT(*) AS tp FROM p WHERE label = prediction GROUP BY label),
rep AS (
  SELECT COALESCE(l.label, r.label) AS label,
         COALESCE(l.support, 0) AS support,
         COALESCE(r.predicted, 0) AS predicted,
         COALESCE(d.tp, 0) AS tp
  FROM per_label l
  FULL OUTER JOIN per_pred r ON l.label = r.label
  LEFT JOIN diag d ON COALESCE(l.label, r.label) = d.label
)
SELECT label, support,
       CASE WHEN predicted > 0 THEN CAST(tp AS DOUBLE) / predicted ELSE 0.0 END AS precision,
       CASE WHEN support > 0 THEN CAST(tp AS DOUBLE) / support ELSE 0.0 END AS recall,
       tp,
       CASE WHEN (CASE WHEN predicted > 0 THEN CAST(tp AS DOUBLE) / predicted ELSE 0.0 END
                  + CASE WHEN support > 0 THEN CAST(tp AS DOUBLE) / support ELSE 0.0 END) > 0
            THEN 2.0 * (CASE WHEN predicted > 0 THEN CAST(tp AS DOUBLE) / predicted ELSE 0.0 END)
                     * (CASE WHEN support > 0 THEN CAST(tp AS DOUBLE) / support ELSE 0.0 END)
                 / ((CASE WHEN predicted > 0 THEN CAST(tp AS DOUBLE) / predicted ELSE 0.0 END)
                    + (CASE WHEN support > 0 THEN CAST(tp AS DOUBLE) / support ELSE 0.0 END))
            ELSE 0.0 END AS f1
FROM rep
ORDER BY label
"""


@register("q42_classification_report", oracle=_Q42_ORACLE)
def q42_classification_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return classification_report(_pred_df(spark, sf_dir))


# ---------------------------------------------------------------------------
# q43 — headline metrics: accuracy + macro P/R/F1 in ONE row with explicit
# per-class terms (pivoted counts → left-associated sums) so the macro
# averages are order-independent and bit-identical to the oracle.
# ---------------------------------------------------------------------------


def _sql_class_terms(c: int) -> dict[str, str]:
    tp = f"CAST(COUNT(*) FILTER (WHERE label = {c} AND prediction = {c}) AS DOUBLE)"
    sup = f"COUNT(*) FILTER (WHERE label = {c})"
    pred = f"COUNT(*) FILTER (WHERE prediction = {c})"
    prec = f"(CASE WHEN {pred} > 0 THEN {tp} / {pred} ELSE 0.0 END)"
    rec = f"(CASE WHEN {sup} > 0 THEN {tp} / {sup} ELSE 0.0 END)"
    f1 = f"(CASE WHEN ({prec} + {rec}) > 0 THEN 2.0 * {prec} * {rec} / ({prec} + {rec}) ELSE 0.0 END)"
    return {"prec": prec, "rec": rec, "f1": f1, "tp": tp}


def _q43_oracle() -> str:
    t = {c: _sql_class_terms(c) for c in _CLASSES}
    acc = " + ".join(t[c]["tp"] for c in _CLASSES)
    prec = " + ".join(t[c]["prec"] for c in _CLASSES)
    rec = " + ".join(t[c]["rec"] for c in _CLASSES)
    f1 = " + ".join(t[c]["f1"] for c in _CLASSES)
    k = float(len(_CLASSES))
    return f"""
WITH p AS (SELECT CAST(label AS BIGINT) AS label, CAST(vec_id % 3 AS BIGINT) AS prediction FROM embeddings)
SELECT ({acc}) / COUNT(*) AS accuracy,
       ({prec}) / {k} AS macro_precision,
       ({rec}) / {k} AS macro_recall,
       ({f1}) / {k} AS macro_f1
FROM p
"""


@register("q43_summary_metrics", oracle=_q43_oracle())
def q43_summary_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _pred_df(spark, sf_dir)

    def terms(c: int):
        tp = F.count(F.when((F.col("label") == c) & (F.col("prediction") == c), 1)).cast("double")
        sup = F.count(F.when(F.col("label") == c, 1))
        pred = F.count(F.when(F.col("prediction") == c, 1))
        prec = F.when(pred > 0, tp / pred).otherwise(F.lit(0.0))
        rec = F.when(sup > 0, tp / sup).otherwise(F.lit(0.0))
        f1 = F.when((prec + rec) > 0, F.lit(2.0) * prec * rec / (prec + rec)).otherwise(F.lit(0.0))
        return tp, prec, rec, f1

    ts = [terms(c) for c in _CLASSES]
    acc = ts[0][0]
    prec = ts[0][1]
    rec = ts[0][2]
    f1 = ts[0][3]
    for tp_c, prec_c, rec_c, f1_c in ts[1:]:
        acc = acc + tp_c
        prec = prec + prec_c
        rec = rec + rec_c
        f1 = f1 + f1_c
    k = float(len(_CLASSES))
    return p.agg(
        (acc / F.count(F.lit(1))).alias("accuracy"),
        (prec / F.lit(k)).alias("macro_precision"),
        (rec / F.lit(k)).alias("macro_recall"),
        (f1 / F.lit(k)).alias("macro_f1"),
    )


# ---------------------------------------------------------------------------
# Estimator fits (rows-only). Output contract: long-format (metric, value)
# rows so the driver sees a stable schema regardless of model internals.
# ---------------------------------------------------------------------------


def _embedding_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.functions import array_to_vector

    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
        F.col("label").cast("double").alias("label"),
    )


def _fit_eval(spark: SparkSession, sf_dir: str, estimator, binarize: bool = False) -> DataFrame:
    from ..ml.pipeline import stratified_split

    df = _embedding_features(spark, sf_dir)
    if binarize:
        df = df.withColumn("label", (F.col("label") > 0).cast("double"))
    train, test = stratified_split(df, "label", 0.2, seed=42)
    train = train.cache()
    model = estimator.fit(train)
    n_train = train.count()
    cc = confusion_counts(model.transform(test)).collect()
    train.unpersist()
    m = macro_metrics(cc)
    rows = [
        ("n_train", float(n_train)),
        ("n_test", float(sum(r.n for r in cc))),
        ("accuracy", m["accuracy"]),
        ("macro_precision", m["macro_precision"]),
        ("macro_recall", m["macro_recall"]),
        ("macro_f1", m["macro_f1"]),
    ]
    return local_frame(spark, rows, "metric string, value double")


@register("q44_decision_tree")
def q44_decision_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1/M2 — DecisionTreeClassifier on embeddings (SURVEY §2.8; the
    reference's 479 s single-process fit is the baseline anchor, §6)."""
    from ..ml.models import decision_tree

    return _fit_eval(spark, sf_dir, decision_tree(max_depth=8, min_instances_per_node=5))


@register("q45_random_forest")
def q45_random_forest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 — RandomForestClassifier, sqrt feature bagging, seeded."""
    from ..ml.models import random_forest

    return _fit_eval(spark, sf_dir, random_forest(num_trees=50, max_depth=6))


@register("q46_gradient_boosting")
def q46_gradient_boosting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 — GBTClassifier (binary: label>0, GBT is two-class in Spark)."""
    from ..ml.models import gradient_boosting

    return _fit_eval(spark, sf_dir, gradient_boosting(max_iter=20, max_depth=4), binarize=True)


@register("q47_logistic_l1")
def q47_logistic_l1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5/M6/M7 — L1 logistic regression (multinomial OWL-QN)."""
    from ..ml.models import logistic_l1

    return _fit_eval(spark, sf_dir, logistic_l1(reg_param=0.005))


@register("q48_grid_search_dt")
def q48_grid_search_dt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8/M10 — 3-fold grid-search CV over the DT (maxDepth × maxBins),
    returning per-candidate mean CV metric + the winner (A15 argmax)."""
    from ..ml.models import decision_tree
    from ..ml.selection import grid_search

    df = _embedding_features(spark, sf_dir).cache()
    dt = decision_tree()
    cv = grid_search(dt, {dt.maxDepth: [4, 8], dt.maxBins: [16, 32]}, num_folds=3)
    model = cv.fit(df)
    rows = []
    for pm, metric in zip(cv.getEstimatorParamMaps(), model.avgMetrics):
        depth = pm[dt.maxDepth]
        bins = pm[dt.maxBins]
        rows.append((f"cv_f1[depth={depth},bins={bins}]", float(metric)))
    best = max(model.avgMetrics)
    rows.append(("best_cv_f1", float(best)))
    df.unpersist()
    return local_frame(spark, rows, "metric string, value double")


@register("q192_random_search")
def q192_random_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9 — seeded randomized-search CV (`RandomizedSearchCV(n_iter, cv=3)`,
    reference `Sol_2.ipynb:664-695` cell 2df63020): sample param maps with a
    seeded RNG over the DT distributions, 3-fold CV each, report every
    candidate's macro-F1 plus the winner. Rows-only (model fits are not
    SQL-expressible); determinism pinned in tests/test_ml.py (same seed →
    same candidate set AND same metric table)."""
    from ..ml.models import decision_tree
    from ..ml.selection import random_search

    df = _embedding_features(spark, sf_dir).cache()
    dt = decision_tree()
    cv = random_search(
        dt,
        {
            dt.maxDepth: [2, 4, 6, 8, 10],
            dt.maxBins: [8, 16, 32, 64],
            dt.minInstancesPerNode: [1, 5, 10],
        },
        n_iter=6,
        num_folds=3,
        seed=42,
    )
    model = cv.fit(df)
    rows = []
    for i, (pm, metric) in enumerate(zip(cv.getEstimatorParamMaps(), model.avgMetrics)):
        desc = f"depth={pm[dt.maxDepth]},bins={pm[dt.maxBins]},min={pm[dt.minInstancesPerNode]}"
        rows.append((i, desc, float(metric)))
    df.unpersist()
    best_i = max(range(len(rows)), key=lambda i: rows[i][2])
    rows.append((len(rows), f"BEST:{rows[best_i][1]}", rows[best_i][2]))
    return local_frame(spark, rows, "candidate int, params string, cv_macro_f1 double")


@register("q193_grid_search_rf")
def q193_grid_search_rf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 over the RandomForest — the reference grid-searched RF too
    (`Sol_2.ipynb:578-600`): 3-fold CV over numTrees × maxDepth, ranking by
    macro-F1 (the contract metric), every candidate's mean CV metric
    reported plus the winner. Exercises grid_search()'s estimator-generic
    path end-to-end (q48 covers only the DT). Rows-only."""
    from ..ml.models import random_forest
    from ..ml.selection import grid_search

    df = _embedding_features(spark, sf_dir).cache()
    rf = random_forest()
    cv = grid_search(rf, {rf.numTrees: [10, 30], rf.maxDepth: [4, 8]}, num_folds=3)
    model = cv.fit(df)
    rows = []
    for pm, metric in zip(cv.getEstimatorParamMaps(), model.avgMetrics):
        rows.append((f"cv_f1[trees={pm[rf.numTrees]},depth={pm[rf.maxDepth]}]", float(metric)))
    rows.append(("best_cv_f1", float(max(model.avgMetrics))))
    df.unpersist()
    return local_frame(spark, rows, "metric string, value double")


@register("q49_house_pipeline")
def q49_house_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP1/EP2 analogue (SURVEY §3): derived features → StringIndexer →
    equal-width + quantile binning → StandardScaler → assembler → L1 LR,
    stratified split, macro-F1 report. The feature Pipeline is fitted on
    the train split as it is laid out; the LR is fitted on its output
    through ``one_partition_if_small`` (one single-task job per OWL-QN
    loss evaluation instead of a two-stage one), and the two stages are
    served as one PipelineModel.

    Label: order value above the global median (computed from the data,
    like the reference's statistics-driven preprocessing, EP3).

    Job budget: apart from the OWL-QN loss evaluations (one job each,
    about 70), a warm run keeps its driver statistics to one job tree
    each: the median, one aggregate over the cached ``base`` (the
    bucketizer's range, the label set and the labelled-row count), the
    StringIndexer, QuantileDiscretizer and StandardScaler fits, the LR's
    summarizer and one collect of the test split's confusion counts.
    ``n_test`` is the sum of those counts and ``n_train`` the rest of the
    labelled rows (``randomSplit``'s splits are disjoint and cover their
    input)."""
    from ..functions.expressions import safe_ratio
    from ..ml.models import logistic_l1
    from ..ml.pipeline import build_feature_pipeline, equal_width_bucketizer, stratified_split
    from pyspark.ml import PipelineModel

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    median = orders.agg(F.expr("percentile_approx(o_totalprice, 0.5)")).first()[0]
    # base feeds three job trees (the statistics aggregate, train, test) —
    # cache it so the join runs once
    base = (
        orders.join(broadcast_if_small(customer), orders.o_custkey == customer.c_custkey)
        .select(
            "o_orderkey",
            "o_orderpriority",
            "c_mktsegment",
            "o_totalprice",
            "c_acctbal",
            safe_ratio(F.col("c_acctbal"), F.col("o_totalprice")).alias("affordability"),
            F.year("o_orderdate").cast("double").alias("order_year"),
            (F.col("o_totalprice") > median).cast("double").alias("label"),
        )
        .cache()
    )
    lo, hi, labels, n_labelled = base.agg(
        F.min("c_acctbal"), F.max("c_acctbal"), F.collect_set("label"), F.count("label")
    ).first()
    features = build_feature_pipeline(
        categorical=["o_orderpriority", "c_mktsegment"],
        equal_width=[equal_width_bucketizer("c_acctbal", lo, hi, 8)],
        quantile=["affordability"],
        passthrough=["order_year"],
    )
    train, test = stratified_split(base, "label", 0.2, seed=42, labels=labels)
    train = train.cache()
    fm = features.fit(train)
    lrm = logistic_l1(reg_param=0.001).fit(one_partition_if_small(fm.transform(train)))
    model = PipelineModel(stages=[fm, lrm])
    cc = confusion_counts(model.transform(test)).collect()
    m = macro_metrics(cc)
    n_test = sum(r.n for r in cc)
    rows = [
        ("n_train", float(n_labelled - n_test)),
        ("n_test", float(n_test)),
        ("accuracy", m["accuracy"]),
        ("macro_f1", m["macro_f1"]),
    ]
    train.unpersist()
    base.unpersist()
    return local_frame(spark, rows, "metric string, value double")


@register("q50_feature_importance")
def q50_feature_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M12/M13 — Gini-gain feature importances of a fitted RF, long format
    (`model.featureImportances`; reference `house_predict.py:396-418`),
    top 15 (O3 idiom `importance_df.head(15)`)."""
    from ..ml.models import random_forest

    df = _embedding_features(spark, sf_dir)
    model = random_forest(num_trees=20, max_depth=5).fit(df)
    imp = model.featureImportances
    rows = sorted(((int(i), float(imp[int(i)])) for i in imp.indices), key=lambda r: (-r[1], r[0]))
    return local_frame(spark, rows[:15], "feature_idx int, importance double")


# ---------------------------------------------------------------------------
# q123 — exact ROC-AUC (M11: the reference computes `roc_auc_score` for
# every model, `Sol_2.ipynb` cell a00da7c1). Same design as q41-q43: a
# deterministic scorer (vec_id % 97, integer scores with systematic ties)
# against a derived binary label, so the tie-corrected Mann-Whitney rank
# arithmetic — integers until the one final division — is verified
# bit-for-bit in DuckDB. The scalable model path (threshold-binned
# BinaryClassificationEvaluator) is pytest-pinned against this exact form
# in tests/test_ml.py.
# ---------------------------------------------------------------------------

_Q123_ORACLE = """
WITH b AS (
  SELECT CAST(label >= 5 AS INT) AS y, vec_id % 97 AS s FROM embeddings
), g AS (
  SELECT s, COUNT(*) AS cnt, SUM(y) AS pos FROM b GROUP BY s
), r AS (
  SELECT pos, cnt, SUM(cnt) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) - cnt AS cum_before
  FROM g
), t AS (
  SELECT CAST(SUM(pos * (2 * cum_before + cnt + 1)) AS BIGINT) AS s2,
         CAST(SUM(pos) AS BIGINT) AS npos,
         CAST(SUM(cnt) - SUM(pos) AS BIGINT) AS nneg
  FROM r
)
SELECT CAST(s2 - npos * (npos + 1) AS DOUBLE) / (2.0 * npos * nneg) AS auc,
       npos, nneg
FROM t
"""


@register("q123_roc_auc", oracle=_Q123_ORACLE)
def q123_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.evaluation import roc_auc_exact

    emb = load_table(spark, sf_dir, "embeddings")
    scored = emb.select(
        (F.col("label") >= 5).cast("int").alias("y"),
        (F.col("vec_id") % 97).alias("score"),
    )
    return roc_auc_exact(scored, label_col="y", score_col="score")


# ---------------------------------------------------------------------------
# q124 — L1-based feature selection (M7: `SelectFromModel(lr_l1)`,
# `Sol_2.ipynb:505-527`) as a real operator: fit L1 logistic regression
# over the first 8 embedding dimensions plus two deliberately useless
# features (a constant and pure per-row hash noise), keep features with
# |coef| above sklearn's 1e-5 SelectFromModel default. Rows-only by the
# driver contract (an iterative OWL-QN fit is not SQL-expressible);
# pytest pins that informative dims survive and the noise/constant are
# dropped at sufficient regularization.
# ---------------------------------------------------------------------------


@register("q124_l1_feature_selection")
def q124_l1_feature_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.models import l1_feature_selection

    emb = load_table(spark, sf_dir, "embeddings")
    feat_cols = [f"x{i}" for i in range(8)] + ["const_one", "hash_noise"]
    df = emb.select(
        (F.col("label") >= 5).cast("double").alias("label"),
        *[F.col("embedding")[i].cast("double").alias(f"x{i}") for i in range(8)],
        F.lit(1.0).alias("const_one"),
        (F.xxhash64("vec_id") % 1000).cast("double").alias("hash_noise"),
    )
    _, importance, _ = l1_feature_selection(df, feat_cols, reg_param=0.02)
    return importance


# ---------------------------------------------------------------------------
# q143 — calibration (reliability) bins for a probabilistic scorer: the
# companion diagnostic to q123's ROC-AUC (discrimination says nothing
# about whether predicted probabilities are honest). Same deterministic
# scorer as q123 (vec_id % 97, normalized to p = s/96) against the
# label >= 5 target, 10 equal-width probability bins; each bin reports
# count, positives, mean predicted probability, observed positive rate,
# and the per-bin |gap|. Every value is integer until one or two
# fixed-order double ops, so the bins hash-match DuckDB exactly. The
# cross-bin ECE is deliberately NOT emitted: a 10-term double sum is
# summation-order-dependent across engines — callers fold the per-bin
# rows (documented parity rule, NOTES.md).
# Scale: one hash aggregate on the bin id (10 groups) — map-side combine
# collapses everything before the shuffle.
# ---------------------------------------------------------------------------

_Q143_ORACLE = """
WITH b AS (
  SELECT CAST(label >= 5 AS INT) AS y, vec_id % 97 AS s FROM embeddings
)
SELECT s // 10 AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(y) AS BIGINT) AS npos,
       CAST(SUM(s) AS BIGINT) / (96.0 * COUNT(*)) AS mean_pred,
       CAST(SUM(y) AS BIGINT) / (1.0 * COUNT(*)) AS frac_pos,
       abs(CAST(SUM(s) AS BIGINT) / (96.0 * COUNT(*))
           - CAST(SUM(y) AS BIGINT) / (1.0 * COUNT(*))) AS gap
FROM b
GROUP BY bin
ORDER BY bin
"""


@register("q143_calibration_bins", oracle=_Q143_ORACLE)
def q143_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    b = emb.select(
        (F.col("label") >= 5).cast("int").alias("y"),
        (F.col("vec_id") % 97).alias("s"),
    )
    g = b.groupBy(F.floor(F.col("s") / 10).alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").cast("bigint").alias("npos"),
        F.sum("s").cast("bigint").alias("sum_s"),
    )
    mean_pred = F.col("sum_s") / (F.lit(96.0) * F.col("n"))
    frac_pos = F.col("npos") / (F.lit(1.0) * F.col("n"))
    return (
        g.select(
            "bin",
            "n",
            "npos",
            mean_pred.alias("mean_pred"),
            frac_pos.alias("frac_pos"),
            F.abs(mean_pred - frac_pos).alias("gap"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# q224 — per-segment calibration (q143's reliability bins broken out by
# segment, as q160 breaks out PSI): a scorer can be calibrated OVERALL yet
# badly calibrated on a subpopulation — the per-segment reliability table is the
# diagnostic a deployed-model owner reads before trusting probabilities in
# any one market segment. Same deterministic-scorer convention as
# q123/q143 (c_custkey % 97, normalized to p = s/96) against a REAL
# outcome (c_acctbal > 0), broken out by the REAL c_mktsegment dimension:
# per (segment, bin) the q143 columns, plus the segment's worst |gap| and
# a flagged boolean (max gap > 0.1) — the per-segment ECE is deliberately
# NOT emitted (cross-bin double sum, summation-order-dependent across
# engines — q143's documented parity rule; MAX is order-independent).
# Scale: one map-side-combinable hash aggregate keyed (segment, bin),
# then a window over the |segments| x 10 aggregated frame only.
# ---------------------------------------------------------------------------

_Q224_ORACLE = """
WITH b AS (
  SELECT c_mktsegment AS segment,
         CAST(c_acctbal > 0 AS INT) AS y,
         c_custkey % 97 AS s
  FROM customer
), a AS (
  SELECT segment, s // 10 AS bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS npos,
         CAST(SUM(s) AS BIGINT) AS sum_s
  FROM b GROUP BY segment, bin
), g AS (
  SELECT segment, bin, n, npos,
         sum_s / (96.0 * n) AS mean_pred,
         npos / (1.0 * n) AS frac_pos,
         abs(sum_s / (96.0 * n) - npos / (1.0 * n)) AS gap
  FROM a
)
SELECT segment, bin, n, npos, mean_pred, frac_pos, gap,
       MAX(gap) OVER (PARTITION BY segment) AS seg_max_gap,
       MAX(gap) OVER (PARTITION BY segment) > 0.1 AS flagged
FROM g
ORDER BY segment, bin
"""


@register("q224_segment_calibration", oracle=_Q224_ORACLE)
def q224_segment_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cust = load_table(spark, sf_dir, "customer")
    b = cust.select(
        F.col("c_mktsegment").alias("segment"),
        (F.col("c_acctbal") > 0).cast("int").alias("y"),
        (F.col("c_custkey") % 97).alias("s"),
    )
    g = b.groupBy("segment", F.floor(F.col("s") / 10).alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").cast("bigint").alias("npos"),
        F.sum("s").cast("bigint").alias("sum_s"),
    )
    mean_pred = F.col("sum_s") / (F.lit(96.0) * F.col("n"))
    frac_pos = F.col("npos") / (F.lit(1.0) * F.col("n"))
    w = Window.partitionBy("segment")
    scored = g.select(
        "segment",
        "bin",
        "n",
        "npos",
        mean_pred.alias("mean_pred"),
        frac_pos.alias("frac_pos"),
        F.abs(mean_pred - frac_pos).alias("gap"),
    )
    return scored.select(
        "*",
        F.max("gap").over(w).alias("seg_max_gap"),
        (F.max("gap").over(w) > F.lit(0.1)).alias("flagged"),
    ).orderBy("segment", "bin")
