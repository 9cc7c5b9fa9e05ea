"""Estimator wrappers (SURVEY.md §2.8 M1-M6).

Each maps a reference model to its `pyspark.ml` primitive with the
reference's hyperparameter vocabulary and fixed seeds (`random_state=42`
everywhere — `house_predict.py:563`). Spark's tree learners use distributed
histogram-based split search (PLANET-style), which strictly dominates the
reference's sorted-uniques enumeration at scale (SURVEY §4 table).
"""

from __future__ import annotations

from pyspark.ml.classification import (
    DecisionTreeClassifier,
    GBTClassifier,
    LogisticRegression,
    RandomForestClassifier,
)

from ..operators.sizing import one_partition_if_small
from ..sources.io import local_frame

SEED = 42


def decision_tree(
    max_depth: int = 8,
    min_instances_per_node: int = 25,
    impurity: str = "entropy",
    max_bins: int = 32,
    features_col: str = "features",
    label_col: str = "label",
) -> DecisionTreeClassifier:
    """M1 — the reference's `OptimizedDecisionTree(max_depth=8,
    min_samples_leaf=25, criterion='entropy')` (`house_predict.py:212-418`).
    `minInfoGain=0.0` reproduces its `gain > 0` stop."""
    return DecisionTreeClassifier(
        maxDepth=max_depth,
        minInstancesPerNode=min_instances_per_node,
        impurity=impurity,
        maxBins=max_bins,
        minInfoGain=0.0,
        seed=SEED,
        featuresCol=features_col,
        labelCol=label_col,
    )


def random_forest(
    num_trees: int = 100,
    max_depth: int = 8,
    feature_subset: str = "sqrt",
    features_col: str = "features",
    label_col: str = "label",
    weight_col: str | None = None,
) -> RandomForestClassifier:
    """M3 — sklearn `RandomForestClassifier(class_weight='balanced')`
    (`Sol_2.ipynb` cell 60d9ba84): bootstrap + sqrt feature bagging are
    native; class weights arrive via `weightCol` (see balanced_weights)."""
    rf = RandomForestClassifier(
        numTrees=num_trees,
        maxDepth=max_depth,
        featureSubsetStrategy=feature_subset,
        seed=SEED,
        featuresCol=features_col,
        labelCol=label_col,
    )
    if weight_col:
        rf = rf.setWeightCol(weight_col)
    return rf


def gradient_boosting(
    max_iter: int = 50,
    step_size: float = 0.1,
    subsampling_rate: float = 0.8,
    max_depth: int = 5,
    features_col: str = "features",
    label_col: str = "label",
) -> GBTClassifier:
    """M4 — sklearn `GradientBoostingClassifier(lr, subsample, depth)`
    (`Sol_2.ipynb` cell 2df63020)."""
    return GBTClassifier(
        maxIter=max_iter,
        stepSize=step_size,
        subsamplingRate=subsampling_rate,
        maxDepth=max_depth,
        seed=SEED,
        featuresCol=features_col,
        labelCol=label_col,
    )


def logistic_l1(
    reg_param: float = 0.01,
    features_col: str = "features",
    label_col: str = "label",
    max_iter: int = 30,
    tol: float = 1e-4,
) -> LogisticRegression:
    """M5/M6 — L1 logistic regression (`Sol_2.ipynb` cell 1bc55fc1:
    `penalty='l1'`): elasticNetParam=1.0 under OWL-QN. Same objective as the
    checkpoint's from-scratch GD (SURVEY M6) — GD-parity not required.

    max_iter=30/tol=1e-4 (not Spark's 100/1e-6): on standardized features
    OWL-QN's objective is flat well before 30 rounds — on the q49 workload
    accuracy/macro-F1 agree to 4 decimals with a 100-iteration run — and
    every iteration costs at least one loss evaluation, each a Spark job
    of its own (q49's fit runs about 70 over a 12k-row train set). Warm,
    on a 4-core box, one evaluation costs 0.14-0.19 CPU-s over a
    two-partition input (a two-stage treeAggregate with a shuffle) and
    0.06-0.09 CPU-s over ``operators.sizing.one_partition_if_small`` of
    it (one single-task stage), so the default cap would cost about
    three times the CPU for no metric gain."""
    return LogisticRegression(
        elasticNetParam=1.0,
        regParam=reg_param,
        maxIter=max_iter,
        tol=tol,
        featuresCol=features_col,
        labelCol=label_col,
    )


def balanced_weights(df, label_col: str = "label", weight_col: str = "weight"):
    """`class_weight='balanced'`: w(c) = n / (k * n_c), joined broadcast —
    no driver loop over rows."""
    from pyspark.sql import functions as F

    counts = df.groupBy(label_col).agg(F.count(F.lit(1)).alias("n_c"))
    n = df.count()
    k = counts.count()
    w = counts.select(
        F.col(label_col).alias("__lbl"), (F.lit(float(n)) / (F.lit(float(k)) * F.col("n_c"))).alias(weight_col)
    )
    return df.join(F.broadcast(w), df[label_col] == F.col("__lbl")).drop("__lbl")


def l1_feature_selection(
    df,
    feature_cols: list[str],
    label_col: str = "label",
    reg_param: float = 0.01,
    threshold: float = 1e-5,
):
    """M7 — `SelectFromModel(LogisticRegression(penalty='l1'))`
    (`Sol_2.ipynb:505-527`): fit an L1-regularized logistic regression
    over the candidate features, keep those whose coefficient magnitude
    exceeds ``threshold`` (1e-5, sklearn's SelectFromModel default for L1
    penalties), and rebuild the assembler on the surviving subset.

    Multiclass fits reduce the coefficient matrix by per-feature max |w|
    (sklearn reduces with the L1 norm across classes; max preserves the
    same nonzero support, which is what selection consumes). Returns
    ``(selected_cols, importance_df, assembler)`` where importance_df is
    a small local frame (feature, abs_coef, selected) for reporting, one
    row per feature in feature-name order, and
    assembler is a VectorAssembler over the selected columns ready to
    feed a downstream estimator.
    """
    import numpy as np

    from pyspark.ml.feature import VectorAssembler

    asm = VectorAssembler(inputCols=list(feature_cols), outputCol="__l1_features")
    lr = logistic_l1(
        reg_param=reg_param, features_col="__l1_features", label_col=label_col
    )
    model = lr.fit(one_partition_if_small(asm.transform(df)))
    if model.numClasses <= 2:
        coefs = np.abs(model.coefficients.toArray())
    else:
        coefs = np.abs(model.coefficientMatrix.toArray()).max(axis=0)
    selected = [c for c, w in zip(feature_cols, coefs) if float(w) > threshold]
    importance = local_frame(
        df.sparkSession,
        sorted((c, float(w), float(w) > threshold) for c, w in zip(feature_cols, coefs)),
        "feature string, abs_coef double, selected boolean",
    )
    return selected, importance, VectorAssembler(inputCols=selected, outputCol="features")
