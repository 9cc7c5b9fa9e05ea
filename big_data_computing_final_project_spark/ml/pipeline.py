"""Preprocessing pipeline builders (SURVEY.md §2.4 B1-B4, §7 step 3).

The reference's `HousePurchasePreprocessor` (`Sol_2.ipynb` cell 98d29a2c)
holds fitted encoder/binner/scaler state and replays it on test data
(`house_predict.py:131-144`). Here that state is structural: everything is a
`pyspark.ml.Pipeline`, so fit-on-train / transform-on-test is the
`Estimator`/`Transformer` split and persistence is `PipelineModel.save`.

Binning-strategy selection (`data_analysis.ipynb:658-748` cell f448a77e):
bins = min(10, max(5, int(sqrt(n_unique)))); quantile binning when
|skew| > 2 else equal-width — recomputed from Spark aggregates.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.ml import Pipeline
from pyspark.ml.feature import (
    Bucketizer,
    QuantileDiscretizer,
    StandardScaler,
    StringIndexer,
    VectorAssembler,
)
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.stats import kurtosis_g2, power_sums, skewness_g1


@dataclass
class BinningDecision:
    """Outcome of the reference's strategy chooser for one column."""

    column: str
    n_bins: int
    strategy: str  # "equal_width" | "quantile"
    skew: float
    n_unique: int


def choose_binning(df: DataFrame, columns: list[str], skew_threshold: float = 2.0) -> list[BinningDecision]:
    """Reference strategy chooser (`data_analysis.ipynb` cell f448a77e):
    one aggregation pass computes skew + distinct count for every column,
    then bins = min(10, max(5, int(sqrt(n_unique)))), quantile if |skew| >
    threshold. Driver-side math is O(len(columns))."""
    aggs = []
    for c in columns:
        n, s1, s2, s3, _ = power_sums(F.col(c), 4, upto=3) + [None]
        aggs += [
            skewness_g1(n, s1, s2, s3).alias(f"{c}__skew"),
            F.countDistinct(F.col(c)).alias(f"{c}__nuniq"),
        ]
    row = df.agg(*aggs).first()
    out = []
    for c in columns:
        skew = row[f"{c}__skew"]
        nuniq = row[f"{c}__nuniq"]
        n_bins = min(10, max(5, int(math.sqrt(nuniq))))
        strategy = "quantile" if skew is not None and abs(skew) > skew_threshold else "equal_width"
        out.append(BinningDecision(c, n_bins, strategy, float(skew or 0.0), int(nuniq)))
    return out


def equal_width_bucketizer(column: str, lo: float, hi: float, n_bins: int) -> Bucketizer:
    """B2 — np.linspace-style edges over the column's [lo, hi] range
    (`house_predict.py:81-83`), which the caller takes from a min/max
    aggregate it can share with its other statistics. The edge list is
    tiny driver state, exactly like the reference's fitted `bin_edges`
    dict."""
    mn, mx = float(lo), float(hi)
    width = (mx - mn) / n_bins
    splits = [-float("inf")] + [mn + i * width for i in range(1, n_bins)] + [float("inf")]
    return Bucketizer(splits=splits, inputCol=column, outputCol=f"{column}_bin", handleInvalid="keep")


def build_feature_pipeline(
    categorical: list[str],
    equal_width: list[Bucketizer],
    quantile: list[str],
    passthrough: list[str],
    n_quantile_bins: int = 8,
    standardize: bool = True,
) -> Pipeline:
    """Compose B1 (StringIndexer, handleInvalid='keep' = the reference's
    -1-for-unseen guard), B2/B3 binning, B4 StandardScaler, and the
    VectorAssembler into one Pipeline. One multi-column StringIndexer
    indexes every categorical column in a single fit."""
    stages: list = []
    feature_cols: list[str] = list(passthrough)
    if categorical:
        idx_cols = [f"{c}_idx" for c in categorical]
        stages.append(StringIndexer(inputCols=categorical, outputCols=idx_cols, handleInvalid="keep"))
        feature_cols += idx_cols
    for b in equal_width:
        stages.append(b)
        feature_cols.append(b.getOutputCol())
    for c in quantile:
        stages.append(
            QuantileDiscretizer(
                inputCol=c, outputCol=f"{c}_qbin", numBuckets=n_quantile_bins, relativeError=0.001
            )
        )
        feature_cols.append(f"{c}_qbin")
    stages.append(VectorAssembler(inputCols=feature_cols, outputCol="features_raw"))
    if standardize:
        stages.append(
            StandardScaler(inputCol="features_raw", outputCol="features", withMean=True, withStd=True)
        )
    else:
        stages.append(VectorAssembler(inputCols=["features_raw"], outputCol="features"))
    return Pipeline(stages=stages)


def stratified_split(
    df: DataFrame,
    label_col: str = "label",
    test_fraction: float = 0.2,
    seed: int = 42,
    *,
    labels=None,
) -> tuple[DataFrame, DataFrame]:
    """J3 — per-class randomSplit + union: distributionally equivalent to
    sklearn's exact stratified `train_test_split(stratify=y)`
    (`house_predict.py:589-591`); documented as such in SURVEY §4.

    ``labels`` is the set of non-null label values when the caller already
    has it (from an aggregate it runs anyway); otherwise one distinct
    collect finds it. Rows with a null label go to neither split."""
    if labels is None:
        labels = [r[0] for r in df.select(label_col).distinct().collect()]
    trains, tests = [], []
    for lv in sorted(v for v in labels if v is not None):
        part = df.filter(F.col(label_col) == lv)
        tr, te = part.randomSplit([1 - test_fraction, test_fraction], seed=seed)
        trains.append(tr)
        tests.append(te)
    train = trains[0]
    for t in trains[1:]:
        train = train.unionByName(t)
    test = tests[0]
    for t in tests[1:]:
        test = test.unionByName(t)
    return train, test
