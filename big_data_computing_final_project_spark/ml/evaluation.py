"""Evaluation metrics as distributed aggregates (SURVEY.md §2.8 M11).

The reference's contract metric is **macro**-F1 (`task_2.md:24`,
`house_predict.py:608`); Spark's ``MulticlassClassificationEvaluator``
``"f1"`` is weighted-by-support, so macro-F1 is computed here from the
confusion counts — a tiny ``groupBy(label, prediction).count()`` that
reduces the whole prediction table to |classes|² rows before any
driver-side math. This is the SURVEY §4 "custom work item 1".
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.io import local_frame


def confusion_counts(pred_df: DataFrame, label_col: str = "label", pred_col: str = "prediction") -> DataFrame:
    """(label, prediction, n) — the sufficient statistic for every metric
    below. One shuffle, |classes|² result rows regardless of data size."""
    return (
        pred_df.groupBy(
            F.col(label_col).cast("bigint").alias("label"),
            F.col(pred_col).cast("bigint").alias("prediction"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def classification_report(pred_df: DataFrame, label_col: str = "label", pred_col: str = "prediction") -> DataFrame:
    """Per-class precision/recall/F1 + support in one pass over the
    confusion counts (the reference's `classification_report`,
    `Sol_2.ipynb` cell a00da7c1).

    All arithmetic happens on the |classes|²-row frame — negligible —
    but stays a DataFrame so the result is composable/oracle-checkable.
    """
    cc = confusion_counts(pred_df, label_col, pred_col)
    per_label = cc.groupBy("label").agg(F.sum("n").alias("support"))
    per_pred = cc.groupBy(F.col("prediction").alias("label")).agg(F.sum("n").alias("predicted"))
    diag = cc.filter(F.col("label") == F.col("prediction")).select(
        "label", F.col("n").alias("tp")
    )
    rep = (
        per_label.join(per_pred, "label", "full_outer")
        .join(diag, "label", "left")
        .na.fill(0, ["support", "predicted", "tp"])
    )
    precision = F.when(F.col("predicted") > 0, F.col("tp") / F.col("predicted")).otherwise(F.lit(0.0))
    recall = F.when(F.col("support") > 0, F.col("tp") / F.col("support")).otherwise(F.lit(0.0))
    rep = rep.select(
        "label",
        "support",
        precision.alias("precision"),
        recall.alias("recall"),
        F.col("tp").alias("tp"),
    ).withColumn(
        "f1",
        F.when(
            (F.col("precision") + F.col("recall")) > 0,
            F.lit(2.0) * F.col("precision") * F.col("recall") / (F.col("precision") + F.col("recall")),
        ).otherwise(F.lit(0.0)),
    )
    return rep.orderBy("label")


def roc_auc_exact(
    pred_df: DataFrame,
    label_col: str = "label",
    score_col: str = "score",
    bucket=None,
) -> DataFrame:
    """Exact ROC-AUC as the tie-corrected Mann-Whitney rank statistic
    (M11 — the reference computes ``roc_auc_score`` for every model,
    `Sol_2.ipynb` cell a00da7c1):

        AUC = (Σ_pos avg_rank − n⁺(n⁺+1)/2) / (n⁺ n⁻)

    Distributed shape: one hash aggregate groups N rows down to the
    distinct-score histogram (cnt, pos per score), then the cumulative
    ranks come from the BUCKETED prefix scan (operators/prefix.py — the
    same split q152's CDF and q203's percentiles ride), so no stage
    serializes all distinct scores into one task. ``bucket`` must be
    monotone non-decreasing in the score with a bounded domain; the
    default ``floor(score/8)`` suits integer scorers — with any bucket
    the scan is never worse than the single-partition window it replaced
    (distinct buckets ≤ distinct scores). All arithmetic stays on
    INTEGERS (2·avg_rank = 2·cum_before + cnt + 1) until the single final
    division, so any engine computes the identical double.

    Scale note: exact AUC is meant for quantized/bucketed scorers
    (integer scores, calibrated probability bins — bounded distinct
    scores). For continuous model outputs at 100 TB use
    ``roc_auc_evaluator`` (Spark's binned BinaryClassificationEvaluator)
    instead.
    """
    from ..operators.prefix import prefix_agg

    g = pred_df.groupBy(F.col(score_col).alias("s")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col(label_col).cast("bigint")).alias("pos"),
    )
    b = bucket if bucket is not None else F.floor(F.col("s") / 8)
    # strict prefix (cnt of strictly-lower scores); scores are unique after
    # the groupBy, the strict-mode precondition. First row: empty frame ->
    # NULL -> 0 strictly-lower rows.
    r = prefix_agg(g, ["s"], [("cnt", "cum_before", "sum")], bucket=b, strict=True)
    r = r.withColumn("cum_before", F.coalesce(F.col("cum_before"), F.lit(0)))
    t = r.agg(
        F.sum(F.col("pos") * (2 * F.col("cum_before") + F.col("cnt") + 1)).alias("s2"),
        F.sum("pos").alias("npos"),
        (F.sum("cnt") - F.sum("pos")).alias("nneg"),
    )
    return t.select(
        (
            (F.col("s2") - F.col("npos") * (F.col("npos") + 1)).cast("double")
            / (F.lit(2.0) * F.col("npos") * F.col("nneg"))
        ).alias("auc"),
        F.col("npos").cast("bigint").alias("npos"),
        F.col("nneg").cast("bigint").alias("nneg"),
    )


def roc_auc_evaluator(label_col: str = "label", raw_col: str = "rawPrediction"):
    """M11 model-path ROC-AUC: Spark's BinaryClassificationEvaluator
    (areaUnderROC) over a fitted model's rawPrediction — the scalable
    (threshold-binned) twin of ``roc_auc_exact``."""
    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    return BinaryClassificationEvaluator(
        metricName="areaUnderROC", labelCol=label_col, rawPredictionCol=raw_col
    )


def macro_metrics(rows) -> dict[str, float | None]:
    """Accuracy and macro precision/recall/F1 from collected
    ``confusion_counts`` rows ``(label, prediction, n)``: the reference's
    headline metrics (`house_predict.py:606-612`) as plain Python over the
    |classes|² counts.

    Per class: the formulas of ``classification_report``, in its order of
    operations. The macro averages run over the union of observed label
    and prediction classes (sklearn's macro: zero-F1 classes included) and
    sum them in ascending class order, so the result does not depend on
    how the counts were partitioned; for two classes every double equals
    Spark's ``avg`` over the report. A null label or prediction counts as
    one extra class that is never right, as it does in the report's
    joins. Empty input gives ``None`` for every metric."""
    support: dict = {}
    predicted: dict = {}
    tp: dict = {}
    total = 0
    null_label = null_pred = False
    for label, pred, n in rows:
        total += n
        if label is None:
            null_label = True
        else:
            support[label] = support.get(label, 0) + n
        if pred is None:
            null_pred = True
        else:
            predicted[pred] = predicted.get(pred, 0) + n
        if label is not None and label == pred:
            tp[label] = tp.get(label, 0) + n
    if not total:
        return dict.fromkeys(("accuracy", "macro_precision", "macro_recall", "macro_f1"))
    classes = sorted(support.keys() | predicted.keys())
    k = len(classes) + null_label + null_pred
    prec_sum = rec_sum = f1_sum = 0.0
    for c in classes:
        t, prd, sup = tp.get(c, 0), predicted.get(c, 0), support.get(c, 0)
        prec = t / prd if prd > 0 else 0.0
        rec = t / sup if sup > 0 else 0.0
        prec_sum += prec
        rec_sum += rec
        f1_sum += 2.0 * prec * rec / (prec + rec) if (prec + rec) > 0 else 0.0
    return {
        "accuracy": sum(tp.values()) / total,
        "macro_precision": prec_sum / k,
        "macro_recall": rec_sum / k,
        "macro_f1": f1_sum / k,
    }


def summary_metrics(pred_df: DataFrame, label_col: str = "label", pred_col: str = "prediction") -> DataFrame:
    """One row: accuracy, macro precision/recall/F1 (``macro_metrics``).

    Eager: collects the confusion counts (one SQL execution) and does the
    arithmetic in Python, summing over classes in ascending order; the
    result is a one-row local frame."""
    m = macro_metrics(confusion_counts(pred_df, label_col, pred_col).collect())
    return local_frame(
        pred_df.sparkSession,
        [tuple(m.values())],
        "accuracy double, macro_precision double, macro_recall double, macro_f1 double",
    )


class MacroF1Evaluator:
    """Macro-F1 as a CrossValidator-compatible evaluator (M8/M10).

    The reference tunes with ``scoring='f1_macro'`` (`Sol_2.ipynb:595-601`,
    contract metric `task_2.md:24`); Spark's built-in "f1" is
    weighted-by-support, and on a heavily skewed label the two can rank
    CV candidates differently. This wraps ``macro_metrics``' macro-F1
    (sklearn semantics: unweighted mean over the union of observed label
    and prediction classes, zero-F1 classes included) behind the three
    methods CrossValidator actually calls: ``evaluate``,
    ``isLargerBetter``, and Params-style ``copy``.
    """

    def __init__(self, labelCol: str = "label", predictionCol: str = "prediction"):
        import uuid

        self.labelCol = labelCol
        self.predictionCol = predictionCol
        self.uid = f"MacroF1Evaluator_{uuid.uuid4().hex[:12]}"

    def evaluate(self, dataset: DataFrame, params=None) -> float:
        cc = confusion_counts(dataset, self.labelCol, self.predictionCol).collect()
        return float(macro_metrics(cc)["macro_f1"])

    def isLargerBetter(self) -> bool:
        return True

    def copy(self, extra=None) -> "MacroF1Evaluator":
        return MacroF1Evaluator(self.labelCol, self.predictionCol)
