"""Evaluation (M9, M10, A7, A8): ``evaluate`` scores one fit once.

* the MulticlassMetrics block (``RF/utils.scala:49-57``) re-expressed
  as a single DataFrame aggregation of contingency counts (pure SQL,
  no RDD detour);
* BinaryClassificationEvaluator(areaUnderROC) (``RF/utils.scala:67-74``).
"""

from __future__ import annotations

from pyspark.ml.evaluation import BinaryClassificationEvaluator
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def evaluate(
    scored: DataFrame, label_col: str = "label", pred_col: str = "prediction"
) -> dict[str, float]:
    """Confusion counts, their ratios and the AUC of ``scored``;
    ``n`` is the number of scored rows."""
    pred = F.col(pred_col).cast("int")
    lab = F.col(label_col).cast("int")
    row = scored.agg(
        F.sum(((pred == 1) & (lab == 1)).cast("long")).alias("tp"),
        F.sum(((pred == 1) & (lab == 0)).cast("long")).alias("fp"),
        F.sum(((pred == 0) & (lab == 0)).cast("long")).alias("tn"),
        F.sum(((pred == 0) & (lab == 1)).cast("long")).alias("fn"),
    ).collect()[0]
    tp, fp, tn, fn = row.tp, row.fp, row.tn, row.fn
    n = tp + fp + tn + fn
    auc = BinaryClassificationEvaluator(
        labelCol=label_col,
        rawPredictionCol="rawPrediction",
        metricName="areaUnderROC",
    ).evaluate(scored)
    return {
        "tp": tp, "fp": fp, "tn": tn, "fn": fn, "n": n,
        "auc": auc,
        "accuracy": (tp + tn) / n if n else 0.0,
        "precision": tp / (tp + fp) if tp + fp else 0.0,
        "recall": tp / (tp + fn) if tp + fn else 0.0,
        "f1": 2 * tp / (2 * tp + fp + fn) if 2 * tp + fp + fn else 0.0,
    }
