"""Evaluators + DataFrame-native metrics (SURVEY.md §2.11 M15-M19).

Replaces the reference's RDD ``MulticlassMetrics`` path
(``higgs_ensemble_analysis.py:23-40`` — ``predictions.rdd.map(...)``
round-trips every row through Python workers) with pure DataFrame
aggregations: the confusion matrix is ONE ``groupBy(label, prediction)
.count()`` (partial+final hash agg, no Python in the row path), and
precision/recall/F1 fall out of it with a second tiny aggregation.
"""

from __future__ import annotations

from pyspark.ml.evaluation import (
    BinaryClassificationEvaluator,
    MulticlassClassificationEvaluator,
    RegressionEvaluator,
)
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from spark_ml_showcase_spark.sources.local import local_frame


def binary_auc(
    predictions: DataFrame,
    *,
    label_col: str = "label",
    raw_col: str = "prediction",
) -> float:
    """M15: areaUnderROC. NOTE the reference evaluates AUC on HARD 0/1
    predictions (higgs_ensemble_analysis.py:106 passes
    rawPredictionCol='prediction') — a quirk kept for parity; pass
    raw_col='rawPrediction' for the conventional score-based AUC."""
    return BinaryClassificationEvaluator(
        labelCol=label_col, rawPredictionCol=raw_col, metricName="areaUnderROC"
    ).evaluate(predictions)


def accuracy(predictions: DataFrame, *, label_col: str = "label") -> float:
    """M16 (higgs_ensemble_analysis.py:107)."""
    return MulticlassClassificationEvaluator(
        labelCol=label_col, predictionCol="prediction", metricName="accuracy"
    ).evaluate(predictions)


def regression_metrics(
    predictions: DataFrame, *, label_col: str, metrics: tuple[str, ...] = ("rmse", "mae", "mse")
) -> dict[str, float]:
    """M17: rmse/mae/mse via setMetricName
    (als_clustering_analysis.py:57-62, Claims_Prediction.py:97)."""
    ev = RegressionEvaluator(labelCol=label_col, predictionCol="prediction")
    return {m: ev.setMetricName(m).evaluate(predictions) for m in metrics}


def confusion_matrix(
    predictions: DataFrame,
    *,
    label_col: str = "label",
    prediction_col: str = "prediction",
) -> DataFrame:
    """M18: DataFrame-native confusion matrix — (label, prediction, n)
    rows, deterministic order. One hash-agg shuffle over ≤|classes|² keys;
    the RDD MulticlassMetrics equivalent ships every row to Python."""
    return (
        predictions.groupBy(
            F.col(label_col).alias("label"), F.col(prediction_col).alias("prediction")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("label", "prediction")
    )


def precision_recall_f1(
    predictions: DataFrame,
    positive: float = 1.0,
    *,
    label_col: str = "label",
    prediction_col: str = "prediction",
) -> DataFrame:
    """M18: precision/recall/F1 for the positive class
    (higgs_ensemble_analysis.py:33-36) as a one-row DataFrame computed
    from conditional-count aggregates."""
    lbl, prd = F.col(label_col), F.col(prediction_col)
    agg = predictions.agg(
        F.sum(F.when((lbl == positive) & (prd == positive), 1).otherwise(0)).alias("tp"),
        F.sum(F.when((lbl != positive) & (prd == positive), 1).otherwise(0)).alias("fp"),
        F.sum(F.when((lbl == positive) & (prd != positive), 1).otherwise(0)).alias("fn"),
    )
    return agg.select(
        (F.col("tp") / (F.col("tp") + F.col("fp"))).alias("precision"),
        (F.col("tp") / (F.col("tp") + F.col("fn"))).alias("recall"),
        (
            2 * F.col("tp") / (2 * F.col("tp") + F.col("fp") + F.col("fn"))
        ).alias("f1"),
    )


def feature_importances_df(
    spark: SparkSession, model, feature_names: list[str]
) -> DataFrame:
    """M19: featureImportances / coefficients as a DataFrame
    (higgs_ensemble_analysis.py:46-50, Claims_Prediction.py:102-103).
    Driver-side by nature — the vector lives on the fitted model."""
    if hasattr(model, "featureImportances"):
        vec = model.featureImportances.toArray()
    else:
        vec = model.coefficients.toArray()
    rows = [(name, float(v)) for name, v in zip(feature_names, vec)]
    return local_frame(spark, rows, "feature string, importance double")
