"""MLlib-surface queries (SURVEY.md §2.11 M1-M19) — rows-only checks.

Seeded iterative fits are not SQL-expressible, so none carries a DuckDB
oracle; every query returns a FIXED-SHAPE summary DataFrame (metrics
rows, confusion cells, importances) whose row count is deterministic
under the fixed seeds. Inputs are the FIXTURES.md §A synthetic stand-ins
(the reference's real data is private), sized for bounded runtime —
``sf_dir`` is accepted per the driver contract but unused.

The REFERENCE-parity configurations (27-point grids, ALS rank=14/
maxIter=17, KMeans k=25) live in ``ml/ensembles.py`` / ``ml/recommend.py``;
queries use reduced grids/iters where the full ones would push a smoke
check into minutes, and say so inline.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_ml_showcase_spark.ml import (
    ensembles,
    evaluate,
    features,
    fixtures,
    recommend,
    regressions,
)
from spark_ml_showcase_spark.operators import splits
from spark_ml_showcase_spark.plans import query
from spark_ml_showcase_spark.sources.local import local_frame


@contextmanager
def _cached(*frames: DataFrame) -> Iterator[tuple[DataFrame, ...]]:
    """``frames`` cached for the driver-side fits and evals of one
    query, unpersisted when it is done: no cache outlives its query."""
    cached = tuple(f.cache() for f in frames)
    try:
        yield cached
    finally:
        for f in cached:
            f.unpersist()


def _higgs_split(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    data = fixtures.higgs(spark, n=1500)
    train, test = splits.random_split(data, [0.7, 0.3], seed=40)
    return train, test


# M1+M5+M6+M8: assembler→RF pipeline under a 3-fold CV grid
# (higgs_ensemble_analysis.py:73-90), reduced 4-point grid (reference's
# 27-point grid: ensembles.reference_rf_grid). One metrics row.
@query("ml_rf_cv_higgs")
def ml_rf_cv_higgs(spark: SparkSession, sf_dir: str) -> DataFrame:
    train, test = _higgs_split(spark)
    model = ensembles.rf()
    pipe = features.pipeline([features.assembler(fixtures.HIGGS_FEATURES)], model)
    cv = ensembles.cross_validate(
        pipe, ensembles.small_rf_grid(model), num_folds=3, parallelism=8
    )
    with _cached(train) as (train,):
        fitted = cv.fit(train)
    best = fitted.bestModel.stages[-1]
    pred = fitted.transform(test).select("prediction", "label")
    return local_frame(
        spark,
        [
            (
                "random_forest_cv",
                round(evaluate.accuracy(pred), 4),
                round(evaluate.binary_auc(pred), 4),
                int(best.getNumTrees),
                float(best.getSubsamplingRate()),
            )
        ],
        "model string, accuracy double, auc double, best_num_trees int, best_subsampling double",
    )


# M7: GBT classifier fit + AUC/accuracy (higgs_ensemble_analysis.py:117-146),
# single fit at the reference grid's smallest point (maxIter=8, maxDepth=5).
@query("ml_gbt_higgs")
def ml_gbt_higgs(spark: SparkSession, sf_dir: str) -> DataFrame:
    train, test = _higgs_split(spark)
    model = ensembles.gbt(maxIter=8, maxDepth=5, subsamplingRate=0.8)
    pipe = features.pipeline([features.assembler(fixtures.HIGGS_FEATURES)], model)
    with _cached(train) as (train,):
        fitted = pipe.fit(train)
    pred = fitted.transform(test).select("prediction", "label")
    prf = evaluate.precision_recall_f1(pred).first()
    return local_frame(
        spark,
        [
            (
                "gbt",
                round(evaluate.accuracy(pred), 4),
                round(evaluate.binary_auc(pred), 4),
                round(prf.precision, 4),
                round(prf.recall, 4),
                round(prf.f1, 4),
            )
        ],
        "model string, accuracy double, auc double, precision double, recall double, f1 double",
    )


# M18: DataFrame-native confusion matrix — replaces the RDD
# MulticlassMetrics path (higgs_ensemble_analysis.py:23-40). 4 rows (2×2).
@query("ml_confusion_matrix_rf")
def ml_confusion_matrix_rf(spark: SparkSession, sf_dir: str) -> DataFrame:
    train, test = _higgs_split(spark)
    model = ensembles.rf(numTrees=10)
    pipe = features.pipeline([features.assembler(fixtures.HIGGS_FEATURES)], model)
    with _cached(train) as (train,):
        fitted = pipe.fit(train)
    return evaluate.confusion_matrix(fitted.transform(test))


# M19: featureImportances as a DataFrame (higgs_ensemble_analysis.py:46-50).
# 28 rows, one per higgs feature.
@query("ml_feature_importances_rf")
def ml_feature_importances_rf(spark: SparkSession, sf_dir: str) -> DataFrame:
    train, _ = _higgs_split(spark)
    model = ensembles.rf(numTrees=10)
    pipe = features.pipeline([features.assembler(fixtures.HIGGS_FEATURES)], model)
    with _cached(train) as (train,):
        fitted = pipe.fit(train).stages[-1]
    return evaluate.feature_importances_df(
        spark, fitted, list(fixtures.HIGGS_FEATURES)
    )


def _claims_split(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    data = regressions.derive_targets(fixtures.claims(spark, n=3000))
    # single-pass stratified split on the PP_ClaimNb strata — replaces the
    # reference's O(strata)-jobs loop (Claims_Prediction.py:43-54)
    return splits.stratified_split(
        data, "PP_ClaimNb", regressions.NUMERIC_COLS, 0.7, seed=14
    )


# M2-M5 + M9-M11 + M16/M17: the full claims flow — indexer→OHE→scaler→
# assembler pipeline feeding all five reference models
# (Claims_Prediction.py:80-118,141-145). 5 rows (model, metric,
# train/test scores).
@query("ml_claims_models")
def ml_claims_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    stages = features.indexed_ohe_scaled_stages(
        regressions.CATEGORICAL_COLS, regressions.NUMERIC_COLS
    )
    rows = []
    with _cached(*_claims_split(spark)) as (train, test):
        for mtype, (label, metric) in regressions.MODEL_LABELS.items():
            pipe = features.pipeline(stages, regressions.model(mtype, 0.001))
            fitted = pipe.fit(train)
            if metric == "rmse":
                score_tr = evaluate.regression_metrics(
                    fitted.transform(train), label_col=label, metrics=("rmse",)
                )["rmse"]
                score_te = evaluate.regression_metrics(
                    fitted.transform(test), label_col=label, metrics=("rmse",)
                )["rmse"]
            else:
                score_tr = evaluate.accuracy(fitted.transform(train), label_col=label)
                score_te = evaluate.accuracy(fitted.transform(test), label_col=label)
            rows.append((mtype, metric, round(score_tr, 4), round(score_te, 4)))
    return local_frame(
        spark, rows, "model string, metric string, train_score double, test_score double"
    )


# M9 + the regParam validation sweep (Claims_Prediction.py:131-151) for
# the Poisson GLM. 5 rows, one per regParam option.
@query("ml_claims_regparam_curve")
def ml_claims_regparam_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    stages = features.indexed_ohe_scaled_stages(
        regressions.CATEGORICAL_COLS, regressions.NUMERIC_COLS
    )
    rows = []
    with _cached(*_claims_split(spark)) as (train, test):
        for reg in regressions.REG_PARAM_OPTIONS:
            pipe = features.pipeline(stages, regressions.model("glm_poisson", reg))
            fitted = pipe.fit(train)
            rmse_tr = evaluate.regression_metrics(
                fitted.transform(train), label_col="PP_ClaimNb", metrics=("rmse",)
            )["rmse"]
            rmse_te = evaluate.regression_metrics(
                fitted.transform(test), label_col="PP_ClaimNb", metrics=("rmse",)
            )["rmse"]
            rows.append((float(reg), round(rmse_tr, 4), round(rmse_te, 4)))
    return local_frame(
        spark, rows, "reg_param double, train_rmse double, test_rmse double"
    )


def _als_split(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    data = fixtures.ratings(spark, n_ratings=4000)
    return splits.temporal_split(data, "timestamp", "userId", 0.8, exact=True)


# M12 + M17: ALS fit on a temporal 80% split, RMSE/MAE/MSE on the held-out
# tail (als_clustering_analysis.py:44-62). Custom-variant shape with
# reduced rank/iters (reference: rank=14, maxIter=17 — recommend.als
# (custom=True)). 3 rows.
@query("ml_als_metrics")
def ml_als_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    train, test = _als_split(spark)
    with _cached(train) as (train,):
        model = recommend.als(custom=True, rank=8, maxIter=8).fit(train)
        metrics = evaluate.regression_metrics(model.transform(test), label_col="rating")
    return local_frame(
        spark,
        [(k, round(v, 4)) for k, v in metrics.items()],
        "metric string, value double",
    )


# M12 default-vs-custom across the reference's three temporal splits
# (als_clustering_analysis.py:41-78: train_splits=[0.4,0.6,0.8], default
# ALS vs custom rank/maxIter) — reduced iters for bounded runtime, same
# comparison shape. 2 variants × 3 splits × 3 metrics = 18 rows.
@query("ml_als_default_vs_custom")
def ml_als_default_vs_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    data = fixtures.ratings(spark, n_ratings=3000)
    rows = []
    for split in [0.4, 0.6, 0.8]:
        train, test = splits.temporal_split(
            data, "timestamp", "userId", split, exact=True
        )
        with _cached(train) as (train,):
            for variant, model in (
                ("default", recommend.als(maxIter=5)),
                ("custom", recommend.als(custom=True, rank=8, maxIter=8)),
            ):
                pred = model.fit(train).transform(test)
                m = evaluate.regression_metrics(pred, label_col="rating")
                rows += [
                    (variant, float(split), name, round(v, 4))
                    for name, v in m.items()
                ]
    return local_frame(
        spark, rows, "variant string, split double, metric string, value double"
    )


# M13+M14 + the cluster-profiling report: KMeans over ALS user factors,
# largest-cluster genre top-10 (als_clustering_analysis.py:105-146),
# driver-loop-free. ≤10 rows.
@query("ml_kmeans_cluster_genres")
def ml_kmeans_cluster_genres(spark: SparkSession, sf_dir: str) -> DataFrame:
    train, _ = _als_split(spark)
    with _cached(train) as (cached,):
        model = recommend.als(custom=True, rank=8, maxIter=5).fit(cached)
        factors = recommend.user_factors_vec(model)
        km = recommend.kmeans(k=25).fit(factors)
    return recommend.largest_cluster_genre_top10(
        km.transform(factors), train, fixtures.movies(spark), min_avg_rating=4.0
    )
