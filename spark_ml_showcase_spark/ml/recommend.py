"""ALS collaborative filtering + KMeans cluster profiling (SURVEY.md
§2.11 M12-M14), the als_clustering_analysis.py flow.

Reference params: ALS userCol/itemCol, seed=40, coldStartStrategy='drop'
(default variant) and rank=14, maxIter=17 (custom variant)
(``als_clustering_analysis.py:73,78``); KMeans k=25, seed=40 (``:110``);
largest-cluster genre top-10 via join + split + explode + groupBy +
orderBy + limit (``:123-146``).

The genre flow here is single-plan DataFrame composition: the
reference's ``.first()['prediction']`` driver round-trip (``:123-125``)
is replaced by a window rank over cluster sizes, so the whole report is
one lazy plan. ``coldStartStrategy='drop'`` makes transform drop unseen
users/items (inner-join semantics) — evaluator row counts shrink
accordingly, matching the reference.
"""

from __future__ import annotations

from pyspark.ml.clustering import KMeans
from pyspark.ml.functions import array_to_vector
from pyspark.ml.recommendation import ALS
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

SEED = 40


def als(
    *,
    user_col: str = "userId",
    item_col: str = "movieId",
    rating_col: str = "rating",
    custom: bool = False,
    **params,
) -> ALS:
    """M12: the reference's two ALS variants
    (als_clustering_analysis.py:73,78): default, and custom rank=14
    maxIter=17. Extra params override either."""
    base: dict = dict(
        userCol=user_col, itemCol=item_col, ratingCol=rating_col,
        seed=SEED, coldStartStrategy="drop",
    )
    if custom:
        base.update(rank=14, maxIter=17)
    base.update(params)
    return ALS(**base)


def user_factors_vec(model) -> DataFrame:
    """M13: ALSModel.userFactors (id, features array<float>) with the
    factor array converted to an ML Vector for KMeans consumption."""
    return model.userFactors.select(
        "id", array_to_vector(F.col("features")).alias("features")
    )


def kmeans(k: int = 25, seed: int = SEED) -> KMeans:
    """M14 (als_clustering_analysis.py:110)."""
    return KMeans(k=k, seed=seed)


def largest_cluster_genre_top10(
    clustered_users: DataFrame,
    train_ratings: DataFrame,
    movies: DataFrame,
    *,
    min_avg_rating: float = 4.0,
) -> DataFrame:
    """The reference's cluster-profiling report
    (als_clustering_analysis.py:123-146) as one DataFrame plan:

    largest cluster (window rank over cluster counts, no driver
    round-trip) → its users' train ratings → movies averaging ≥ 4 →
    join movies dim → explode genres → top-10 genre counts with a
    deterministic genre tie-break.

    ``clustered_users`` is KMeansModel.transform(user_factors):
    (id, features, prediction).
    """
    counts = clustered_users.groupBy("prediction").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("prediction").asc())
    largest = (
        counts.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select("prediction")
    )
    cluster_users = (
        clustered_users.join(F.broadcast(largest), "prediction")
        .select("id")
        .distinct()
    )
    top_movies = (
        train_ratings.join(
            cluster_users, train_ratings["userId"] == cluster_users["id"], "inner"
        )
        .groupBy("movieId")
        .agg(F.avg("rating").alias("avg_rating"))
        .filter(F.col("avg_rating") >= min_avg_rating)
    )
    # join-key disambiguation via rename, as the reference does
    # (als_clustering_analysis.py:134-136)
    joined = (
        movies.withColumnRenamed("movieId", "movieId2")
        .join(
            top_movies,
            F.col("movieId2").cast("double") == F.col("movieId"),
            "inner",
        )
        .drop("movieId2")
    )
    return (
        joined.withColumn("genre", F.explode(F.split("genres", r"\|")))
        .groupBy("genre")
        .agg(F.count(F.lit(1)).alias("n_movies"))
        .orderBy(F.col("n_movies").desc(), F.col("genre").asc())
        .limit(10)
    )
