"""Deterministic synthetic stand-ins for the reference's (private) ML
inputs, shaped per FIXTURES.md §A.

The reference's data files are not in its repo (`readme.md:135-144`,
`.MISSING_LARGE_BLOBS:1-2`), so parity runs use seeded generators that
reproduce each input's SHAPE: higgs = 28 numeric features + binary label
(`higgs_ensemble_analysis.py:62-66`), claims = numeric + categorical
features with a zero-skewed count target (`Claims_Prediction.py:24-38`),
ratings/movies = user×item ratings with epoch timestamps and
pipe-delimited genres (`als_clustering_analysis.py:28-35,138`).

All generators are driver-side numpy → ``sources.local`` frames —
fixture sizes are intentionally FIXED (they model the reference's
workloads, not the scale-factor tables), so registered ml_* queries have
bounded runtime at any sf.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from spark_ml_showcase_spark.sources.local import local_frame, pandas_frame

HIGGS_FEATURES = [f"f{i}" for i in range(1, 29)]

_GENRES = [
    "Action", "Comedy", "Drama", "Horror", "SciFi", "Romance",
    "Thriller", "Documentary", "Animation", "Crime", "Fantasy", "War",
]


def higgs(spark: SparkSession, n: int = 2000, seed: int = 40) -> DataFrame:
    """~2 binary-labelled Gaussian blobs over 28 features
    (higgs_ensemble_analysis.py:62-66 shape: label + f1..f28 double)."""
    rng = np.random.RandomState(seed)
    label = rng.randint(0, 2, n)
    shift = 0.6 * label[:, None]
    feats = rng.randn(n, 28) + shift
    pdf = pd.DataFrame(feats, columns=HIGGS_FEATURES)
    pdf.insert(0, "label", label.astype(float))
    return pandas_frame(spark, pdf)


def claims(spark: SparkSession, n: int = 5000, seed: int = 40) -> DataFrame:
    """freMTPL2freq-shaped table (Claims_Prediction.py:24-38): numeric
    exposure/vehicle/driver features, 4 categorical columns, and a
    zero-skewed Poisson-ish ClaimNb target (≥4 strata)."""
    rng = np.random.RandomState(seed)
    exposure = rng.uniform(0.05, 1.0, n)
    veh_power = rng.randint(4, 12, n).astype(float)
    veh_age = rng.randint(0, 20, n).astype(float)
    drv_age = rng.randint(18, 90, n).astype(float)
    bonus = rng.randint(50, 120, n).astype(float)
    density = np.exp(rng.uniform(1, 9, n)).round(1)
    lam = exposure * 0.12 * (1 + (bonus - 50) / 140)
    claim_nb = np.minimum(rng.poisson(lam), 3).astype(float)
    pdf = pd.DataFrame(
        {
            "ClaimNb": claim_nb,
            "Exposure": exposure,
            "VehPower": veh_power,
            "VehAge": veh_age,
            "DrivAge": drv_age,
            "BonusMalus": bonus,
            "Density": density,
            "Area": rng.choice(["A", "B", "C", "D", "E"], n),
            "VehBrand": rng.choice(["B1", "B2", "B3", "B4"], n),
            "VehGas": rng.choice(["Regular", "Diesel"], n),
            "Region": rng.choice(["R11", "R24", "R52", "R82", "R93"], n),
        }
    )
    return pandas_frame(spark, pdf)


def ratings(
    spark: SparkSession,
    n_users: int = 200,
    n_movies: int = 100,
    n_ratings: int = 5000,
    seed: int = 40,
) -> DataFrame:
    """MovieLens-ratings-shaped table (als_clustering_analysis.py:28-35):
    userId/movieId/rating/timestamp, all double, DISTINCT timestamps so
    the temporal split has no ties (SURVEY §7 risk 2)."""
    rng = np.random.RandomState(seed)
    user = rng.randint(0, n_users, n_ratings).astype(float)
    movie = rng.randint(0, n_movies, n_ratings).astype(float)
    # block structure so ALS factors carry signal: users/movies in the
    # same half agree
    affinity = 3.0 + ((user % 2 == movie % 2).astype(float) * 1.5)
    rating = np.clip(np.round((affinity + rng.randn(n_ratings) * 0.5) * 2) / 2, 0.5, 5.0)
    ts = np.arange(n_ratings, dtype=float) + 1_000_000_000.0  # strictly increasing
    order = rng.permutation(n_ratings)
    pdf = pd.DataFrame(
        {"userId": user, "movieId": movie, "rating": rating, "timestamp": ts[order]}
    )
    return pandas_frame(spark, pdf)


def movies(spark: SparkSession, n_movies: int = 100, seed: int = 40) -> DataFrame:
    """MovieLens-movies-shaped table: movieId/title string, genres
    pipe-delimited (als_clustering_analysis.py:138)."""
    rng = np.random.RandomState(seed)
    rows = []
    for m in range(n_movies):
        k = rng.randint(1, 4)
        gs = rng.choice(_GENRES, size=k, replace=False)
        rows.append((str(m), f"Movie {m}", "|".join(sorted(gs))))
    return local_frame(spark, rows, "movieId string, title string, genres string")
