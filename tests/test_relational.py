"""Unit tests for operators/relational.py (SURVEY §2.2 P1-P12)."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from spark_ml_showcase_spark.operators import relational as R


@pytest.fixture(scope="module")
def claims(spark):
    # Shaped like the reference's claims table (Claims_Prediction.py:30-38).
    return spark.createDataFrame(
        [(0.0, "A"), (1.0, "B"), (3.0, "A"), (None, "C")],
        "ClaimNb double, Area string",
    )


def test_project_and_drop(claims):
    assert R.project(claims, "Area").columns == ["Area"]
    assert R.drop(claims, "Area").columns == ["ClaimNb"]


def test_cast_bulk(claims):
    out = R.cast(claims, {"ClaimNb": "int"})
    assert dict(out.dtypes)["ClaimNb"] == "int"
    # null survives the cast
    assert out.filter(F.col("ClaimNb").isNull()).count() == 1


def test_rename(claims):
    assert "label" in R.rename(claims, {"ClaimNb": "label"}).columns


def test_conditional_derive_reference_semantics(claims):
    # Claims_Prediction.py:35-37: NZClaim = when(ClaimNb>0,1).otherwise(0);
    # note null > 0 is null → otherwise() catches it (0.0), matching Spark.
    out = R.derive(
        claims,
        NZClaim=F.when(F.col("ClaimNb") > 0, 1.0).otherwise(0.0),
    ).collect()
    got = {r["Area"]: r["NZClaim"] for r in out}
    assert got["B"] == 1.0 and got["C"] == 0.0


def test_zero_guarded_log(spark):
    df = spark.createDataFrame([(0.0,), (1.0,), (math.e,)], "x double")
    vals = [r[0] for r in df.select(R.zero_guarded_log("x")).collect()]
    assert vals[0] == pytest.approx(math.log(0.5))  # zero → ln(0.5)
    assert vals[1] == pytest.approx(0.0)
    assert vals[2] == pytest.approx(1.0)  # NATURAL log, not log10


def test_filter_suffix(spark):
    hosts = spark.createDataFrame(
        [("a.de",), ("b.ca",), ("c.sg",), ("d.com",)], "host string"
    )
    got = {r[0] for r in R.filter_suffix(hosts, "host", ".de", ".ca").collect()}
    assert got == {"a.de", "b.ca"}
