"""The width policy (functions/partitioning.py): the width arithmetic,
job-free width probes, and a lint that keeps it the only code that
sizes a repartition."""

from __future__ import annotations

import ast
import os
from types import SimpleNamespace

from pyspark.sql import functions as F

from spark_ml_showcase_spark.functions import partitioning, similarity

from conftest import REPO, SF_SMALL


def _session(par: int):
    return SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=par))


def test_width_arithmetic():
    s = _session(8)
    assert partitioning.width(s) == 8  # no work: the session's parallelism
    assert partitioning.width(s, 0) == 1  # never below 1
    assert partitioning.width(s, -3) == 1
    assert partitioning.width(s, 3) == 3
    assert partitioning.width(s, 100) == 8  # capped at parallelism
    assert partitioning.width(s, 10**12, 10**6) == 8
    assert partitioning.width(s, 8, 4) == 2  # ceil rounding
    assert partitioning.width(s, 9, 4) == 3
    assert partitioning.width(s, 1, 10**9) == 1
    assert partitioning.width(_session(1), 100) == 1


def test_width_reads_the_session(spark):
    par = spark.sparkContext.defaultParallelism
    assert partitioning.width(spark) == par
    assert partitioning.width(spark, 10**9) == par


def _jobs(spark, tag, fn):
    """(fn(), number of Spark jobs fn launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(tag))


def _with_exchange(spark):
    """An embeddings frame behind a shuffle aggregate and a join: probing
    its width through ``.rdd`` runs the upstream stages as jobs."""
    emb = spark.read.parquet(os.path.join(SF_SMALL, "embeddings.parquet"))
    first = emb.groupBy("vec_id").agg(F.first("embedding").alias("embedding"))
    ids = emb.groupBy("vec_id").count().select("vec_id")
    return first.join(ids, "vec_id")


def test_width_probes_launch_no_jobs(spark):
    cands = _with_exchange(spark)
    queries = spark.read.parquet(
        os.path.join(SF_SMALL, "embeddings.parquet")
    ).filter(F.col("vec_id") < 3)
    _, n = _jobs(spark, "pt_widen_scan", lambda: partitioning.widen_narrow_scan(cands))
    assert n == 0
    topk, n = _jobs(
        spark,
        "pt_bf_widen",
        lambda: similarity.brute_force_topk(cands, queries, 3, widen=True),
    )
    assert n == 0
    plain = similarity.brute_force_topk(cands, queries, 3, widen=False)
    assert sorted(topk.collect()) == sorted(plain.collect())


def test_plan_width_states_scan_checkpoint_and_repartition(spark):
    emb = spark.read.parquet(os.path.join(SF_SMALL, "embeddings.parquet"))
    ckpt = emb.select("vec_id").repartition(3).localCheckpoint()
    for frame, want in ((emb, 1), (ckpt, 3), (emb.repartition(5), 5)):
        got, n = _jobs(spark, "pt_plan_width", lambda: partitioning.plan_width(frame))
        assert (got, n) == (want, 0)
    par = spark.sparkContext.defaultParallelism
    assert partitioning.plan_width(partitioning.fan_out(emb, par)) == par
    wide = emb.repartition(par + 1)
    assert partitioning.fan_out(wide, par) is wide


def test_only_the_policy_sizes_partitions():
    """No package code reads ``defaultParallelism`` outside
    ``functions/partitioning.py``, and none touches ``.rdd`` (a plan to
    RDD conversion runs an adaptive plan's shuffle stages as jobs).
    Attribute accesses only: docstrings may quote the reference."""
    pkg = os.path.join(REPO, "spark_ml_showcase_spark")
    policy = os.path.join("functions", "partitioning.py")
    hits = []
    for root, _, files in os.walk(pkg):
        for f in files:
            if not f.endswith(".py"):
                continue
            p = os.path.join(root, f)
            rel = os.path.relpath(p, pkg)
            tree = ast.parse(open(p, encoding="utf-8").read(), filename=p)
            for node in ast.walk(tree):
                if not isinstance(node, ast.Attribute):
                    continue
                if node.attr == "rdd" or (
                    node.attr == "defaultParallelism" and rel != policy
                ):
                    hits.append(f"{rel}:{node.lineno}: .{node.attr}")
    assert hits == []
