"""PageRank (operators/graph.py): known-graph semantics + invariants."""

from __future__ import annotations

import pytest

from spark_ml_showcase_spark.operators import graph


def _edges(spark, rows):
    return spark.createDataFrame(rows, "id_a long, id_b long")


def test_pagerank_star_center_dominates(spark):
    # undirected star 0-1, 0-2, 0-3: center must outrank the leaves,
    # leaves are symmetric, total mass ≈ 1
    e = _edges(spark, [(0, 1), (0, 2), (0, 3)])
    got = {r["id"]: r["rank"] for r in graph.pagerank(e, iterations=20).collect()}
    assert got[0] > got[1]
    assert got[1] == pytest.approx(got[2]) == pytest.approx(got[3])
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_symmetric_pair_uniform(spark):
    e = _edges(spark, [(1, 2)])
    got = {r["id"]: r["rank"] for r in graph.pagerank(e, iterations=5).collect()}
    assert got[1] == pytest.approx(0.5) and got[2] == pytest.approx(0.5)


def test_pagerank_zero_iterations_is_uniform(spark):
    e = _edges(spark, [(1, 2), (2, 3)])
    got = {r["id"]: r["rank"] for r in graph.pagerank(e, iterations=0).collect()}
    assert all(v == pytest.approx(1 / 3) for v in got.values())
    with pytest.raises(ValueError):
        graph.pagerank(e, iterations=-1)


def test_pagerank_directed_dangling_leaks_mass(spark):
    # 1 -> 2 directed: node 2 has no out-edges, so damped mass leaks
    # (documented simplified variant) — total < 1, and 2 outranks 1
    e = _edges(spark, [(1, 2)])
    got = {
        r["id"]: r["rank"]
        for r in graph.pagerank(e, iterations=10, directed=True).collect()
    }
    assert got[2] > got[1]
    assert sum(got.values()) < 1.0


def test_pagerank_empty_edges(spark):
    e = _edges(spark, [])
    assert graph.pagerank(e, iterations=3).count() == 0


def test_triangle_count_known_graphs(spark):
    from spark_ml_showcase_spark.operators.graph import triangle_count

    def run(edges):
        df = spark.createDataFrame(edges, "u bigint, v bigint")
        return triangle_count(df).collect()[0]

    # K4: 4 triangles
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    r = run(k4)
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (4, 6, 4)
    # star: no triangles regardless of hub degree
    star = [(0, i) for i in range(1, 8)]
    assert run(star).n_triangles == 0
    # two triangles sharing an edge
    bowtie = [(1, 2), (2, 3), (1, 3), (3, 4), (2, 4)]
    assert run(bowtie).n_triangles == 2


def test_triangle_count_shuffle_path_matches_broadcast_path(spark):
    """The explicit join-strategy guard (r14 verdict): forcing the
    at-scale shuffle path (broadcast_max_edges=0) must count the same
    triangles as the small-graph path that broadcasts the CLOSING
    join's oriented side (the join whose probe side is the O(m^1.5)
    wedge set — the 416 MB flip site), and the two paths must genuinely
    differ in plan — the strategy is OURS, decided once from the
    measured edge count, never AQE's to flip."""
    from spark_ml_showcase_spark.operators.graph import triangle_count

    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    bowtie = [(1, 2), (2, 3), (1, 3), (3, 4), (2, 4)]
    for edges, want in ((k4, 4), (bowtie, 2)):
        df = spark.createDataFrame(edges, "u bigint, v bigint")
        b = triangle_count(df).collect()[0]
        s = triangle_count(df, broadcast_max_edges=0).collect()[0]
        assert (b.n_nodes, b.n_edges, b.n_triangles) == (
            s.n_nodes, s.n_edges, s.n_triangles,
        )
        assert b.n_triangles == want

    df = spark.createDataFrame(k4, "u bigint, v bigint")

    def plan(frame) -> str:
        return frame._jdf.queryExecution().executedPlan().toString()

    # the checkpointed oriented list is the plan's leaf, so the visible
    # joins are the wedge self-join (merge-pinned SMJ in both regimes)
    # and the closing join (broadcast-hinted iff small)
    pinned = plan(triangle_count(df))
    assert "BroadcastHashJoin" in pinned, pinned   # closing join
    assert "SortMergeJoin" in pinned, pinned       # wedge join
    shuffled = plan(triangle_count(df, broadcast_max_edges=0))
    assert "BroadcastHashJoin" not in shuffled, shuffled
    assert shuffled.count("SortMergeJoin") >= 2, shuffled


def test_triangle_count_negative_and_wide_ids(spark):
    # ADVICE r9: the old packed d*2^31+id orientation key collided on
    # negative or >=2^31 ids; the struct key must not. K4 on ids far
    # outside [0, 2^31) still counts 4 triangles.
    from spark_ml_showcase_spark.operators.graph import triangle_count

    ids = [-5, 2**33, 2**33 + 7, -(2**31) - 3]
    k4 = [
        (ids[a], ids[b]) for a in range(4) for b in range(a + 1, 4)
    ]
    df = spark.createDataFrame(k4, "u bigint, v bigint")
    r = triangle_count(df).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (4, 6, 4)


def test_k_core_hand_graphs(spark):
    from spark_ml_showcase_spark.operators.graph import k_core

    # path a-b-c-d: 2-core is empty (endpoints peel, cascade eats all)
    path = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "u bigint, v bigint"
    )
    assert k_core(path, 2, rounds=4).count() == 0
    # cycle of 4 + pendant node: 2-core = exactly the cycle, degree 2
    cyc = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (4, 5)], "u bigint, v bigint"
    )
    got = {(r.id, r.degree) for r in k_core(cyc, 2, rounds=4).collect()}
    assert got == {(1, 2), (2, 2), (3, 2), (4, 2)}


def test_k_core_fixpoint_within_fixed_rounds(spark):
    from pyspark.sql import functions as F
    """The registered query runs a FIXED 8 peels; assert the fixture
    graph converges by then (round 8 == round 9) so 'k-core' is the
    honest label, not 'partially peeled'."""
    from spark_ml_showcase_spark.operators.graph import k_core
    from spark_ml_showcase_spark.plans import registry

    q = registry()["kcore_supplier_graph"]
    rows8 = {(r.id, r.degree) for r in q(spark, "/root/testdata/sf0.01").collect()}
    # rebuild the same edges and run one extra round
    from spark_ml_showcase_spark.sources.catalog import Catalog

    li = Catalog(spark, "/root/testdata/sf0.01").lineitem
    ps = (
        li.filter(F.col("l_partkey") % 100 == 0)
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    a, b = ps.alias("a"), ps.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_partkey") == F.col("b.l_partkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(F.col("a.l_suppkey").alias("u"), F.col("b.l_suppkey").alias("v"))
        .distinct()
    )
    n_e, n_v = edges.count(), edges.select(
        F.explode(F.array("u", "v")).alias("x")
    ).agg(F.count_distinct("x")).collect()[0][0]
    k = (n_e + n_v - 1) // n_v
    rows9 = {(r.id, r.degree) for r in k_core(edges, k, rounds=9).collect()}
    assert rows8 == rows9 and rows8


def test_triangle_count_width_invariant_and_scale_adaptive(spark, monkeypatch):
    """r15 verdict #2: the wedge-stage width derives from the
    measured wedge workload (sum of c*(c-1)/2 over oriented
    out-degrees), capped at session parallelism — and the RESULT is
    identical whatever width runs, because every rank/agg downstream is
    partitioning-independent."""
    import re
    from collections import Counter

    from spark_ml_showcase_spark.functions import partitioning
    from spark_ml_showcase_spark.operators.graph import triangle_count

    edges = [(i, j) for i in range(12) for j in range(i + 1, 12) if (i + j) % 3]
    df = spark.createDataFrame(edges, "u bigint, v bigint")
    # the wedge workload, by the same (degree, id) orientation
    deg = Counter(x for e in edges for x in e)
    out = Counter(min(e, key=lambda x: (deg[x], x)) for e in edges)
    wedges = sum(c * (c - 1) // 2 for c in out.values())
    par = spark.sparkContext.defaultParallelism
    assert wedges >= par

    def run(per_task):
        monkeypatch.setattr(partitioning, "WEDGES_PER_TASK", per_task)
        frame = triangle_count(df)
        plan = frame._jdf.queryExecution().optimizedPlan().toString()
        widths = set(re.findall(r"RepartitionByExpression \[src#\d+L?\], (\d+)", plan))
        return widths, tuple(frame.first())

    base = run(partitioning.WEDGES_PER_TASK)[1]
    # one task per wedge: capped at session width; half the wedges per
    # task: width 2; a huge per-task target collapses to width 1 — a
    # tiny workload must NOT fan out to session width
    for per_task, want in ((1, par), (-(-wedges // 2), 2), (10**9, 1)):
        widths, got = run(per_task)
        assert widths == {str(want)}, (per_task, widths)
        assert got == base
