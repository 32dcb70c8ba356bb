"""Graph algorithms over edge DataFrames: PageRank (power iteration).

Companion to the connected-components pair in ``operators/dedup.py``
(min-label propagation + large/small-star): where components answer
"which docs are the same", PageRank answers "which nodes matter" — the
host/URL authority signal web-corpus pipelines fold into quality
scoring (the original use of the algorithm).

Scale posture: each iteration is ONE shuffle — contributions
``rank/deg`` flow along edges via an equi-join on the source id and
re-aggregate on the destination. Degrees are computed once. The edge
table is the big operand and is re-read per iteration from an
explicitly cached/checkpointed frame; ranks (one row per node) ride a
``localCheckpoint`` every few rounds so the lineage (and therefore the
task graph) stays flat instead of growing by two joins per iteration.
Iterations are a FIXED count — deterministic, resumable, and exactly
replayable by the DuckDB recursive-CTE oracle (a convergence test
would couple the result to float noise).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_ml_showcase_spark.functions import partitioning


def pagerank(
    edges: DataFrame,
    *,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    iterations: int = 10,
    damping: float = 0.85,
    directed: bool = False,
    checkpoint_every: int = 4,
) -> DataFrame:
    """Power-iteration PageRank over the nodes incident to ``edges``.

    ``directed=False`` (default) symmetrizes the edge list first — the
    natural reading for similarity/co-occurrence graphs. Every node
    starts at ``1/N``; each round moves ``damping`` of each node's rank
    uniformly along its out-edges plus the ``(1-damping)/N``
    teleport. Nodes in the edge list always have degree ≥ 1 after
    symmetrization, so there is no dangling-mass term in the undirected
    form; in the directed form, dangling nodes (no out-edges) simply
    leak their damped mass — the classic simplified variant, stated
    here so the oracle can replay it exactly.

    Returns ``(id, rank)`` — rank as an unrounded double; round at the
    comparison boundary.
    """
    if iterations < 0:
        raise ValueError(f"iterations must be ≥ 0, got {iterations}")
    e = edges.select(
        F.col(src_col).alias("_s"), F.col(dst_col).alias("_d")
    )
    if not directed:
        e = e.unionByName(
            e.select(F.col("_d").alias("_s"), F.col("_s").alias("_d"))
        )
    e = e.distinct().localCheckpoint()

    nodes = (
        e.select(F.col("_s").alias("id"))
        .unionByName(e.select(F.col("_d").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    # attach the out-degree to the edge list ONCE (r15): degrees never
    # change across iterations, so joining the node-sized deg table
    # inside the loop paid one extra join per round for a constant —
    # the checkpointed (src, dst, deg) list removes 'iterations' joins
    # from the loop at the cost of one 8-byte column on the edges
    e = (
        e.join(e.groupBy("_s").agg(F.count(F.lit(1)).alias("_deg")), "_s")
        .localCheckpoint()
    )

    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    teleport = (1.0 - damping) / n_nodes
    for i in range(iterations):
        contribs = (
            e.join(ranks.withColumnRenamed("id", "_s"), "_s")
            .select(
                F.col("_d").alias("id"),
                (F.col("rank") / F.col("_deg")).alias("_c"),
            )
            .groupBy("id")
            .agg(F.sum("_c").alias("_in"))
        )
        ranks = (
            nodes.join(contribs, "id", "left")
            .select(
                "id",
                (
                    F.lit(teleport)
                    + F.lit(damping) * F.coalesce(F.col("_in"), F.lit(0.0))
                ).alias("rank"),
            )
        )
        if (i + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint()
    return ranks


def k_core(
    edges: DataFrame,
    k: int,
    *,
    u_col: str = "u",
    v_col: str = "v",
    rounds: int = 8,
    checkpoint_every: int = 2,
) -> DataFrame:
    """k-core peeling: repeatedly remove nodes of degree < ``k`` (and
    their edges) for a FIXED ``rounds`` iterations — fixed, not
    until-fixpoint, so the computation is replayable verbatim by an
    unrolled SQL oracle (and deterministic cost: each round is one
    degree aggregation + two semi-joins). Most graphs reach the true
    k-core in far fewer peels; callers wanting certainty compare round
    ``r`` and ``r+1`` (tests do). Returns ``(id, degree)`` for surviving
    nodes with their degree INSIDE the surviving subgraph.

    Scale: per round the edge set only shrinks; degrees shuffle on node
    id, the semi-joins on the endpoint — no broadcast of anything
    node-sized is required (the survivor set can be large). Lineage is
    cut every ``checkpoint_every`` rounds (pointer-doubling precedent in
    operators/hierarchy.py) so the plan stays round-sized.
    """
    e = edges.select(F.col(u_col).alias("u"), F.col(v_col).alias("v"))
    n_prev: int | None = None
    for r in range(rounds):
        deg = (
            e.select(F.explode(F.array("u", "v")).alias("x"))
            .groupBy("x")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select("x")
        e = (
            e.join(keep.withColumnRenamed("x", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("x", "v"), "v", "left_semi")
            .select("u", "v")
        )
        if (r + 1) % checkpoint_every == 0:
            e = e.localCheckpoint(eager=False)
            # PROVEN fixpoint exit (r15): edges only shrink, so an
            # unchanged edge count means no node was removed — degrees,
            # the keep set, and every remaining round are identities,
            # and the result equals the full fixed-round unroll (the
            # oracle's) verbatim. The count rides the checkpoint the
            # final action would materialize anyway; most graphs reach
            # the true k-core in 2-4 peels, so the saved rounds
            # outnumber the bounded count jobs.
            n_now = e.count()
            if n_prev is not None and n_now == n_prev:
                break
            n_prev = n_now
    return (
        e.select(F.explode(F.array("u", "v")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )


def triangle_count(
    edges: DataFrame,
    *,
    u_col: str = "u",
    v_col: str = "v",
    broadcast_max_edges: int = 2_000_000,
) -> DataFrame:
    """Exact triangle count of an undirected graph (edges distinct,
    one row per unordered pair) by DEGREE ORIENTATION — the
    Suri/Vassilvitskii MR recipe: orient every edge from its
    lower-(degree, id) endpoint to the higher, turning the graph into
    a DAG where each triangle has exactly one node with both
    out-edges; count wedges at that node and close them with one more
    join.

    Why orientation matters at scale: naive wedge counting explodes at
    hub nodes (Σ deg² — a celebrity node with 10M neighbors yields
    10¹⁴ wedges); orientation bounds every out-degree by O(√m), so the
    wedge join is O(m^1.5) worst-case TOTAL, independent of skew. The
    degree table is node-sized and broadcast.

    Join strategy is pinned EXPLICITLY, never left to AQE (r14
    verdict). The load-bearing decision is the CLOSING join: its probe
    side is the wedge set (O(m^1.5) rows — 35M at bench sf0.1), its
    build side the O(m) oriented list. Broadcasting the oriented side
    keeps the wedges from ever crossing an exchange; AQE demoting that
    broadcast to a sort-merge under session heap pressure is exactly
    the one-off 416 MB-shuffle flip the r14 bench caught (30× the
    normal 13.4 MB — the wedge set is the only frame here with that
    mass). So: at or under ``broadcast_max_edges`` oriented edges the
    closing join carries an ``F.broadcast`` hint AQE cannot revoke;
    above it, both joins are merge-hinted shuffles by construction (an
    O(m) edge list is not broadcastable at 100 TB, and the wedge set
    then shuffles on (a, b) — the unavoidable at-scale exchange, sized
    by orientation's O(m^1.5) bound, skew-free because both dst ids
    carry O(√m)-bounded out-degrees). The wedge self-join is
    merge-hinted in BOTH regimes: broadcasting an O(m) side there
    buys nothing (measured 2× SLOWER at sf0.1 — it serializes the
    probe through the checkpoint's partitioning) and pinning it stops
    AQE from flipping strategies run to run. The stats driving both
    decisions — edge count for the broadcast, the EXACT wedge workload
    Σ c·(c−1)/2 for the wedge-stage width (``functions.partitioning``)
    — ride ONE bounded agg over the localCheckpointed list, fronting the
    materialization the joins would trigger anyway. The threshold default (~2M rows ≈
    100 MB of (src, dst, dst_k) structs) is the conventional
    executor-safe broadcast ceiling.

    Returns one row: ``(n_nodes, n_edges, n_triangles)``.
    """
    u, v = F.col(u_col), F.col(v_col)
    deg = (
        edges.select(F.explode(F.array(u, v)).alias("x"))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # total-order key (degree, id) as a struct — Spark compares structs
    # lexicographically, so this is collision-free for ANY id type/range
    # (a packed d*2^31+id long would silently collide on negative or
    # >=2^31 ids and corrupt the wedge dedup order)
    key = F.struct(F.col("d").alias("d"), F.col("x").alias("x")).alias("k")
    dk = deg.select("x", key)
    e = (
        edges.join(F.broadcast(dk.withColumnRenamed("x", u_col)
                               .withColumnRenamed("k", "ku")), u_col)
        .join(F.broadcast(dk.withColumnRenamed("x", v_col)
                          .withColumnRenamed("k", "kv")), v_col)
    )
    oriented = e.select(
        F.when(F.col("ku") < F.col("kv"), u).otherwise(v).alias("src"),
        F.when(F.col("ku") < F.col("kv"), v).otherwise(u).alias("dst"),
        F.when(F.col("ku") < F.col("kv"), F.col("kv"))
        .otherwise(F.col("ku"))
        .alias("dst_k"),
    # referenced THREE times below (both wedge sides + the closing
    # edge set) and Catalyst does not reuse the subtree — materialize
    # once, lazily (the O(m) oriented list is the standard between-
    # rounds artifact of the MR recipe; MEMORY_AND_DISK, spills).
    # Measured at 20M hub-skewed edges: 11.4 s → 7.1 s (2.7M wedges/s).
    ).localCheckpoint(eager=False)
    # the explicit-strategy decision (docstring): ONE bounded agg over
    # the now-materialized oriented list yields the edge count (the
    # broadcast decision) AND the exact wedge workload Σ c·(c−1)/2 over
    # out-degrees (the width decision below) — same single job the
    # plain count was, every other strategy pinned so AQE cannot flip
    # plans run to run
    st = (
        oriented.groupBy("src")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum("c").alias("m"),
            F.sum(F.col("c") * (F.col("c") - F.lit(1))).alias("w2"),
        )
        .first()
    )
    m = int(st.m or 0)
    wedges = int(st.w2 or 0) // 2
    small = m <= broadcast_max_edges
    # explicit src-keyed repartition on BOTH wedge sides (r15): the
    # wedge stage does the O(m^1.5) work of the whole algorithm (wedge
    # generation + the broadcast closing probe + the partial count),
    # but AQE coalesces the merge join's exchanges by the INPUT bytes —
    # ~13 MB of oriented edges at sf0.1 → 8 post-shuffle partitions —
    # leaving the expensive expansion at a quarter of the machine
    # (measured: one 4.3 s 8-task stage of a 6 s query on 32 cores).
    # The repartition is keyed the same as the join so it IS the
    # join's exchange (both sides reuse it); its width derives from the
    # measured wedge workload (r15 verdict #2: a blind session-wide
    # width lost 32 narrow fixture-sized tasks to scheduling overhead).
    # Out-degrees are O(√m)-bounded by the orientation, so hash-by-src
    # cannot skew.
    keyed = oriented.repartition(
        partitioning.width(
            oriented.sparkSession, wedges, partitioning.WEDGES_PER_TASK
        ),
        "src",
    )
    o1 = keyed.alias("o1")
    o2 = keyed.hint("merge").alias("o2")
    wedges = o1.join(
        o2,
        (F.col("o1.src") == F.col("o2.src"))
        & (F.col("o1.dst_k") < F.col("o2.dst_k")),
    ).select(F.col("o1.dst").alias("a"), F.col("o2.dst").alias("b"))
    closing = oriented.select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    closed = wedges.join(
        F.broadcast(closing) if small else closing.hint("merge"), ["a", "b"]
    )
    return (
        closed.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
        .crossJoin(
            F.broadcast(
                edges.agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_edges")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
            )
        )
        .select("n_nodes", "n_edges", "n_triangles")
    )
