"""Embedding-drift measurement + drift-gated ingest (X110/X114).

``drift_report`` is the exact-moments centroid/norm drift algebra
behind ``embedding_drift_by_source`` (X110), extracted so the
observability query and the ENFORCEMENT path share one implementation:
``drift_gated_append`` (X114) runs the same report between a versioned
store's current contents and an incoming batch and REFUSES the commit
when any group's centroid shift exceeds the threshold — the
observability → enforcement step a production corpus store runs, so a
silently re-versioned encoder or a poisoned source is stopped AT THE
STORE instead of discovered in a dashboard later.

Everything is hash-checkable cross-engine (the X110 contract): per-dim
DECIMAL sums of ROUND(6)-quantized elements, one float division per
dim, squared deltas DECIMAL-folded into the shift — with every
quantization going through :func:`round_like_duckdb`, which reproduces
DuckDB's ROUND bit-for-bit (the quantized-mean stage structurally
lands on .5 midpoints where ``F.round`` diverges; see its docstring).
At 100 TB the
explode shuffles skinny (group, window, dim) cells with map-side
combine — the key grid (n_groups × 2 × dim) cannot skew; the gate adds
ONE bounded collect of n_groups report rows before the commit decision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# shared since r14 — every quantization stage here and any oracle-side
# exact-rational ROUND across the engine goes through the DuckDB-exact
# mirror (rationale + usage rules in functions/rounding.py)
from spark_ml_showcase_spark.functions.rounding import (  # noqa: E402
    round_like_duckdb,
)
from spark_ml_showcase_spark.sources.local import local_frame


def drift_report(j: DataFrame, *, group_col: str = "source") -> DataFrame:
    """Per-group drift between the two windows of a tagged frame.

    ``j`` carries ``(group_col, w, v)`` with ``w`` ∈ {'baseline',
    'current'} and ``v`` an ``array<double>``. Returns one row per
    group: ``(group, n_base, n_cur, centroid_shift, mean_norm_base,
    mean_norm_cur, norm_shift)`` — NULL legs where a window is empty
    (a group present on only one side has no drift to measure).

    Algebra (the ``zscore_value_by_type`` exact-moments recipe lifted
    to vectors, verbatim from X110 — its DuckDB oracle is the pinned
    twin): ROUND(6)-quantized elements DECIMAL-summed per (group, w,
    dim) — order-free, map-side combinable — one float division per
    dim, per-dim squared deltas ROUND(12)-quantized and DECIMAL-folded
    into the L2 shift."""
    from spark_ml_showcase_spark.functions import vectors as V

    g = group_col
    norm6 = round_like_duckdb(F.sqrt(V.dot("v", "v")), 6)
    per_w = (
        j.groupBy(g, "w")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(norm6.cast("decimal(20,6)")).cast("double").alias("_sn"),
        )
        .withColumn(
            "mean_norm", round_like_duckdb(F.col("_sn") / F.col("n"), 6)
        )
        .drop("_sn")
    )
    pos = j.select(g, "w", F.posexplode("v").alias("p", "x"))
    se = pos.groupBy(g, "w", "p").agg(
        F.sum(round_like_duckdb(F.col("x"), 6).cast("decimal(20,6)")).alias("se")
    )
    me = se.join(F.broadcast(per_w.select(g, "w", "n")), [g, "w"]).select(
        g,
        "w",
        "p",
        round_like_duckdb(F.col("se").cast("double") / F.col("n"), 6).alias(
            "m"
        ),
    )
    sh = me.groupBy(g, "p").agg(
        F.max(F.when(F.col("w") == "baseline", F.col("m"))).alias("mb"),
        F.max(F.when(F.col("w") == "current", F.col("m"))).alias("mc"),
    )
    shift = (
        sh.select(
            g,
            round_like_duckdb(
                (F.col("mb") - F.col("mc")) * (F.col("mb") - F.col("mc")), 12
            )
            .cast("decimal(38,12)")
            .alias("t"),
        )
        .groupBy(g)
        .agg(
            round_like_duckdb(F.sqrt(F.sum("t").cast("double")), 6).alias(
                "centroid_shift"
            )
        )
    )
    wide = per_w.groupBy(g).agg(
        F.max(F.when(F.col("w") == "baseline", F.col("n")))
        .cast("bigint")
        .alias("n_base"),
        F.max(F.when(F.col("w") == "current", F.col("n")))
        .cast("bigint")
        .alias("n_cur"),
        F.max(F.when(F.col("w") == "baseline", F.col("mean_norm"))).alias(
            "mean_norm_base"
        ),
        F.max(F.when(F.col("w") == "current", F.col("mean_norm"))).alias(
            "mean_norm_cur"
        ),
    )
    return wide.join(F.broadcast(shift), g).select(
        g,
        "n_base",
        "n_cur",
        "centroid_shift",
        "mean_norm_base",
        "mean_norm_cur",
        round_like_duckdb(
            F.col("mean_norm_cur") - F.col("mean_norm_base"), 6
        ).alias("norm_shift"),
    )


def drift_oracle_core(
    j_sql: str, *, group_col: str = "source", suffix: str = ""
) -> str:
    """The DuckDB twin of :func:`drift_report` as a CTE chain over a
    ``j``-shaped subquery (``j_sql`` must select ``(group_col, w, v)``
    with ``v`` already ``::DOUBLE[]``). GENERATED next to the Spark
    implementation — the X110 discipline of never hand-copying the
    algebra into oracles — and yields a relation named ``drift_rep``
    with :func:`drift_report`'s exact columns. ``suffix`` renames every
    CTE (``j`` → ``j<suffix>``, …, ``drift_rep<suffix>``) so two cores
    can share one WITH clause (the X114 two-batch oracle)."""
    g = group_col
    x = suffix
    return f"""
    j{x} AS ({j_sql}),
    per_w{x} AS (
        SELECT {g}, w, CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(CAST(SUM(CAST(ROUND(sqrt(list_dot_product(v, v)), 6)
                                   AS DECIMAL(20,6))) AS DOUBLE)
                     / COUNT(*), 6) AS mean_norm
        FROM j{x} GROUP BY 1, 2
    ),
    pos{x} AS (
        SELECT {g}, w, generate_subscripts(v, 1) AS p, unnest(v) AS x
        FROM j{x}
    ),
    se{x} AS (
        SELECT {g}, w, p,
               SUM(CAST(ROUND(x, 6) AS DECIMAL(20,6))) AS se
        FROM pos{x} GROUP BY 1, 2, 3
    ),
    me{x} AS (
        SELECT se{x}.{g}, se{x}.w, se{x}.p,
               ROUND(CAST(se{x}.se AS DOUBLE) / pw.n, 6) AS m
        FROM se{x} JOIN per_w{x} pw ON se{x}.{g} = pw.{g} AND se{x}.w = pw.w
    ),
    sh{x} AS (
        SELECT {g}, p,
               MAX(CASE WHEN w = 'baseline' THEN m END) AS mb,
               MAX(CASE WHEN w = 'current' THEN m END) AS mc
        FROM me{x} GROUP BY 1, 2
    ),
    shift{x} AS (
        SELECT {g},
               ROUND(sqrt(CAST(SUM(CAST(ROUND((mb - mc) * (mb - mc), 12)
                                        AS DECIMAL(38,12))) AS DOUBLE)),
                     6) AS centroid_shift
        FROM sh{x} GROUP BY 1
    ),
    wide{x} AS (
        SELECT {g},
               CAST(MAX(CASE WHEN w = 'baseline' THEN n END) AS BIGINT)
                   AS n_base,
               CAST(MAX(CASE WHEN w = 'current' THEN n END) AS BIGINT)
                   AS n_cur,
               MAX(CASE WHEN w = 'baseline' THEN mean_norm END)
                   AS mean_norm_base,
               MAX(CASE WHEN w = 'current' THEN mean_norm END)
                   AS mean_norm_cur
        FROM per_w{x} GROUP BY 1
    ),
    drift_rep{x} AS (
        SELECT wide{x}.{g} AS {g}, n_base, n_cur, centroid_shift,
               mean_norm_base, mean_norm_cur,
               ROUND(mean_norm_cur - mean_norm_base, 6) AS norm_shift
        FROM wide{x} JOIN shift{x} ON wide{x}.{g} = shift{x}.{g}
    )"""


def drift_gated_append(
    spark: SparkSession,
    table_dir: str,
    batch_df: DataFrame,
    *,
    max_centroid_shift: float,
    group_col: str = "source",
    vec_col: str = "v",
) -> tuple[int | None, DataFrame]:
    """Commit ``batch_df`` to the versioned snapshot store at
    ``table_dir`` (append) ONLY if no group's centroid shift between
    the store's CURRENT contents and the batch exceeds
    ``max_centroid_shift`` — the drift monitor as an ingest gate.

    Policy: a NULL shift (a group new to the batch or absent from it —
    nothing to compare) does NOT block; only a measured excess does.
    By the same nothing-to-compare rule, an EMPTY store (no snapshots
    yet) commits unconditionally — bootstrap ingest needs no prior
    baseline (r14 ADVICE) — returning an empty report frame with the
    report schema (every group is "new to the store").
    Returns ``(version, report)``: the committed version (None when
    refused) and the per-group report with ``admitted`` — a bounded
    n_groups-row frame, collected once for the gate decision.

    The baseline read is O(manifest) (the store's planning contract)
    and the report shuffles only (group, window, dim) cells; the gate
    adds no scan of historic data beyond the drift measurement itself.
    """
    from pyspark.sql import types as T

    from spark_ml_showcase_spark.sources import versioned

    try:
        base = versioned.read_snapshot(spark, table_dir)
    except FileNotFoundError:
        version = versioned.write_snapshot(batch_df, table_dir, append=True)
        group_type = batch_df.schema[group_col].dataType
        schema = T.StructType(
            [T.StructField(group_col, group_type)]
            + [
                T.StructField(n, T.LongType())
                for n in ("n_base", "n_cur")
            ]
            + [
                T.StructField(n, T.DoubleType())
                for n in (
                    "centroid_shift",
                    "mean_norm_base",
                    "mean_norm_cur",
                    "norm_shift",
                )
            ]
            + [T.StructField("admitted", T.LongType())]
        )
        return version, local_frame(spark, [], schema)
    tagged = base.select(
        F.col(group_col).alias(group_col),
        F.lit("baseline").alias("w"),
        F.col(vec_col).alias("v"),
    ).unionByName(
        batch_df.select(
            F.col(group_col).alias(group_col),
            F.lit("current").alias("w"),
            F.col(vec_col).alias("v"),
        )
    )
    rep = drift_report(tagged, group_col=group_col).withColumn(
        "admitted",
        F.when(
            F.col("centroid_shift") > F.lit(max_centroid_shift), F.lit(0)
        )
        .otherwise(F.lit(1))
        .cast("bigint"),
    )
    # bounded (one row per group) and consumed twice — by the gate
    # decision here and by the caller's report read — so materialize it
    # once; the full drift plan would otherwise re-execute per consumer
    rep = rep.localCheckpoint()
    n_blocked = rep.filter(F.col("admitted") == 0).count()
    if n_blocked > 0:
        return None, rep
    version = versioned.write_snapshot(batch_df, table_dir, append=True)
    return version, rep
