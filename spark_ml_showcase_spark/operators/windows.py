"""Window functions and event-time windows (SURVEY.md §2.10 — absent from
the reference, added as first-class engine surface).

- Analytic windows: row_number/rank/lag/lead/percent_rank/running aggregates
  over ``Window.partitionBy().orderBy()``.
- Event-time windows (batch): tumbling/sliding via ``F.window``, session via
  ``F.session_window`` — the same functions power the streaming surface
  (streaming/events.py) so batch and stream share semantics.

Scale notes: a window spec with ``partitionBy`` shuffles once on the
partition keys and sorts within partitions. A window WITHOUT partitionBy
collapses everything to one task — never do that at scale; when a global
ordering is required (percent_rank for splits) Spark uses a range
repartition, which is acceptable but still a global sort: prefer windows
keyed by a real partition column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_ml_showcase_spark.functions.rounding import round_like_duckdb
from pyspark.sql.window import Window, WindowSpec


def ordered_window(partition_by: list[str], order_by: list[tuple[str, str]]) -> WindowSpec:
    cols = [
        F.col(c).desc() if d == "desc" else F.col(c).asc() for c, d in order_by
    ]
    return Window.partitionBy(*partition_by).orderBy(*cols)


def tumbling(df: DataFrame, ts_col: str, duration: str, keys: list[str],
             **aggs: Column) -> DataFrame:
    """Tumbling event-time window aggregation, e.g. duration='1 hour'.
    Output carries ``window_start``/``window_end`` timestamps."""
    g = df.groupBy(F.window(ts_col, duration).alias("_w"), *keys)
    out = g.agg(*(e.alias(n) for n, e in aggs.items()))
    return out.select(
        F.col("_w.start").alias("window_start"),
        F.col("_w.end").alias("window_end"),
        *keys,
        *aggs.keys(),
    )


def sliding(df: DataFrame, ts_col: str, duration: str, slide: str,
            keys: list[str], **aggs: Column) -> DataFrame:
    """Sliding (hopping) event-time window; each row lands in
    duration/slide windows."""
    g = df.groupBy(F.window(ts_col, duration, slide).alias("_w"), *keys)
    out = g.agg(*(e.alias(n) for n, e in aggs.items()))
    return out.select(
        F.col("_w.start").alias("window_start"),
        F.col("_w.end").alias("window_end"),
        *keys,
        *aggs.keys(),
    )


def session(df: DataFrame, ts_col: str, gap: str, keys: list[str],
            **aggs: Column) -> DataFrame:
    """Session window (gap-based). Batch mode: Spark computes sessions via
    a sort within key partitions — one shuffle on the keys."""
    g = df.groupBy(F.session_window(ts_col, gap).alias("_w"), *keys)
    out = g.agg(*(e.alias(n) for n, e in aggs.items()))
    return out.select(
        F.col("_w.start").alias("session_start"),
        F.col("_w.end").alias("session_end"),
        *keys,
        *aggs.keys(),
    )


def time_range_rolling(
    df: DataFrame,
    ts_col: str,
    value_col: Column,
    partition_by: list[str],
    lookback_seconds: int,
    out_col: str,
) -> DataFrame:
    """TIME-RANGE rolling aggregate: for each row, the sum of
    ``value_col`` over the partition's rows whose ``ts_col`` lies in
    ``[ts - lookback_seconds, ts]`` — the "spend in the trailing hour"
    feature shape. A RANGE frame over epoch seconds (not a ROWS frame):
    membership depends on the ORDER VALUE, so timestamp ties are all-in
    and the result is deterministic regardless of tie order or
    partitioning. One shuffle on ``partition_by``.
    """
    epoch = F.col(ts_col).cast("long")
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(epoch)
        .rangeBetween(-int(lookback_seconds), 0)
    )
    return df.withColumn(out_col, F.sum(value_col).over(w))


def quantile_bins(
    df: DataFrame,
    n_bins: int,
    order_by: list[tuple[str, str]],
    partition_by: list[str],
    out_col: str = "bin",
) -> DataFrame:
    """Equal-frequency binning via ``ntile(n)`` per partition — the
    exact QuantileDiscretizer. ``order_by`` must end in a unique
    tie-break column for a cross-engine-deterministic assignment.
    One shuffle + in-partition sort; for a GLOBAL binning at 100 TB use
    approxQuantile cut points + a narrow filter instead (a global ntile
    would single-partition the sort)."""
    from spark_ml_showcase_spark.operators.windows import ordered_window

    w = ordered_window(partition_by, order_by)
    return df.withColumn(out_col, F.ntile(n_bins).over(w).cast("bigint"))


def dense_time_buckets(
    df: DataFrame,
    ts_col: str,
    keys: list[str],
    bucket_seconds: int,
    *,
    value_col: Column | None = None,
    count_name: str = "cnt",
    sum_name: str = "total",
) -> DataFrame:
    """GAP-FILLED bucketed time series: per key, one row for EVERY
    ``bucket_seconds`` bucket between the table's min and max event —
    empty buckets included at zero — so downstream rolling/plotting/
    anomaly logic never has to special-case missing periods.

    The spine is ``sequence(min_bucket, max_bucket, step)`` exploded
    from a single aggregated row and cross-joined with the distinct key
    set. The big table is touched EXACTLY ONCE — by the bucket
    aggregation: ``observed`` (buckets × keys, tiny) is materialized
    with ``localCheckpoint`` and the span and key set are derived from
    IT, not re-scanned from ``df`` (ADVICE r7: the previous shape
    re-scanned df for the span min/max and the distinct key set).
    Output: ``(*keys, bucket_epoch, cnt[, total])``.
    """
    epoch = F.col(ts_col).cast("long")
    bucket = (epoch - (epoch % bucket_seconds)).alias("_b")
    aggs = [F.count(F.lit(1)).cast("bigint").alias(count_name)]
    pre = [F.col(k) for k in keys] + [bucket]
    if value_col is not None:
        pre.append(value_col.alias("_v"))
        aggs.append(F.sum("_v").alias(sum_name))
    observed = (
        df.select(*pre).groupBy(*keys, "_b").agg(*aggs).localCheckpoint()
    )

    span = observed.agg(
        F.min("_b").alias("_lo"), F.max("_b").alias("_hi")
    )
    spine = span.select(
        F.explode(
            F.sequence("_lo", "_hi", F.lit(int(bucket_seconds)))
        ).alias("_b")
    )
    key_set = observed.select(*keys).distinct()
    grid = key_set.crossJoin(F.broadcast(spine))
    out = grid.join(observed, [*keys, "_b"], "left")
    fills = [F.coalesce(F.col(count_name), F.lit(0)).cast("bigint").alias(count_name)]
    if value_col is not None:
        fills.append(F.coalesce(F.col(sum_name), F.lit(0)).alias(sum_name))
    return out.select(
        *keys, F.col("_b").alias("bucket_epoch"), *fills
    )


def interpolate_linear(
    df: DataFrame,
    keys: list[str],
    x_col: str,
    y_col: str,
    *,
    round_decimals: int = 6,
) -> DataFrame:
    """Per-key LINEAR INTERPOLATION of a sparse series: rows where
    ``y_col`` is NULL get ``prev_y + (next_y - prev_y) * (x - prev_x) /
    (next_x - prev_x)`` from the nearest non-null neighbors on
    ``x_col``; gaps before the first / after the last observation stay
    NULL. The usual companion of :func:`dense_time_buckets` — gap-fill
    the grid with NULLs, then interpolate values across the gaps.

    Scale posture: ONE shuffle (the per-key window); the four neighbor
    lookups share a single partitioning+sort, so Catalyst plans one
    Exchange + one Sort for all of them. Per-row arithmetic only — no
    UDFs, no self-joins (the classic as-of-join formulation of
    interpolation costs two extra shuffles; the running ignore-nulls
    window is strictly cheaper).

    Output: input columns with ``y_col`` replaced by the filled value
    (rounded to ``round_decimals``) plus ``src`` ∈
    ``observed | interp | edge``.
    """
    y = F.col(y_col)
    wb = (
        Window.partitionBy(*keys)
        .orderBy(x_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wa = (
        Window.partitionBy(*keys)
        .orderBy(x_col)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_x = F.when(y.isNotNull(), F.col(x_col))
    px = F.last(obs_x, ignorenulls=True).over(wb)
    py = F.last(F.when(y.isNotNull(), y), ignorenulls=True).over(wb)
    nx = F.first(obs_x, ignorenulls=True).over(wa)
    ny = F.first(F.when(y.isNotNull(), y), ignorenulls=True).over(wa)
    interp = py + (ny - py) * (F.col(x_col) - px) / (nx - px)
    filled = F.when(y.isNotNull(), y).otherwise(
        F.when(px.isNotNull() & nx.isNotNull(), interp)
    )
    src = F.when(y.isNotNull(), F.lit("observed")).otherwise(
        F.when(
            px.isNotNull() & nx.isNotNull(), F.lit("interp")
        ).otherwise(F.lit("edge"))
    )
    others = [c for c in df.columns if c != y_col]
    return df.select(
        *others,
        round_like_duckdb(filled, round_decimals).alias(y_col),
        src.alias("src"),
    )


def ewma_smooth(
    df: DataFrame,
    keys: list[str],
    x_col: str,
    y_col: str,
    *,
    alpha: float = 0.3,
    round_decimals: int = 6,
) -> DataFrame:
    """Exponentially weighted moving average per key:
    ``ewma_t = alpha*y_t + (1-alpha)*ewma_{t-1}`` over rows ordered by
    ``x_col`` — the one classic smoother whose recurrence SQL windows
    cannot express (every output depends on the full prefix with
    geometric weights), so it runs as ``applyInPandas`` per key with
    pandas' C-side ``ewm`` kernel.

    Scale posture: ONE shuffle keyed by ``keys`` (the groupBy); each
    group is a single series — the natural parallelism unit; batch
    arithmetic is vectorized C, no Python-per-row work. Output: input
    columns + ``ewma`` (rounded).
    """
    import pandas as pd

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", ewma double"

    def smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(x_col, kind="mergesort")
        pdf["ewma"] = (
            pdf[y_col].ewm(alpha=alpha, adjust=False).mean()
            .round(round_decimals)
        )
        return pdf

    return df.groupBy(*keys).applyInPandas(smooth, schema=out_schema)
