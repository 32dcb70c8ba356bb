"""Ingest-time data-layout clustering for scan pruning: 1-D range
clustering and multi-column Z-ORDER, plus materialized clustered copies
of the events table with a row-group-statistics skipping proof.

Not in the reference (its inputs are given files); this is the
Delta/Iceberg `OPTIMIZE ... ZORDER BY` capability re-expressed with
plain Spark + parquet. Why it matters at 100 TB: parquet scans skip
whole row groups whose min/max statistics exclude the pushed-down
predicate. That skipping is only effective if rows are LAID OUT so each
file/row-group covers a narrow slice of the predicate column —
`repartitionByRange + sortWithinPartitions` buys exactly that for one
column, and a Z-order key buys it for several columns at once (each
file covers a small hyper-rectangle, so a selective band on ANY of the
clustered columns excludes most files). `tests/test_clustering.py`
measures it from the written parquet footers: the fraction of files
whose [min, max] intersects a narrow band is ~band/domain under the
clustered layout and ~1.0 under the source layout.

Scale posture: clustering is ONE ingest-time range shuffle (Spark's
RangePartitioner samples boundaries, so skewed key densities still
yield balanced partitions) + an in-partition sort; every later query
pays zero. The Z-key quantizes each column with min/max linear buckets
(one tiny agg pass) — for heavily skewed columns pass explicit
``boundaries`` (e.g. from ``approxQuantile``) so buckets equalize mass;
the interleave itself is pure JVM bit arithmetic inside codegen.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_ml_showcase_spark.sources import io


def range_cluster(df: DataFrame, cols: list[str], n_partitions: int) -> DataFrame:
    """Range-partition + in-partition sort on ``cols`` — the 1-D layout:
    file i holds the i-th slice of the sort order, so min/max footer
    stats are tight on the leading column."""
    return df.repartitionByRange(n_partitions, *cols).sortWithinPartitions(*cols)


def _bucket(col: Column, lo: float, hi: float, bits: int) -> Column:
    """Linear quantization of ``col`` into [0, 2^bits): floor-scaled
    from the [lo, hi] range, clamped at both ends (values at hi land in
    the top bucket; NULLs land in bucket 0 so they cluster together)."""
    n = 1 << bits
    if hi <= lo:  # constant column: every row in bucket 0
        return F.lit(0).cast("bigint")
    scaled = F.floor(
        (col.cast("double") - F.lit(float(lo)))
        / F.lit(float(hi - lo))
        * F.lit(float(n))
    ).cast("bigint")
    return F.coalesce(
        F.greatest(F.lit(0), F.least(F.lit(n - 1), scaled)), F.lit(0)
    ).cast("bigint")


def zorder_key(
    df: DataFrame,
    cols: list[str],
    *,
    bits: int = 8,
    stats: dict[str, tuple[float, float]] | None = None,
) -> Column:
    """Z-order (Morton) key over ``cols``: quantize each column to
    ``bits`` bits, then interleave the bits so nearby keys are nearby in
    EVERY dimension. ``stats`` supplies (lo, hi) per column; omitted
    stats are computed with one small min/max aggregation (at real
    scale, reuse table-level stats or feed quantile bounds for skew).

    Pure column expression — shifts/ors inside whole-stage codegen, no
    UDF, no shuffle of its own.
    """
    if not cols:
        raise ValueError("zorder_key needs at least one column")
    if bits * len(cols) > 63:
        raise ValueError(f"bits*n_cols must fit a signed long, got {bits}*{len(cols)}")
    stats = dict(stats or {})
    missing = [c for c in cols if c not in stats]
    if missing:
        row = df.agg(
            *[F.min(F.col(c).cast("double")).alias(f"_lo_{c}") for c in missing],
            *[F.max(F.col(c).cast("double")).alias(f"_hi_{c}") for c in missing],
        ).first()
        for c in missing:
            lo, hi = row[f"_lo_{c}"], row[f"_hi_{c}"]
            stats[c] = (
                float(lo) if lo is not None else 0.0,
                float(hi) if hi is not None else 0.0,
            )
    buckets = [
        _bucket(F.col(c), stats[c][0], stats[c][1], bits) for c in cols
    ]
    z = F.lit(0).cast("bigint")
    for b in range(bits):
        for i, bucket in enumerate(buckets):
            bit = F.shiftright(bucket, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * len(buckets) + i))
    return z


def zorder_cluster(
    df: DataFrame,
    cols: list[str],
    n_partitions: int,
    *,
    bits: int = 8,
    stats: dict[str, tuple[float, float]] | None = None,
) -> DataFrame:
    """Cluster ``df`` by the Z-order key of ``cols``: range-partition +
    sort on the key, then drop it (the layout IS the product)."""
    keyed = df.withColumn("_z", zorder_key(df, cols, bits=bits, stats=stats))
    return (
        keyed.repartitionByRange(n_partitions, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )


def materialize_events_clustered(
    spark: SparkSession,
    sf_dir: str,
    *,
    mode: str = "value_range",
    n_partitions: int = 8,
) -> str:
    """Materialize a clustered copy of ``events`` — ``value_range``
    (1-D on ``value``) or ``zorder_value_user`` (Z-order on
    ``(value, user_id)``). Built once per process and per source content
    (``io.staged_dir``), like the other materializers. Returns the path.
    """
    from spark_ml_showcase_spark.sources.catalog import Catalog

    if mode == "value_range":
        def layout(df: DataFrame) -> DataFrame:
            return range_cluster(df, ["value"], n_partitions)
    elif mode == "zorder_value_user":
        def layout(df: DataFrame) -> DataFrame:
            return zorder_cluster(df, ["value", "user_id"], n_partitions)
    else:
        raise ValueError(f"unknown clustering mode {mode!r}")

    def build(path: str) -> None:
        io.write_parquet(layout(Catalog(spark, sf_dir).events), path)

    return io.staged_dir(
        f"clustered_{mode}",
        os.path.join(sf_dir, "events.parquet"),
        build,
        key=str(n_partitions),
    )
