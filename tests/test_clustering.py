"""Data-layout clustering (operators/clustering.py): Z-key algebra,
losslessness of the clustered rewrites, and the actual skipping payoff
measured from the written parquet footers."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from spark_ml_showcase_spark.operators import clustering

SF = "/root/testdata/sf0.001"


def file_band_overlap(path: str, col: str, lo: float, hi: float) -> tuple[int, int]:
    """Skipping observable: (files whose footer [min, max] on ``col``
    intersects [lo, hi], total files) — read from parquet metadata only,
    no data pages. This is exactly the statistic the scan's row-group
    pruning consults, so the tests below measure the skipping payoff of
    each clustered layout with it."""
    import pyarrow.parquet as pq

    touched = total = 0
    for root, _, files in os.walk(path):
        for f in sorted(files):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(root, f)).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            if col not in idx:
                raise KeyError(f"{col!r} not in {sorted(idx)}")
            fmin = fmax = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[col]).statistics
                if st is None or not st.has_min_max:
                    fmin, fmax = float("-inf"), float("inf")
                    break
                fmin = st.min if fmin is None else min(fmin, st.min)
                fmax = st.max if fmax is None else max(fmax, st.max)
            if fmin is None:
                continue  # empty file
            total += 1
            if fmax >= lo and fmin <= hi:
                touched += 1
    return touched, total


def test_zorder_key_interleaves_known_bits(spark):
    # 2 cols, 2 bits, stats pinned so buckets are the raw values:
    # x=0b10, y=0b01 → z bits (b,i): b0: x→pos0=0? x bit0=0, y bit0=1→pos1
    # b1: x bit1=1→pos2, y bit1=0 → z = 0b0110 = 6
    df = spark.createDataFrame([(2.0, 1.0)], "x double, y double")
    z = df.select(
        clustering.zorder_key(
            df, ["x", "y"], bits=2, stats={"x": (0.0, 4.0), "y": (0.0, 4.0)}
        ).alias("z")
    ).first()["z"]
    assert z == 6


def test_zorder_key_locality_beats_concat(spark):
    """Points close in BOTH dims get close z keys; points far in either
    dim get far keys (the property concatenated sort keys lack)."""
    pts = [(10.0, 10.0), (11.0, 11.0), (10.0, 200.0), (200.0, 10.0)]
    df = spark.createDataFrame(pts, "x double, y double")
    stats = {"x": (0.0, 256.0), "y": (0.0, 256.0)}
    zs = [
        r["z"]
        for r in df.select(
            clustering.zorder_key(df, ["x", "y"], bits=8, stats=stats).alias("z")
        ).collect()
    ]
    near = abs(zs[0] - zs[1])
    far = min(abs(zs[0] - zs[2]), abs(zs[0] - zs[3]))
    assert near < far


def test_zorder_key_null_and_constant_safe(spark):
    df = spark.createDataFrame(
        [(None, 5.0), (1.0, 5.0)], "x double, y double"
    )
    vals = df.select(
        clustering.zorder_key(df, ["x", "y"], bits=4).alias("z")
    ).collect()
    assert all(r["z"] is not None and r["z"] >= 0 for r in vals)


def test_zorder_key_validations(spark):
    df = spark.createDataFrame([(1.0,)], "x double")
    with pytest.raises(ValueError):
        clustering.zorder_key(df, [], bits=4)
    with pytest.raises(ValueError):
        clustering.zorder_key(df, ["x"] * 8, bits=8)  # 64 bits > signed long


def test_clustered_rewrites_lossless(spark):
    from spark_ml_showcase_spark.sources.catalog import Catalog

    ev = Catalog(spark, SF).events
    src = sorted(r["event_id"] for r in ev.select("event_id").collect())
    for mode in ("value_range", "zorder_value_user"):
        path = clustering.materialize_events_clustered(spark, SF, mode=mode)
        got = sorted(
            r["event_id"]
            for r in spark.read.parquet(path).select("event_id").collect()
        )
        assert got == src, mode


def test_range_cluster_files_skip_value_band(spark):
    path = clustering.materialize_events_clustered(
        spark, SF, mode="value_range"
    )
    touched, total = file_band_overlap(path, "value", 200.0, 300.0)
    assert total >= 4
    # band is ~20% of the domain: a clustered layout touches a strict
    # minority of files; the unclustered source would touch all of them.
    assert touched / total <= 0.5, (touched, total)
    src_touched, src_total = file_band_overlap(
        "/root/testdata/sf0.001/events.parquet", "value", 200.0, 300.0
    )
    assert src_touched == src_total  # no layout → no skipping


def test_zorder_files_skip_bands_in_both_dims(spark):
    """The Z-layout must prune on EITHER clustered column — the whole
    point vs 1-D range clustering (which prunes only its sort column)."""
    zpath = clustering.materialize_events_clustered(
        spark, SF, mode="zorder_value_user"
    )
    vt, total = file_band_overlap(zpath, "value", 200.0, 300.0)
    # user_id domain: read it from the data to band ~20%
    from spark_ml_showcase_spark.sources.catalog import Catalog

    ev = Catalog(spark, SF).events
    lo, hi = ev.agg(F.min("user_id"), F.max("user_id")).first()
    span = (hi - lo) or 1
    ut, total2 = file_band_overlap(
        zpath, "user_id", lo + 0.4 * span, lo + 0.6 * span
    )
    assert total >= 4 and total2 == total
    assert vt < total, (vt, total)
    assert ut < total, (ut, total)

    # and the 1-D value layout does NOT prune user bands
    vpath = clustering.materialize_events_clustered(
        spark, SF, mode="value_range"
    )
    u1, t1 = file_band_overlap(
        vpath, "user_id", lo + 0.4 * span, lo + 0.6 * span
    )
    assert u1 == t1


def test_band_filter_is_pushed_to_scan(spark):
    path = clustering.materialize_events_clustered(
        spark, SF, mode="value_range"
    )
    plan = (
        spark.read.parquet(path)
        .filter((F.col("value") >= 200) & (F.col("value") < 300))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan and "GreaterThanOrEqual(value,200" in plan
