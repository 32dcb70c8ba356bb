"""Window-operator unit tests (SURVEY.md §2.10 W1/W2) + registry
integrity for the driver contract."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_ml_showcase_spark.operators import windows


def _df(spark):
    return spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 5.0), ("b", 1, 7.0)],
        "k string, seq bigint, v double",
    )


def test_tumbling_sliding_session_builders(spark):
    df = spark.createDataFrame(
        [(1, 0), (2, 1800), (3, 3600), (4, 9000)], "id bigint, t bigint"
    ).withColumn("ts", F.timestamp_seconds("t"))
    tum = windows.tumbling(df, "ts", "1 hour", [], n=F.count(F.lit(1)))
    assert sorted(r.n for r in tum.collect()) == [1, 1, 2]
    sli = windows.sliding(df, "ts", "1 hour", "30 minutes", [], n=F.count(F.lit(1)))
    # each row lands in 2 windows → total n across windows = 8
    assert sum(r.n for r in sli.collect()) == 8
    ses = windows.session(df, "ts", "30 minutes", [], n=F.count(F.lit(1)))
    # 1800-gap events merge (touching); 3600 touches 1800's window end?
    # [1800, 3600) ends exactly at 3600 → merges again; 9000 separate.
    assert sorted(r.n for r in ses.collect()) == [1, 3]


def test_registry_integrity():
    import __spark_entry__ as e

    qs, orc = e.queries(), e.oracle_sql()
    # every oracle belongs to a registered query; names unique; callables
    assert set(orc) <= set(qs)
    assert all(callable(fn) for fn in qs.values())
    assert all(isinstance(s, str) and "SELECT" in s.upper() for s in orc.values())
    # entry() contract: returns a DataFrame plan without executing
    assert len(qs) >= 70


def test_time_range_rolling_includes_lookback_and_ties(spark):
    import datetime as dt

    from spark_ml_showcase_spark.operators import windows as W

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, 1, base - dt.timedelta(seconds=4000), 10.0),  # outside lookback
        (2, 1, base - dt.timedelta(seconds=3600), 20.0),  # boundary: IN
        (3, 1, base, 30.0),
        (4, 1, base, 40.0),  # tie with row 3: RANGE frame takes both
        (5, 2, base, 99.0),  # other partition
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    out = W.time_range_rolling(
        df, "ts", F.col("value"), ["user_id"], 3600, "roll"
    )
    got = {r["event_id"]: r["roll"] for r in out.collect()}
    # rows 3 AND 4 share a ts: both frames include both tied rows
    assert got[3] == got[4] == 20.0 + 30.0 + 40.0
    assert got[2] == 10.0 + 20.0  # 4000s-old row within ITS OWN window
    assert got[5] == 99.0


def test_quantile_bins_equal_frequency(spark):
    from spark_ml_showcase_spark.operators import windows as W

    df = spark.createDataFrame(
        [(i, "a", float(i)) for i in range(8)], "id long, g string, v double"
    )
    out = W.quantile_bins(df, 4, [("v", "asc"), ("id", "asc")], ["g"])
    by_bin = {}
    for r in out.collect():
        by_bin.setdefault(r["bin"], []).append(r["v"])
    assert {b: len(v) for b, v in by_bin.items()} == {1: 2, 2: 2, 3: 2, 4: 2}
    assert sorted(by_bin[1]) == [0.0, 1.0] and sorted(by_bin[4]) == [6.0, 7.0]


def test_dense_time_buckets_zero_fills_gaps(spark):
    import datetime as dt

    from spark_ml_showcase_spark.operators import windows as W

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        ("a", base, 1.0),
        ("a", base + dt.timedelta(hours=3), 2.0),  # hours 1-2 empty for a
        ("b", base + dt.timedelta(hours=1), 5.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    out = W.dense_time_buckets(df, "ts", ["k"], 3600, value_col=F.col("v"))
    got = {(r["k"], r["bucket_epoch"]): (r["cnt"], r["total"]) for r in out.collect()}
    lo = int(base.replace(tzinfo=dt.timezone.utc).timestamp())
    # 4 hourly buckets (span hours 0..3) × 2 keys = 8 rows, gaps at zero
    assert len(got) == 8
    assert got[("a", lo)] == (1, 1.0)
    assert got[("a", lo + 3600)] == (0, 0)
    assert got[("a", lo + 2 * 3600)] == (0, 0)
    assert got[("a", lo + 3 * 3600)] == (1, 2.0)
    assert got[("b", lo + 3600)] == (1, 5.0)
    assert got[("b", lo + 3 * 3600)] == (0, 0)
