"""Temporal/range join queries (engine surface the reference lacks;
SURVEY.md §2.6 "not present" list). Both are custom COMPOSITIONS of
built-in operators — no Catalyst changes:

- as-of join = tag + unionByName + last(ignorenulls) over an ordered
  window: ONE shuffle on the join key, no range cross-product;
- range join (bucketed) = interval side exploded onto a grid → hash
  equi-join on bucket id + residual filter.

DuckDB has native ASOF JOIN and practical inequality joins, so both are
fully oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_ml_showcase_spark.operators import joins
from spark_ml_showcase_spark.functions.rounding import round_like_duckdb
from spark_ml_showcase_spark.plans import query
from spark_ml_showcase_spark.sources.catalog import Catalog
from spark_ml_showcase_spark.sources.local import local_frame


# As-of join: each purchase matched to the user's latest prior-or-equal
# click. Oracle: DuckDB native ASOF JOIN (>= semantics, matching the
# operator's tie rule: a right row at the same instant is visible).
@query(
    "asof_join_purchase_click",
    oracle="""
    SELECT p.event_id AS purchase_id,
           CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_sec,
           CAST(floor(epoch(c.ts)) AS BIGINT) AS click_sec,
           c.value AS click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_join_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = Catalog(spark, sf_dir).events
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    out = joins.as_of_join(
        purchases,
        clicks,
        on="user_id",
        left_time="ts",
        right_time="click_ts",
        right_cols=["click_ts", "click_value"],
    )
    return out.select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").cast("long").alias("purchase_sec"),
        F.col("click_ts").cast("long").alias("click_sec"),
        "click_value",
    )


# Bucketed range join: event values binned into value bands via the
# grid-bucketed equi-join (the scalable form; naive cartesian-with-filter
# is the fallback the operator documents).
_BANDS = [
    ("tiny", 0.0, 50.0),
    ("small", 50.0, 120.0),
    ("medium", 120.0, 250.0),
    ("large", 250.0, 500.0),
]


@query(
    "range_join_value_bands",
    oracle="""
    WITH bands(band, lo, hi) AS (
        VALUES ('tiny', 0.0, 50.0), ('small', 50.0, 120.0),
               ('medium', 120.0, 250.0), ('large', 250.0, 500.0)
    )
    SELECT b.band AS band, COUNT(*) AS n,
           CAST(SUM(CAST(e.value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
    FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.band ORDER BY band
    """,
)
def range_join_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = Catalog(spark, sf_dir).events
    bands = local_frame(spark, _BANDS, "band string, lo double, hi double")
    joined = joins.range_join(
        ev, bands, "value", "lo", "hi", bucket_width=50.0
    )
    return (
        joined.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("total_value"),
        )
        .orderBy("band")
    )


# Skew-salted join: the salting transform (scatter the big side across
# salt_buckets, explode the small side) must preserve inner-join
# semantics EXACTLY — the oracle is the plain SQL join, so any
# row-duplication or loss in the salt/explode plumbing fails the hash.
# events.event_type has only ~5 values: the canonical skewed-key shape
# a 100 TB job hits (every row of one type lands on one reducer unless
# salted or AQE-split).
@query(
    "salted_join_event_types",
    oracle="""
    WITH dim(event_type, weight) AS (
        VALUES ('click', 1.0), ('view', 0.5), ('purchase', 10.0),
               ('signup', 2.0)
    )
    SELECT e.event_type AS event_type, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(e.value AS DECIMAL(28,6))
                          * CAST(d.weight AS DECIMAL(28,6))), 2)
                AS DOUBLE) AS weighted_value
    FROM events e JOIN dim d ON e.event_type = d.event_type
    GROUP BY e.event_type ORDER BY event_type
    """,
)
def salted_join_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = Catalog(spark, sf_dir).events
    dim = local_frame(
        spark,
        # 'error' intentionally absent: the inner join must also FILTER
        [("click", 1.0), ("view", 0.5), ("purchase", 10.0), ("signup", 2.0)],
        "event_type string, weight double",
    )
    joined = joins.salted_join(ev, dim, "event_type", salt_buckets=8)
    return (
        joined.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # decimal-domain ROUND before the double cast: the scale-12
            # product sum's int representation exceeds 2^53 long before
            # the value is big (r8 tpch_q1 incident)
            F.round(
                F.sum(
                    F.col("value").cast("decimal(28,6)")
                    * F.col("weight").cast("decimal(28,6)")
                ),
                2,
            )
            .cast("double")
            .alias("weighted_value"),
        )
        .orderBy("event_type")
    )


# W1 extensions: percent_rank + ntile over per-user spend — the analytic
# window surface beyond row_number/lag (SURVEY §2.10).
@query(
    "user_spend_percentiles",
    oracle="""
    SELECT user_id,
           ROUND(percent_rank() OVER (ORDER BY total, user_id), 6) AS pct_rank,
           CAST(ntile(10) OVER (ORDER BY total, user_id) AS BIGINT) AS decile
    FROM (
        SELECT user_id, CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total
        FROM events GROUP BY user_id
    ) ORDER BY user_id
    """,
)
def user_spend_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = Catalog(spark, sf_dir).events
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("total")
    )
    # Global window over the small AGGREGATED set (|users| rows), not the
    # raw events — single-partition is fine at this cardinality.
    w = Window.orderBy("total", "user_id")
    return per_user.select(
        "user_id",
        round_like_duckdb(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.ntile(10).over(w).cast("bigint").alias("decile"),
    ).orderBy("user_id")


# TPC-H Q3 shape (shipping priority): selective filters on all THREE
# join inputs (pushed to the parquet scans), a 3-way join where the
# filtered customer side is broadcast-small, partial-aggregated revenue
# per order, and a top-10 via TakeOrderedAndProject — the canonical
# "filter early, broadcast the small side, never full-sort for a LIMIT"
# plan. Money math is decimal-exact per the module convention; revenue
# ties break on orderkey so the LIMIT is a total order.
@query(
    "shipping_priority_top10",
    oracle="""
    SELECT l.l_orderkey AS orderkey,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
           o.o_orderpriority AS priority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
    GROUP BY 1, 3, 4
    ORDER BY revenue DESC, orderkey ASC
    LIMIT 10
    """,
)
def shipping_priority_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    cutoff = "TIMESTAMP_NTZ '1998-06-01 00:00:00'"
    c = cat.customer.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey"
    )
    o = cat.orders.filter(F.col("o_orderdate") < F.expr(cutoff)).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    li = cat.lineitem.filter(F.col("l_shipdate") > F.expr(cutoff)).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(28,6)"
    )
    # the segment-filtered 1-column customer projection is the small
    # side at any scale factor (1/5 of customers, 8 bytes each) —
    # broadcast it; orders⋈lineitem stays a shuffle join (both fact-
    # sized at 100 TB) with the date filters already pushed to the scans
    return (
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select(
            F.col("l_orderkey").alias("orderkey"),
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.col("o_orderpriority").alias("priority"),
        )
        .orderBy(F.desc("revenue"), F.asc("orderkey"))
        .limit(10)
    )


# TPC-H Q5 shape (local supplier volume): the 6-way join whose defining
# feature is the CYCLE-closing second equi-condition — supplier joins on
# l_suppkey AND must share the customer's nation — so revenue counts
# only order lines fulfilled by a supplier in the customer's own nation.
# region/nation/supplier broadcast (fixed-size / sub-linear dims);
# customer⋈orders⋈lineitem are the shuffle joins that carry the scale.
@query(
    "local_supplier_volume_asia",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY 1
    ORDER BY revenue DESC, nation
    """,
)
def local_supplier_volume_asia(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    c = cat.customer.select("c_custkey", "c_nationkey")
    o = cat.orders.filter(
        (F.col("o_orderdate") >= F.expr("TIMESTAMP_NTZ '1997-01-01 00:00:00'"))
        & (F.col("o_orderdate") < F.expr("TIMESTAMP_NTZ '1999-01-01 00:00:00'"))
    ).select("o_orderkey", "o_custkey")
    li = cat.lineitem.select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = cat.supplier.select("s_suppkey", "s_nationkey")
    n = cat.nation.select("n_nationkey", "n_name", "n_regionkey")
    r = cat.region.filter(F.col("r_name") == "ASIA").select("r_regionkey")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(28,6)"
    )
    return (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.desc("revenue"), F.asc("nation"))
    )


# TPC-H Q1 shape (pricing summary): the canonical wide-aggregate scan —
# one pass over lineitem, filter pushed to the scan, eight aggregates
# per (returnflag, linestatus) group with map-side partial agg. Money
# math decimal-exact; averages = decimal sum / count, rounded at 6dp on
# both engines.
@query(
    "tpch_q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
           -- ROUND in the DECIMAL domain before every big-money DOUBLE
           -- cast (r8): DuckDB's decimal->double cast double-rounds
           -- (double(int128)/double(10^s)), so any sum whose integer
           -- representation exceeds 2^53 can land one ulp off Spark's
           -- correctly-rounded BigDecimal cast. Rounding to scale 2
           -- keeps the int value < 2^53 at any plausible SF (and is
           -- EXACT for sums of 2-decimal prices); the scale-2 decimal
           -- then casts to the same double on both engines.
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(28,6))), 2)
                AS DOUBLE) AS sum_base_price,
           -- narrow input scales so decimal products stay EXACT on both
           -- engines: (12,2)x(9,6)x(9,6) -> width ≤32, scale 14 — wide
           -- (28,6) products overflow 38 digits and each engine
           -- truncates row-products differently, and width ≤18 inputs
           -- hit DuckDB's int64 multiply overflow
           CAST(ROUND(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                         * CAST(1 - l_discount AS DECIMAL(8,6))
                         AS DECIMAL(20,8))), 2) AS DOUBLE)
               AS sum_disc_price,
           CAST(ROUND(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                         * CAST(1 - l_discount AS DECIMAL(8,6))
                         AS DECIMAL(20,8))
                    * CAST(1 + l_tax AS DECIMAL(8,6))), 2) AS DOUBLE)
               AS sum_charge,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_price,
           ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(28,6))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) <= DATE '1998-12-01'
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).lineitem.filter(
        F.to_date("l_shipdate") <= F.lit("1998-12-01")
    )
    dec = lambda c: F.col(c).cast("decimal(28,6)")  # noqa: E731
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            # decimal-domain ROUND before the double cast — see the
            # oracle comment (DuckDB double-rounds wide decimal casts)
            F.round(F.sum(dec("l_extendedprice")), 2)
            .cast("double")
            .alias("sum_base_price"),
            # see oracle note: narrow scales keep the products exact
            F.round(
                F.sum(
                    (
                        F.col("l_extendedprice").cast("decimal(12,2)")
                        * (F.lit(1) - F.col("l_discount")).cast("decimal(8,6)")
                    ).cast("decimal(20,8)")
                ),
                2,
            )
            .cast("double")
            .alias("sum_disc_price"),
            F.round(
                F.sum(
                    (
                        F.col("l_extendedprice").cast("decimal(12,2)")
                        * (F.lit(1) - F.col("l_discount")).cast("decimal(8,6)")
                    ).cast("decimal(20,8)")
                    * (F.lit(1) + F.col("l_tax")).cast("decimal(8,6)")
                ),
                2,
            )
            .cast("double")
            .alias("sum_charge"),
            round_like_duckdb(
                F.sum(dec("l_quantity")).cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_qty"),
            round_like_duckdb(
                F.sum(dec("l_extendedprice")).cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_price"),
            round_like_duckdb(
                F.sum(dec("l_discount")).cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# TPC-H Q6 shape (forecast revenue change): the pure filter-and-sum —
# every predicate reaches the parquet scan (PushedFilters), zero joins,
# one partial+final agg. The narrowest possible plan for a 100 TB scan.
@query(
    "tpch_q6_forecast_revenue",
    oracle="""
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_discount AS DECIMAL(8,6))), 2) AS DOUBLE)
               AS revenue
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
      AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
      AND l_discount BETWEEN 0.04 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).lineitem
    # narrow product scales + decimal-domain ROUND before the double
    # cast — same convention as Q1 (r8: wide products truncate
    # differently per engine, and DuckDB double-rounds wide casts)
    return li.filter(
        (F.to_date("l_shipdate") >= F.lit("1996-01-01"))
        & (F.to_date("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount") >= 0.04)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)")
                * F.col("l_discount").cast("decimal(8,6)")
            ),
            2,
        )
        .cast("double")
        .alias("revenue")
    )


# TPC-H Q18 shape (large-volume customer): the aggregated IN-subquery —
# qualifying orderkeys come from a HAVING over lineitem, then re-join
# orders + customer + lineitem for the detail rows. Spark plans the IN
# as a LEFT SEMI join on the aggregated frame (no correlated re-scan);
# the qualifying set is tiny (top ~1% of orders), so AQE broadcasts it
# into both fact joins. Dates travel as epoch-day BIGINTs.
@query(
    "tpch_q18_large_volume_orders",
    oracle="""
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           CAST(CAST(o.o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS order_epoch_day,
           o.o_totalprice,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(28,6))) AS DOUBLE)
               AS total_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING SUM(l_quantity) > 280
    )
    GROUP BY 1, 2, 3, 4, 5
    ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 100
    """,
)
def tpch_q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    li = cat.lineitem
    orders = cat.orders
    qualifying = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_sq"))
        .filter(F.col("_sq") > 280)
        .select(F.col("l_orderkey").alias("_qk"))
    )
    o = orders.join(
        qualifying, orders["o_orderkey"] == qualifying["_qk"], "left_semi"
    )
    joined = (
        cat.customer.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
    )
    return (
        joined.groupBy(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
            .cast("bigint")
            .alias("order_epoch_day"),
            "o_totalprice",
        )
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(28,6)"))
            .cast("double")
            .alias("total_qty")
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


# TPC-H Q4 shape (order priority checking): correlated EXISTS through
# the SQL surface, planned as a LEFT SEMI join (no per-order re-scan of
# lineitem). Counts orders in a date window having at least one line
# item, per priority.
@query(
    "tpch_q4_priority_check",
    oracle="""
    SELECT o_orderpriority AS priority, CAST(COUNT(*) AS BIGINT) AS n
    FROM orders o
    WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
      AND CAST(o_orderdate AS DATE) < DATE '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_quantity > 45)
    GROUP BY 1 ORDER BY 1
    """,
)
def tpch_q4_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    Catalog(spark, sf_dir).register_views()
    return spark.sql(
        """
        SELECT o_orderpriority AS priority, CAST(COUNT(*) AS BIGINT) AS n
        FROM orders o
        WHERE TO_DATE(o_orderdate) >= DATE '1996-01-01'
          AND TO_DATE(o_orderdate) < DATE '1996-07-01'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_quantity > 45)
        GROUP BY 1 ORDER BY 1
        """
    )


# Batch interval-overlap join (round 8): every (view, purchase) pair of
# the same user whose 30-minute activity windows intersect, plus the
# overlap length. The operator grid-buckets both sides onto 1800 s
# cells and emits each pair exactly once from its reporting cell (the
# intersection start), so there is ONE shuffle on (user_id, cell) and
# no post-join distinct — the naive theta-join this replaces is a
# cartesian per user. Epoch-second BIGINT math end to end.
@query(
    "interval_overlap_view_purchase",
    oracle="""
    WITH v AS (
        SELECT user_id, event_id AS view_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS vs
        FROM events WHERE event_type = 'view'
    ),
    p AS (
        SELECT user_id AS pu, event_id AS purchase_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS ps
        FROM events WHERE event_type = 'purchase'
    )
    SELECT v.user_id, v.view_id, p.purchase_id,
           CAST(LEAST(v.vs + 1800, p.ps + 1800)
                - GREATEST(v.vs, p.ps) AS BIGINT) AS overlap_sec
    FROM v JOIN p
      ON v.user_id = p.pu
     AND v.vs < p.ps + 1800
     AND p.ps < v.vs + 1800
    ORDER BY user_id, view_id, purchase_id
    """,
)
def interval_overlap_view_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from spark_ml_showcase_spark.operators.intervals import (
        interval_overlap_join,
    )

    ev = Catalog(spark, sf_dir).events
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").cast("long").alias("vs"),
        (F.col("ts").cast("long") + 1800).alias("ve"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").cast("long").alias("ps"),
        (F.col("ts").cast("long") + 1800).alias("pe"),
    )
    pairs = interval_overlap_join(
        views,
        purchases,
        "vs",
        "ve",
        "ps",
        "pe",
        bucket_width=1800,
        on=["user_id"],
    )
    return (
        pairs.select(
            "user_id",
            "view_id",
            "purchase_id",
            (
                F.least(F.col("ve"), F.col("pe"))
                - F.greatest(F.col("vs"), F.col("ps"))
            )
            .cast("bigint")
            .alias("overlap_sec"),
        )
        .orderBy("user_id", "view_id", "purchase_id")
    )


# X57: incremental JOIN-view maintenance — three fact batches and two
# synthetic dimension updates folded through the delta algebra
# (operators/ivm.py); the final view must hash-match the one-shot join
# of ALL orders against the FINAL customer state, which is exactly
# what the oracle computes. Updates are arithmetic (segment overwrite
# for custkey % 10, balance bump for custkey % 7) so both engines
# derive identical final dimension attributes.
@query(
    "ivm_orders_customer_view",
    oracle="""
    WITH final_dim AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 10 = 0 THEN 'UPDATED'
                    ELSE c_mktsegment END AS segment,
               CASE WHEN c_custkey % 7 = 0
                    THEN CAST(CAST(c_acctbal AS DECIMAL(20,2))
                              + 100.00 AS DOUBLE)
                    ELSE c_acctbal END AS balance
        FROM customer
    )
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice,
           d.segment, d.balance
    FROM orders o JOIN final_dim d ON o.o_custkey = d.c_custkey
    """,
)
def ivm_orders_customer_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_ml_showcase_spark.operators.ivm import join_view_fold

    cat = Catalog(spark, sf_dir)
    orders = cat.orders.select("o_orderkey", "o_custkey", "o_totalprice")
    cust = cat.customer

    def batch(i: int) -> DataFrame:
        return orders.filter(F.col("o_orderkey") % 3 == i).withColumnRenamed(
            "o_custkey", "c_custkey"
        )

    d0 = cust.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").alias("balance"),
    )
    d1 = d0.withColumn(
        "segment",
        F.when(F.col("c_custkey") % 10 == 0, F.lit("UPDATED")).otherwise(
            F.col("segment")
        ),
    )
    d2 = d1.withColumn(
        "balance",
        F.when(
            F.col("c_custkey") % 7 == 0,
            (
                F.col("balance").cast("decimal(20,2)")
                + F.lit(100).cast("decimal(20,2)")
            ).cast("double"),
        ).otherwise(F.col("balance")),
    )
    ch1 = cust.filter(F.col("c_custkey") % 10 == 0).select("c_custkey")
    ch2 = cust.filter(F.col("c_custkey") % 7 == 0).select("c_custkey")
    view = join_view_fold(
        [(batch(0), d0, None), (batch(1), d1, ch1), (batch(2), d2, ch2)],
        key="c_custkey",
    )
    return view.select(
        "o_orderkey",
        F.col("c_custkey").alias("o_custkey"),
        "o_totalprice",
        "segment",
        "balance",
    )
