"""Coverage queries for operators that existed as library surface but had
no CORRECTNESS entry (VERDICT r1 §"What's missing" item 9/10): O3 top-1,
O4 sorted prefix, semi/outer joins, the approx-count-distinct scale path,
the parquet sink (S5), and the cache hint (S4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_ml_showcase_spark.operators import joins, topk
from spark_ml_showcase_spark.functions.rounding import round_like_duckdb
from spark_ml_showcase_spark.plans import query
from spark_ml_showcase_spark.sources import io
from spark_ml_showcase_spark.sources.catalog import Catalog


# O3: top-1 under a total order (als_clustering_analysis.py:123-125
# `.first()`), kept as a 1-row DataFrame for the driver contract.
@query(
    "top1_order",
    oracle="""
    SELECT o_orderkey AS order_key, o_totalprice AS total_price
    FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 1
    """,
)
def top1_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = Catalog(spark, sf_dir).orders
    return topk.top_k(
        orders.select(
            F.col("o_orderkey").alias("order_key"),
            F.col("o_totalprice").alias("total_price"),
        ),
        1,
        [("total_price", "desc"), ("order_key", "asc")],
    )


# O4: sorted prefix — first 100 orders by date with a unique tie-break
# (als_clustering_analysis.py:47-48 sort+limit). TakeOrderedAndProject.
@query(
    "sorted_prefix_orders",
    oracle="""
    SELECT o_orderkey AS order_key,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date
    FROM orders ORDER BY o_orderdate ASC, o_orderkey ASC LIMIT 100
    """,
)
def sorted_prefix_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = Catalog(spark, sf_dir).orders
    pref = topk.sorted_prefix(
        orders, 100, [("o_orderdate", "asc"), ("o_orderkey", "asc")]
    )
    # o_orderdate is TIMESTAMP_NTZ: compare as a wall-clock date string,
    # which is timezone-independent on both engines.
    return pref.select(
        F.col("o_orderkey").alias("order_key"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
    )


# J+: left-semi join — customers that have ≥1 urgent order (EXISTS), the
# idiomatic form of the reference's join+distinct membership check
# (als_clustering_analysis.py:127-129).
@query(
    "semi_join_urgent_customers",
    oracle="""
    SELECT c_custkey AS c_custkey, c_name AS c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
    """,
)
def semi_join_urgent_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    urgent = cat.orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return joins.semi_join(cat.customer, urgent, "c_custkey").select(
        "c_custkey", "c_name"
    )


# J+: left-outer join preserved through aggregation — customers per nation
# INCLUDING order-less nations (count(col) null semantics: count skips
# the null-extended rows).
@query(
    "outer_join_nation_customers",
    oracle="""
    SELECT n.n_name AS nation, COUNT(c.c_custkey) AS n_customers
    FROM nation n LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name ORDER BY nation
    """,
)
def outer_join_nation_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    # bind each table ONCE — Catalog.__getattr__ returns a fresh DataFrame
    # per access, so column refs must come from the same instance
    nation, customer = cat.nation, cat.customer
    joined = joins.equi_join(
        nation,
        customer,
        nation.n_nationkey == customer.c_nationkey,
        "left_outer",
    )
    return (
        joined.groupBy(F.col("n_name").alias("nation"))
        .agg(F.count("c_custkey").alias("n_customers"))
        .orderBy("nation")
    )


# A7 scale path: approx_count_distinct — the documented 100 TB-safe
# variant of suppliers_per_part (aggregates.count_distinct(approx=True)).
# HLL estimates are engine-specific → rows-only; exactness of the exact
# path is oracle-checked by suppliers_per_part.
@query("approx_distinct_suppliers")
def approx_distinct_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).lineitem
    return (
        li.groupBy("l_partkey")
        .agg(F.approx_count_distinct("l_suppkey", 0.02).alias("approx_suppliers"))
        .orderBy("l_partkey")
    )


# S5: parquet sink round-trip — write a filtered projection, read it back,
# aggregate. The oracle computes the same aggregate straight from the
# source table, so a sink that drops/corrupts rows fails the hash.
@query(
    "parquet_sink_roundtrip",
    oracle="""
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total
    FROM orders WHERE o_totalprice > 100000
    GROUP BY o_orderstatus ORDER BY status
    """,
)
def parquet_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = Catalog(spark, sf_dir).orders
    out_dir = io.run_dir("sink", "orders_roundtrip")
    io.write_parquet(
        orders.filter(F.col("o_totalprice") > 100000), out_dir, mode="overwrite"
    )
    back = io.read_parquet(spark, out_dir)
    return (
        back.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(28,2)"))
            .cast("double")
            .alias("total"),
        )
        .orderBy("status")
    )


# S5 (ORC variant): same roundtrip gate through the ORC reader/writer —
# the oracle aggregates straight from the source table, so an ORC
# writer/reader that drops or corrupts rows fails the hash.
@query(
    "orc_sink_roundtrip",
    oracle="""
    SELECT l_linestatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS total
    FROM lineitem WHERE l_quantity >= 30
    GROUP BY l_linestatus ORDER BY status
    """,
)
def orc_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).lineitem
    out_dir = io.run_dir("sink", "lineitem_orc")
    io.write_orc(li.filter(F.col("l_quantity") >= 30), out_dir, mode="overwrite")
    back = io.read_orc(spark, out_dir)
    return (
        back.groupBy(F.col("l_linestatus").alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_extendedprice").cast("decimal(28,2)"))
            .cast("double")
            .alias("total"),
        )
        .orderBy("status")
    )


# S4: cache hint — one cached scan feeding two branches of a union
# (the reference caches every reused input, e.g. Claims_Prediction.py:24).
@query(
    "cached_two_branch_report",
    oracle="""
    SELECT 'high' AS band, COUNT(*) AS n FROM lineitem WHERE l_quantity >= 40
    UNION ALL
    SELECT 'low' AS band, COUNT(*) AS n FROM lineitem WHERE l_quantity < 10
    ORDER BY band
    """,
)
def cached_two_branch_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).lineitem.select("l_quantity").cache()
    high = li.filter(F.col("l_quantity") >= 40).agg(
        F.count(F.lit(1)).alias("n")
    ).withColumn("band", F.lit("high"))
    low = li.filter(F.col("l_quantity") < 10).agg(
        F.count(F.lit(1)).alias("n")
    ).withColumn("band", F.lit("low"))
    return high.unionByName(low).select("band", "n").orderBy("band")


# SQL-text surface: the same engine through spark.sql over registered
# temp views (Catalog.register_views) — identical Catalyst plan as the
# DataFrame form, proving the SQL entry point end-to-end.
@query(
    "sql_api_priority_revenue",
    oracle="""
    SELECT o_orderpriority AS priority, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS revenue
    FROM orders GROUP BY o_orderpriority ORDER BY priority
    """,
)
def sql_api_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    Catalog(spark, sf_dir).register_views()
    return spark.sql(
        """
        SELECT o_orderpriority AS priority, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS revenue
        FROM orders GROUP BY o_orderpriority ORDER BY priority
        """
    )


# A-surface extension: collect_set + sort_array (SURVEY §2.4 "not present
# in reference" list). Emitted as a joined string so the cross-engine
# value-hash compares scalars, not array encodings.
@query(
    "statuses_per_customer",
    oracle="""
    SELECT o_custkey AS custkey,
           array_to_string(list_sort(list_distinct(list(o_orderstatus))), ',')
               AS statuses,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_custkey ORDER BY custkey
    """,
)
def statuses_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = Catalog(spark, sf_dir).orders
    return (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_set("o_orderstatus"))).alias(
                "statuses"
            ),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("custkey")
    )


# Datetime surface: date_trunc month rollup (SURVEY §2.3 — the engine's
# idiomatic replacement for the reference's string-sliced dates).
# TIMESTAMP_NTZ → compare as formatted wall-clock strings.
@query(
    "orders_per_month",
    oracle="""
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS revenue
    FROM orders GROUP BY 1 ORDER BY month
    """,
)
def orders_per_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = Catalog(spark, sf_dir).orders
    return (
        orders.groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
                "month"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(28,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("month")
    )


# GROUPING SETS — completes the rollup/cube family (SURVEY §2.4 engine
# surface). The DataFrame API exposes only rollup/cube; arbitrary sets go
# through the SQL surface, same Catalyst Expand operator underneath.
@query(
    "grouping_sets_qty",
    oracle="""
    SELECT l_returnflag AS flag, l_linestatus AS status,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    ORDER BY flag NULLS FIRST, status NULLS FIRST
    """,
)
def grouping_sets_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    Catalog(spark, sf_dir).register_views()
    return spark.sql(
        """
        SELECT l_returnflag AS flag, l_linestatus AS status,
               CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY flag NULLS FIRST, status NULLS FIRST
        """
    )


# A-surface: min/max/stddev/variance (SURVEY §2.4 engine additions).
# Sample stddev/variance on both engines; rounded — sum-of-squares
# accumulation order drifts in the last ulps.
@query(
    "price_stats_per_flag",
    oracle="""
    SELECT l_returnflag AS flag,
           MIN(l_extendedprice) AS min_price,
           MAX(l_extendedprice) AS max_price,
           ROUND(stddev_samp(l_extendedprice), 4) AS sd_price,
           ROUND(var_samp(l_extendedprice), 4) AS var_price
    FROM lineitem GROUP BY l_returnflag ORDER BY flag
    """,
)
def price_stats_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).lineitem
    return (
        li.groupBy(F.col("l_returnflag").alias("flag"))
        .agg(
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
            F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
            F.round(F.var_samp("l_extendedprice"), 4).alias("var_price"),
        )
        .orderBy("flag")
    )


# A-family extension: EXACT interpolated percentiles per group (Spark
# `percentile` ≡ SQL percentile_cont: rank (n−1)·p, linear interpolation
# — the same formula DuckDB's quantile_cont uses, so the oracle matches
# to rounding). Exact percentile is a per-group sort whose memory is
# O(group size): right for bounded groups like the 5 event types; the
# unbounded-cardinality scale path is approx_percentile (t-digest-style
# sketch, registered as `quantile_sketch_prices`).
@query(
    "value_quartiles_by_event_type",
    oracle="""
    SELECT event_type,
           ROUND(quantile_cont(value, 0.25), 6) AS p25,
           ROUND(quantile_cont(value, 0.50), 6) AS p50,
           ROUND(quantile_cont(value, 0.75), 6) AS p75,
           COUNT(*) AS n
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def value_quartiles_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = Catalog(spark, sf_dir).events
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.percentile("value", F.lit(0.25)), 6).alias("p25"),
            F.round(F.percentile("value", F.lit(0.50)), 6).alias("p50"),
            F.round(F.percentile("value", F.lit(0.75)), 6).alias("p75"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


# PySpark 4 Python Data Source API: rows are GENERATED on executors by
# the custom `synthdocs` format (sources/pydatasource.py) — zero driver
# memory, zero input I/O — and every value is closed-form arithmetic on
# the row index, so DuckDB reproduces the identical relation from a bare
# range(n): the custom source → scan → aggregate path is under the
# value hash end-to-end. (sf-independent by design: the generator IS
# the data.)
@query(
    "pyds_gen_docs_stats",
    oracle="""
    SELECT 'src' || CAST(i % 8 AS VARCHAR) AS source,
           COUNT(*) AS n_docs,
           CAST(SUM(20 + (i * 37) % 200) AS BIGINT) AS sum_tokens,
           CAST(SUM(CASE WHEN (i * 7919) % 101 >= 50 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_good
    FROM range(0, 10000) t(i)
    GROUP BY 1 ORDER BY 1
    """,
)
def pyds_gen_docs_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_ml_showcase_spark.sources.pydatasource import read_synth_docs

    docs = read_synth_docs(spark, n=10_000, partitions=8, sources=8)
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.sum(
                F.when(F.col("quality_centi") >= 50, 1).otherwise(0)
            ).cast("bigint").alias("n_good"),
        )
        .orderBy("source")
    )


# Correlated scalar subquery through the SQL surface: orders priced
# above their priority's average. Catalyst DECORRELATES the subquery
# into an aggregate + join (no per-row re-scan — the plan a naive
# engine would execute N times collapses to one aggregation); the
# oracle runs the identical text. Averages compared through a rounded
# threshold predicate, not emitted, so float ulp drift cannot flip
# membership: both engines round the avg to 2dp before comparing.
@query(
    "above_priority_avg_orders",
    oracle="""
    SELECT o_orderkey, o_orderpriority AS priority, o_totalprice
    FROM orders o
    WHERE o_totalprice > 1.1 * (
        SELECT ROUND(AVG(o2.o_totalprice), 2) FROM orders o2
        WHERE o2.o_orderpriority = o.o_orderpriority
    )
    ORDER BY o_orderkey
    """,
)
def above_priority_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    Catalog(spark, sf_dir).register_views()
    return spark.sql(
        """
        SELECT o_orderkey, o_orderpriority AS priority, o_totalprice
        FROM orders o
        WHERE o_totalprice > 1.1 * (
            SELECT ROUND(AVG(o2.o_totalprice), 2) FROM orders o2
            WHERE o2.o_orderpriority = o.o_orderpriority
        )
        ORDER BY o_orderkey
        """
    )


# Group-wise z-score feature normalization with EXACT moments: mean and
# variance derive from decimal-exact SUM and SUM-of-squares (value has
# 2dp → value² has 4dp, exact in DECIMAL(28,4)), so both engines feed
# identical doubles into the final arithmetic — no online-vs-two-pass
# variance drift. One shuffle (the group agg), then a broadcast join
# back; rounded at 6dp.
@query(
    "zscore_value_by_type",
    oracle="""
    WITH m AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s,
               CAST(SUM(CAST(value AS DECIMAL(18,2))
                        * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS ss
        FROM events GROUP BY 1
    )
    SELECT e.event_id, e.event_type,
           ROUND((e.value - m.s / m.n)
                 / sqrt((m.ss - m.s * m.s / m.n) / (m.n - 1)), 6) AS z
    FROM events e JOIN m ON e.event_type = m.event_type
    WHERE m.n > 1
    ORDER BY e.event_id
    """,
)
def zscore_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = Catalog(spark, sf_dir).events
    dec = F.col("value").cast("decimal(18,2)")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dec).cast("double").alias("s"),
        F.sum(dec * dec).cast("double").alias("ss"),
    )
    joined = ev.join(F.broadcast(m), "event_type").filter(F.col("n") > 1)
    mean = F.col("s") / F.col("n")
    var = (F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / (
        F.col("n") - 1
    )
    return joined.select(
        "event_id",
        "event_type",
        F.round((F.col("value") - mean) / F.sqrt(var), 6).alias("z"),
    ).orderBy("event_id")


# Sort-free per-group argmax: max_by collapses "latest value per user"
# into a plain hash aggregate — no per-group window SORT, the shape
# that wins at 100 TB when only the top-1 is needed. The ordering key
# packs (epoch_sec, event_id) into one BIGINT (event_id < 10^8 in every
# fixture generation) so ties are impossible and both engines pick the
# same row.
@query(
    "latest_value_per_user_maxby",
    oracle="""
    SELECT user_id,
           arg_max(value, CAST(floor(epoch(ts)) AS BIGINT) * 100000000
                          + event_id) AS last_value,
           CAST(max(CAST(floor(epoch(ts)) AS BIGINT) * 100000000
                    + event_id) AS BIGINT) AS last_key
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def latest_value_per_user_maxby(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = Catalog(spark, sf_dir).events
    key = F.col("ts").cast("long") * F.lit(100000000) + F.col("event_id")
    return (
        ev.groupBy("user_id")
        .agg(
            F.max_by("value", key).alias("last_value"),
            F.max(key).cast("bigint").alias("last_key"),
        )
        .orderBy("user_id")
    )


# KMV sketch, exact regime (round 8): per-type distinct users via the
# k-minimum-values sketch with k ABOVE the true cardinality, where the
# sketch IS the distinct set and the estimator is exact — so the full
# sketch build (two-stage JVM k-min, functions/kmv.py) is held to the
# COUNT(DISTINCT) oracle bit-for-bit. The estimation regime (k below
# cardinality) and the set-algebra estimators are covered by
# tests/test_kmv.py bounds and the rows-only overlap query below.
@query(
    "kmv_distinct_users_by_type",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def kmv_distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_ml_showcase_spark.functions import kmv

    ev = Catalog(spark, sf_dir).events
    sk = kmv.kmv_sketch(ev, ["event_type"], "user_id", k=4096)
    return (
        sk.select(
            "event_type",
            kmv.kmv_estimate("sketch", k=4096).cast("bigint").alias(
                "distinct_users"
            ),
        )
        .orderBy("event_type")
    )


# KMV set algebra (round 8, rows-only: estimates have no SQL oracle):
# pairwise audience overlap between event types — Jaccard and
# intersection-size estimates straight off the per-type sketches, no
# re-scan of events. The 5x5 sketch self-join is broadcast-tiny; the
# raw table is read ONCE to build 5 sketch rows. Estimator error
# bounds are pinned in tests/test_kmv.py on known-overlap sets.
@query("kmv_user_overlap_types")
def kmv_user_overlap_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_ml_showcase_spark.functions import kmv

    ev = Catalog(spark, sf_dir).events
    sk = kmv.kmv_sketch(ev, ["event_type"], "user_id", k=512)
    a = sk.select(
        F.col("event_type").alias("type_a"), F.col("sketch").alias("sa")
    )
    b = sk.select(
        F.col("event_type").alias("type_b"), F.col("sketch").alias("sb")
    )
    return (
        a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
        .select(
            "type_a",
            "type_b",
            round_like_duckdb(
                kmv.kmv_jaccard("sa", "sb", k=512), 6
            ).alias("jaccard_est"),
            round_like_duckdb(kmv.kmv_intersection("sa", "sb", k=512), 2).alias(
                "common_users_est"
            ),
        )
        .orderBy("type_a", "type_b")
    )


# Exact-moment Pearson correlation (round 8): per-flag corr(quantity,
# extendedprice) from six EXACT decimal power sums, with the r formula
# evaluated in identical double arithmetic on both engines (IEEE ops +
# correctly-rounded sqrt on correctly-rounded inputs are bitwise
# reproducible). The price² sum's integer representation exceeds 2^53,
# which trips DuckDB's decimal→double double-rounding (the r8 hazard
# pinned in tests/test_oracle_lint.py) — the ROUND-to-scale-2 remedy
# can't shrink a 1e15-scale sum, so the oracle routes those casts
# through VARCHAR (exact digits → strtod, correctly rounded like
# Spark's BigDecimal cast). F.corr itself is float-sum-based and
# partition-order-dependent — this is the deterministic form.
@query(
    "corr_qty_price_by_flag",
    oracle="""
    WITH m AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(4,0)))
                    AS VARCHAR) AS DOUBLE) AS sx,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)))
                    AS VARCHAR) AS DOUBLE) AS sy,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(4,0))
                             * CAST(l_quantity AS DECIMAL(4,0)))
                    AS VARCHAR) AS DOUBLE) AS sxx,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                             * CAST(l_extendedprice AS DECIMAL(12,2)))
                    AS VARCHAR) AS DOUBLE) AS syy,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(4,0))
                             * CAST(l_extendedprice AS DECIMAL(12,2)))
                    AS VARCHAR) AS DOUBLE) AS sxy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           ROUND((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)),
                 6) AS corr_qty_price
    FROM m ORDER BY l_returnflag
    """,
)
def corr_qty_price_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).lineitem
    q = F.col("l_quantity").cast("decimal(4,0)")
    p = F.col("l_extendedprice").cast("decimal(12,2)")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(q).cast("double").alias("sx"),
        F.sum(p).cast("double").alias("sy"),
        F.sum(q * q).cast("double").alias("sxx"),
        F.sum(p * p).cast("double").alias("syy"),
        F.sum(q * p).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    r = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return m.select(
        "l_returnflag", F.round(r, 6).alias("corr_qty_price")
    ).orderBy("l_returnflag")


# Aggregate-function surface extras (round 8): the SQL aggregates the
# registry had not yet pinned cross-engine — ordered STRING_AGG
# (Spark: sorted collect_list + array_join; deterministic only with
# the explicit ORDER BY inside the aggregate), exact interpolated
# MEDIAN (Spark `percentile` == DuckDB percentile_cont over doubles;
# the unordered `median()` on decimals differs), COUNT_IF, and
# BOOL_AND/BOOL_OR. One pass over orders, grouped by status.
@query(
    "agg_extras_by_status",
    oracle="""
    SELECT o_orderstatus,
           string_agg(DISTINCT o_orderpriority, '|'
                      ORDER BY o_orderpriority) AS priorities,
           ROUND(percentile_cont(0.5) WITHIN GROUP (
               ORDER BY CAST(o_totalprice AS DOUBLE)), 6) AS median_price,
           CAST(count_if(o_totalprice > 200000.0) AS BIGINT) AS n_big,
           bool_and(o_totalprice > 0.0) AS all_positive,
           bool_or(o_orderpriority = '1-URGENT') AS any_urgent
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def agg_extras_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).orders
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set("o_orderpriority")), "|"
            ).alias("priorities"),
            F.round(
                F.percentile(F.col("o_totalprice").cast("double"), F.lit(0.5)),
                6,
            ).alias("median_price"),
            F.count_if(F.col("o_totalprice") > 200000.0)
            .cast("bigint")
            .alias("n_big"),
            F.every(F.col("o_totalprice") > 0.0).alias("all_positive"),
            F.some(F.col("o_orderpriority") == "1-URGENT").alias("any_urgent"),
        )
        .orderBy("o_orderstatus")
    )


# Group-wise OLS linear trend (round 8): slope/intercept of value over
# time per event type, from five EXACT power sums — the per-key trend
# detector (is this metric drifting?) as a one-pass aggregation, the
# X38 exact-moment recipe extended to regression. Time is centered on
# a fixed epoch (2024-01-01) so the squared sums stay narrow; they
# still exceed 2^53, so the oracle routes the decimal→double casts
# through VARCHAR (strtod, correctly rounded) exactly like
# corr_qty_price_by_flag. The double formula is evaluated identically
# on both engines and rounded 6dp last.
@query(
    "trend_value_by_type",
    oracle="""
    WITH m AS (
        SELECT event_type,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(CAST(SUM(CAST(floor(epoch(ts)) - 1704067200
                                  AS DECIMAL(10,0)))
                    AS VARCHAR) AS DOUBLE) AS st,
               CAST(CAST(SUM(CAST(value AS DECIMAL(12,2)))
                    AS VARCHAR) AS DOUBLE) AS sv,
               CAST(CAST(SUM(CAST(floor(epoch(ts)) - 1704067200
                                  AS DECIMAL(10,0))
                             * CAST(floor(epoch(ts)) - 1704067200
                                    AS DECIMAL(10,0)))
                    AS VARCHAR) AS DOUBLE) AS stt,
               CAST(CAST(SUM(CAST(floor(epoch(ts)) - 1704067200
                                  AS DECIMAL(10,0))
                             * CAST(value AS DECIMAL(12,2)))
                    AS VARCHAR) AS DOUBLE) AS stv
        FROM events GROUP BY event_type
    )
    SELECT event_type,
           ROUND((n * stv - st * sv) / (n * stt - st * st) * 86400.0,
                 6) AS slope_per_day,
           ROUND((sv - (n * stv - st * sv) / (n * stt - st * st) * st)
                 / n, 6) AS intercept
    FROM m ORDER BY event_type
    """,
)
def trend_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = Catalog(spark, sf_dir).events
    t = (F.col("ts").cast("long") - F.lit(1704067200)).cast("decimal(10,0)")
    v = F.col("value").cast("decimal(12,2)")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(t).cast("double").alias("st"),
        F.sum(v).cast("double").alias("sv"),
        F.sum(t * t).cast("double").alias("stt"),
        F.sum(t * v).cast("double").alias("stv"),
    )
    n, st, sv = F.col("n"), F.col("st"), F.col("sv")
    stt, stv = F.col("stt"), F.col("stv")
    slope = (n * stv - st * sv) / (n * stt - st * st)
    return m.select(
        "event_type",
        round_like_duckdb(slope * F.lit(86400.0), 6).alias("slope_per_day"),
        round_like_duckdb((sv - slope * st) / n, 6).alias("intercept"),
    ).orderBy("event_type")


# Data-quality expectations gate (round 8): six declared constraints
# validated against orders in minimal passes — ALL row-local checks
# share ONE scan (a single aggregation exploded into per-check rows,
# plan-pinned in tests/test_expectations.py), uniqueness is one
# distinct-count, and the FK check is one broadcast anti-join. The
# oracle replays each check as an independent scalar aggregate. This
# is the deequ-style assertion step a production ingest runs before
# committing a drop to the versioned store.
@query(
    "validate_orders_expectations",
    oracle="""
    WITH checks AS (
        SELECT 'in_range(o_totalprice)' AS check_name,
               CAST(SUM(CASE WHEN o_totalprice IS NOT NULL
                              AND (o_totalprice < 0.0
                                   OR o_totalprice > 600000.0)
                             THEN 1 ELSE 0 END) AS BIGINT) AS violations,
               CAST(COUNT(*) AS BIGINT) AS total
        FROM orders
        UNION ALL
        SELECT 'in_set(o_orderstatus)',
               CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL
                              AND o_orderstatus NOT IN ('F', 'O', 'P')
                             THEN 1 ELSE 0 END) AS BIGINT),
               CAST(COUNT(*) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'matches_regex(o_orderpriority)',
               CAST(SUM(CASE WHEN o_orderpriority IS NOT NULL
                              AND NOT regexp_matches(o_orderpriority,
                                                     '^[1-5]-')
                             THEN 1 ELSE 0 END) AS BIGINT),
               CAST(COUNT(*) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'not_null(o_orderkey)',
               CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
               CAST(COUNT(*) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'referential(o_custkey)',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
                WHERE o.o_custkey IS NOT NULL
                  AND o.o_custkey NOT IN
                      (SELECT c_custkey FROM customer)),
               CAST(COUNT(*) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'unique(o_orderkey)',
               CAST(COUNT(CASE WHEN o_orderkey IS NOT NULL THEN 1 END)
                    - COUNT(DISTINCT o_orderkey) AS BIGINT),
               CAST(COUNT(*) AS BIGINT)
        FROM orders
    )
    SELECT check_name, violations, total,
           (violations = 0) AS passed
    FROM checks
    ORDER BY check_name
    """,
)
def validate_orders_expectations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from spark_ml_showcase_spark.operators import expectations as X

    cat = Catalog(spark, sf_dir)
    o, c = cat.orders, cat.customer
    out = X.validate(
        o,
        [
            X.not_null("o_orderkey"),
            X.in_range("o_totalprice", 0.0, 600000.0),
            X.in_set("o_orderstatus", ["F", "O", "P"]),
            X.matches_regex("o_orderpriority", "^[1-5]-"),
            X.unique("o_orderkey"),
            X.referential("o_custkey", c, "c_custkey"),
        ],
    )
    return out.select(
        F.col("check").alias("check_name"), "violations", "total", "passed"
    ).orderBy("check_name")


# UNPIVOT / melt (round 8): the inverse of V1's native pivot —
# a wide per-type stat frame reshaped long via DataFrame.unpivot
# (whole-stage-codegen Expand, no shuffle beyond the feeding agg).
# The oracle replays the reshape as a UNION ALL of the three stat
# projections; avg is decimal-exact-sum / count rounded 6dp, min/max
# are raw stored doubles.
@query(
    "unpivot_event_value_stats",
    oracle="""
    WITH wide AS (
        SELECT event_type,
               MIN(value) AS v_min,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
                     / COUNT(*), 6) AS v_avg,
               MAX(value) AS v_max
        FROM events GROUP BY event_type
    )
    SELECT event_type, stat, value FROM (
        SELECT event_type, 'v_min' AS stat, v_min AS value FROM wide
        UNION ALL
        SELECT event_type, 'v_avg', v_avg FROM wide
        UNION ALL
        SELECT event_type, 'v_max', v_max FROM wide
    )
    ORDER BY event_type, stat
    """,
)
def unpivot_event_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = Catalog(spark, sf_dir).events
    wide = ev.groupBy("event_type").agg(
        F.min("value").alias("v_min"),
        round_like_duckdb(
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("v_avg"),
        F.max("value").alias("v_max"),
    )
    return wide.unpivot(
        ["event_type"], ["v_min", "v_avg", "v_max"], "stat", "value"
    ).orderBy("event_type", "stat")
