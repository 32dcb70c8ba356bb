"""Dynamic partition pruning (DPP) over a day-partitioned events layout.

SURVEY.md §4 lists partition pruning as the one Catalyst scale feature the
engine supports (``write_parquet(partition_by=...)``) but never exercised
in a registered query. This module closes that: the fact table is
materialized hive-partitioned by day, the dim carries a NON-key predicate
(ISO weekday), and the join on the partition key lets Catalyst inject a
``dynamicpruning`` subquery into the fact scan — at 100 TB the scan reads
only the ~1/7 of partitions whose days survive the dim filter, decided at
runtime from the broadcast dim, with zero changes to the query text.

``tests/test_plans.py`` pins the plan: the fact scan's PartitionFilters
must carry a dynamicpruning expression.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_ml_showcase_spark.plans import query
from spark_ml_showcase_spark.sources import io


def dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join under test, shared by the registered query and the plan
    assertion: day-partitioned events ⋈ calendar filtered to Mondays."""
    fact_path, dim_path = io.materialize_events_by_day(spark, sf_dir)
    fact = spark.read.parquet(fact_path)
    dim = spark.read.parquet(dim_path).filter(F.col("dow_iso") == 1)
    # align the dim key's type with whatever partition-type inference gave
    # the fact side (DATE here); casting the dim side leaves the fact
    # scan's partition attribute untouched so DPP can still latch onto it
    dim = dim.withColumn("day", F.col("day").cast(dict(fact.dtypes)["day"]))
    return fact.join(F.broadcast(dim.select("day")), "day")


@query(
    "dpp_events_mondays",
    oracle="""
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    WHERE isodow(CAST(ts AS DATE)) = 1
    GROUP BY 1
    ORDER BY 1
    """,
)
def dpp_events_mondays(spark: SparkSession, sf_dir: str) -> DataFrame:
    joined = dpp_join(spark, sf_dir)
    return (
        joined.groupBy(F.date_format("day", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("day")
    )


def bucketed_sales_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucketed join under test, shared by the registered query and
    the plan assertion: orders ⋈ lineitem, both pre-bucketed on orderkey
    — with broadcast disabled (the plan pin), this sort-merge join has
    NO Exchange on either side."""
    o_tbl, l_tbl = io.materialize_bucketed_sales(spark, sf_dir)
    o = spark.table(o_tbl).select("o_orderkey", "o_orderpriority")
    li = spark.table(l_tbl).select("l_orderkey", "l_quantity", "l_extendedprice")
    return o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))


# Bucketed (pre-shuffled) co-located join: the ingest-time layout that
# removes the orders⋈lineitem shuffle from EVERY downstream query — the
# explicit 100 TB answer to "is there a shuffle here that becomes the
# bottleneck at scale". The small final agg still exchanges on the
# 5-value priority key; the point is the two fact tables don't.
@query(
    "bucketed_join_priority_volume",
    oracle="""
    SELECT o.o_orderpriority AS priority,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(28,6))), 2)
                AS DOUBLE) AS sum_price,
           COUNT(*) AS n_items
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY 1 ORDER BY 1
    """,
)
def bucketed_join_priority_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    joined = bucketed_sales_join(spark, sf_dir)
    return (
        joined.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(28,6)"))
            .cast("double")
            .alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(28,6)")), 2)
            .cast("double")
            .alias("sum_price"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("priority")
    )


# Third layout family (after hive-partitioning → DPP and bucketing →
# exchange-free joins): RANGE CLUSTERING → row-group skipping. The
# query itself is an ordinary band-filter aggregate over the clustered
# copy of events — correct iff the ingest-time rewrite is lossless (the
# oracle reads the ORIGINAL table) — while tests/test_clustering.py
# proves from the written footers that the band only touches ~band/domain
# of the files. value ∈ [200, 300) over a [0, ~490] domain → ~2-3 of 8.
@query(
    "clustered_scan_value_band",
    oracle="""
    SELECT event_type AS event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    WHERE value >= 200 AND value < 300
    GROUP BY 1 ORDER BY 1
    """,
)
def clustered_scan_value_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_ml_showcase_spark.operators import clustering

    path = clustering.materialize_events_clustered(
        spark, sf_dir, mode="value_range"
    )
    ev = spark.read.parquet(path)
    return (
        ev.filter((F.col("value") >= 200) & (F.col("value") < 300))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("event_type")
    )


# Lakehouse layer: manifest-versioned snapshot store (sources/
# versioned.py). The query builds two committed corpus snapshots —
# v0 = an earlier drop (doc_id % 5 != 0), v1 = the next drop
# (doc_id % 7 != 0, with a text revision on doc_id % 11 == 0) — then
# TIME-TRAVELS to both and diffs them by key + xxhash64 row
# fingerprint. The oracle derives the same added/removed/changed
# classes straight from the arithmetic, so the whole
# write → manifest-commit → time-travel-read → diff path is
# value-checked end-to-end (identical unless xxhash64 collides).
@query(
    "snapshot_diff_docs",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 5 = 0 THEN 'added'
                WHEN doc_id % 7 = 0 THEN 'removed'
                ELSE 'changed' END AS change
    FROM documents
    WHERE (doc_id % 5 = 0 AND doc_id % 7 <> 0)
       OR (doc_id % 5 <> 0 AND doc_id % 7 = 0)
       OR (doc_id % 5 <> 0 AND doc_id % 7 <> 0 AND doc_id % 11 = 0)
    ORDER BY doc_id
    """,
)
def snapshot_diff_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_ml_showcase_spark.sources import versioned
    from spark_ml_showcase_spark.sources.catalog import Catalog

    def build(table_dir: str) -> None:
        docs = Catalog(spark, sf_dir).documents
        v0 = docs.filter(F.col("doc_id") % 5 != 0)
        v1 = docs.filter(F.col("doc_id") % 7 != 0).withColumn(
            "text",
            F.when(
                F.col("doc_id") % 11 == 0, F.concat("text", F.lit(" (rev2)"))
            ).otherwise(F.col("text")),
        )
        versioned.write_snapshot(v0, table_dir)
        versioned.write_snapshot(v1, table_dir, expected_parent=0)

    table_dir = io.staged_dir(
        "snapshot_docs", os.path.join(sf_dir, "documents.parquet"), build
    )
    return versioned.snapshot_diff(
        spark, table_dir, 0, 1, "doc_id", ["text"]
    ).orderBy("doc_id")


# X28+ (r8): MERGE INTO on the versioned store — SCD-1 upsert commit
# (replace matched keys, insert new ones, carry the rest forward) as a
# driver-checked query. The oracle replays the merge ALGEBRA over the
# source table: updated keys get the rewritten text, inserted keys
# appear under shifted ids, everything else is untouched — so the
# anti-join + unionByName commit path is value-hashed end-to-end,
# including full text content.
@query(
    "snapshot_merge_docs",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 6 = 0 THEN text || ' (merged)'
                ELSE text END AS text
    FROM documents
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id, text || ' (new)' AS text
    FROM documents WHERE doc_id % 13 = 0
    ORDER BY doc_id
    """,
)
def snapshot_merge_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_ml_showcase_spark.sources import versioned
    from spark_ml_showcase_spark.sources.catalog import Catalog

    def build(table_dir: str) -> None:
        docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
        versioned.write_snapshot(docs, table_dir)
        updates = docs.filter(F.col("doc_id") % 6 == 0).withColumn(
            "text", F.concat("text", F.lit(" (merged)"))
        ).unionByName(
            docs.filter(F.col("doc_id") % 13 == 0).select(
                (F.col("doc_id") + 2_000_000).alias("doc_id"),
                F.concat("text", F.lit(" (new)")).alias("text"),
            )
        )
        versioned.merge_keys(spark, table_dir, updates, "doc_id")

    table_dir = io.staged_dir(
        "snapshot_merge", os.path.join(sf_dir, "documents.parquet"), build
    )
    return versioned.read_snapshot(spark, table_dir).orderBy("doc_id")


# Hypertable continuous aggregate (round 8): the hourly rollup of
# events is built INCREMENTALLY — three batches split by event_id % 3,
# so batches 2 and 3 are late data for every bucket batch 1 created —
# then read back finalized. The oracle is the plain one-shot GROUP BY
# over the whole table: the partial-state merge (count/decimal-sum/
# min/max per (hour, type), combined across refreshes through the
# versioned store's keyed upsert) must be indistinguishable from
# having seen all the data at once. avg derives from the states at
# read time; the decimal sum keeps it order-exact across any batch
# split.
@query(
    "hypertable_hourly_rollup",
    oracle="""
    SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT)
               AS bucket_sec,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events
    GROUP BY 1, 2
    ORDER BY bucket_sec, event_type
    """,
)
def hypertable_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_ml_showcase_spark.operators import hypertable
    from spark_ml_showcase_spark.sources.catalog import Catalog

    def build(table_dir: str) -> None:
        ev = Catalog(spark, sf_dir).events
        for m in (0, 1, 2):
            hypertable.rollup_refresh(
                spark,
                table_dir,
                ev.filter(F.col("event_id") % 3 == m),
                time_col="ts",
                value_col="value",
                keys=["event_type"],
            )

    table_dir = io.staged_dir(
        "events_rollup", os.path.join(sf_dir, "events.parquet"), build
    )
    return hypertable.rollup_read(spark, table_dir).orderBy(
        "bucket_sec", "event_type"
    )


# SCD-2 dimension build (round 8): each user's "latest event type" is
# tracked as a Type-2 slowly-changing attribute — one update batch per
# ISO week (last event per user per week, composite
# (ts, event_id) tie-break), applied in order through
# operators/scd2.py. The full history table (validity intervals +
# current flags) must match the oracle's one-shot window
# reconstruction: consecutive-week dedup via LAG == the operator's
# current-row comparison, LEAD(eff) == the close-and-open valid_to.
# The week list is a bounded driver-side collect (5 weeks here),
# documented — each apply is one update-batch shuffle + a dim-sized
# broadcast join, never a history scan.
@query(
    "scd2_user_type_history",
    oracle="""
    WITH ord AS (
        SELECT user_id,
               date_trunc('week', ts) AS m,
               arg_max(event_type,
                       CAST(floor(epoch(ts)) AS BIGINT) * 100000000
                       + event_id) AS etype,
               arg_max(CAST(floor(epoch(ts)) AS BIGINT),
                       CAST(floor(epoch(ts)) AS BIGINT) * 100000000
                       + event_id) AS eff
        FROM events GROUP BY 1, 2
    ),
    seq AS (
        SELECT user_id, etype, eff,
               lag(etype) OVER (PARTITION BY user_id ORDER BY m) AS prev
        FROM ord
    ),
    chg AS (
        SELECT user_id, etype, eff FROM seq
        WHERE prev IS NULL OR etype <> prev
    ),
    iv AS (
        SELECT user_id, etype AS event_type, eff AS valid_from,
               lead(eff) OVER (PARTITION BY user_id ORDER BY eff)
                   AS valid_to
        FROM chg
    )
    SELECT user_id, event_type, valid_from, valid_to,
           (valid_to IS NULL) AS is_current
    FROM iv
    ORDER BY user_id, valid_from
    """,
)
def scd2_user_type_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_ml_showcase_spark.operators import scd2

    table_dir = _scd2_store(spark, sf_dir)
    return scd2.scd2_history(spark, table_dir).orderBy(
        "user_id", "valid_from"
    )


def _scd2_store(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per process, ``io.staged_dir``) the weekly user-type
    SCD-2 dimension shared by scd2_user_type_history and the temporal
    dimension-join query."""
    from spark_ml_showcase_spark.operators import scd2
    from spark_ml_showcase_spark.sources.catalog import Catalog

    def build(table_dir: str) -> None:
        ev = Catalog(spark, sf_dir).events
        ord_col = F.col("ts").cast("long") * F.lit(100000000) + F.col(
            "event_id"
        )
        weekly = ev.groupBy(
            "user_id", F.date_trunc("week", "ts").alias("_m")
        ).agg(
            F.max_by("event_type", ord_col).alias("event_type"),
            F.max_by(F.col("ts").cast("long"), ord_col).alias("eff"),
        )
        weeks = sorted(
            r._m for r in weekly.select("_m").distinct().collect()
        )
        for m in weeks:
            scd2.scd2_apply(
                spark,
                table_dir,
                weekly.filter(F.col("_m") == m),
                key_col="user_id",
                attr_cols=["event_type"],
                effective_col="eff",
            )

    return io.staged_dir(
        "user_type_scd2", os.path.join(sf_dir, "events.parquet"), build
    )


_SCD2_HIST_SQL = """
    WITH ord AS (
        SELECT user_id,
               date_trunc('week', ts) AS m,
               arg_max(event_type,
                       CAST(floor(epoch(ts)) AS BIGINT) * 100000000
                       + event_id) AS etype,
               arg_max(CAST(floor(epoch(ts)) AS BIGINT),
                       CAST(floor(epoch(ts)) AS BIGINT) * 100000000
                       + event_id) AS eff
        FROM events GROUP BY 1, 2
    ),
    seq AS (
        SELECT user_id, etype, eff,
               lag(etype) OVER (PARTITION BY user_id ORDER BY m) AS prev
        FROM ord
    ),
    chg AS (
        SELECT user_id, etype, eff FROM seq
        WHERE prev IS NULL OR etype <> prev
    ),
    hist AS (
        SELECT user_id, etype, eff AS valid_from,
               lead(eff) OVER (PARTITION BY user_id ORDER BY eff)
                   AS valid_to
        FROM chg
    )
"""


# Temporal dimension join (round 8): every purchase event joined to
# the SCD-2 dimension row that was VALID AT the event's own time —
# the fact-to-Type-2-dimension lookup every warehouse needs. The dim
# side is |users × changes| (broadcast); the user_id equality makes
# the plan a BroadcastHashJoin with the interval predicate as a
# residual filter — a hash join, never a per-row scan of history. The
# oracle reconstructs the same history (the scd2 query's CTE) and
# applies the same half-open interval join.
@query(
    "purchase_with_user_type_asof",
    oracle=_SCD2_HIST_SQL
    + """
    SELECT e.event_id,
           e.user_id,
           CAST(floor(epoch(e.ts)) AS BIGINT) AS purchase_sec,
           h.etype AS user_type_at_purchase
    FROM events e
    JOIN hist h
      ON e.user_id = h.user_id
     AND h.valid_from <= CAST(floor(epoch(e.ts)) AS BIGINT)
     AND (h.valid_to IS NULL
          OR CAST(floor(epoch(e.ts)) AS BIGINT) < h.valid_to)
    WHERE e.event_type = 'purchase'
    ORDER BY e.event_id
    """,
)
def purchase_with_user_type_asof(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from spark_ml_showcase_spark.operators import scd2
    from spark_ml_showcase_spark.sources.catalog import Catalog

    table_dir = _scd2_store(spark, sf_dir)
    hist = scd2.scd2_history(spark, table_dir).select(
        F.col("user_id").alias("_hu"),
        F.col("event_type").alias("user_type_at_purchase"),
        "valid_from",
        "valid_to",
    )
    p = Catalog(spark, sf_dir).events.filter(
        F.col("event_type") == "purchase"
    ).select(
        "event_id",
        "user_id",
        F.col("ts").cast("long").alias("purchase_sec"),
    )
    cond = (
        (p.user_id == hist._hu)
        & (hist.valid_from <= p.purchase_sec)
        & (hist.valid_to.isNull() | (p.purchase_sec < hist.valid_to))
    )
    return (
        p.join(F.broadcast(hist), cond)
        .select(
            "event_id", "user_id", "purchase_sec", "user_type_at_purchase"
        )
        .orderBy("event_id")
    )


# Continuous aggregate with a DISTINCT state (round 8): the hourly
# rollup carries a KMV sketch per bucket (functions/kmv.py embedded as
# one more mergeable rollup state — sketch-of-union == k-min of merged
# sketches), built incrementally from three interleaved batches with
# k=4096 far above any bucket's true user cardinality, so the
# estimator is EXACT and the whole incremental sketch-merge path is
# held to a COUNT(DISTINCT) oracle. The estimation regime is covered
# by tests/test_kmv.py; the merge identity by tests/test_hypertable.py.
@query(
    "hypertable_distinct_users_hourly",
    oracle="""
    SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT)
               AS bucket_sec,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users
    FROM events
    GROUP BY 1, 2
    ORDER BY bucket_sec, event_type
    """,
)
def hypertable_distinct_users_hourly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from spark_ml_showcase_spark.operators import hypertable
    from spark_ml_showcase_spark.sources.catalog import Catalog

    def build(table_dir: str) -> None:
        ev = Catalog(spark, sf_dir).events
        for m in (0, 1, 2):
            hypertable.rollup_refresh(
                spark,
                table_dir,
                ev.filter(F.col("event_id") % 3 == m),
                time_col="ts",
                value_col="value",
                keys=["event_type"],
                distinct_col="user_id",
                kmv_k=4096,
            )

    table_dir = io.staged_dir(
        "events_rollup_kmv", os.path.join(sf_dir, "events.parquet"), build
    )
    return (
        hypertable.rollup_read(spark, table_dir, kmv_k=4096)
        .select(
            "bucket_sec",
            "event_type",
            "n_events",
            F.col("distinct_est").cast("bigint").alias("distinct_users"),
        )
        .orderBy("bucket_sec", "event_type")
    )
