"""Log-analytics + non-parquet source queries (SURVEY.md §2.1 S1-S3, M2).

S1/S2/S3 are the reference's ONLY input formats
(``higgs_ensemble_analysis.py:62`` headerless CSV,
``Claims_Prediction.py:24`` headered CSV, ``log_mining_analysis.py:21``
gzipped text); each gets a deterministic committed fixture under
``spark_ml_showcase_spark/data/`` (shipped with the package, not the
test tree) and a DuckDB ``read_csv`` oracle, so the source readers
themselves are correctness-gated, not just the parquet catalog.

The fixture files are fixed-size by design (format coverage, not scale
coverage) — ``sf_dir`` is accepted per the driver contract but unused.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_ml_showcase_spark import logs
from spark_ml_showcase_spark.functions.rounding import round_like_duckdb
from spark_ml_showcase_spark.plans import query
from spark_ml_showcase_spark.sources import io
from spark_ml_showcase_spark.sources.local import local_frame

_DATA_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data",
)
_CSV_NOHEADER = os.path.join(_DATA_DIR, "sample_noheader.csv")
_CSV_HEADER = os.path.join(_DATA_DIR, "sample_header.csv")
_CLF_GZ = os.path.join(_DATA_DIR, "access_log_sample.gz")


# S1: headerless CSV scan, all-string then cast — the higgs read pattern
# (higgs_ensemble_analysis.py:62-66). Aggregates per label class.
@query(
    "csv_scan_noheader",
    oracle=f"""
    SELECT CAST(column0 AS DOUBLE) AS label,
           COUNT(*) AS n,
           ROUND(SUM(CAST(column1 AS DOUBLE)), 4) AS sum_f1
    FROM read_csv('{_CSV_NOHEADER}', header=false, all_varchar=true)
    GROUP BY 1 ORDER BY label
    """,
)
def csv_scan_noheader(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = io.read_csv(spark, _CSV_NOHEADER, header=False)
    cast = df.select(
        F.col("_c0").cast("double").alias("label"),
        F.col("_c1").cast("double").alias("f1"),
    )
    return (
        cast.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("f1").cast("decimal(18,4)")).cast("double"), 4).alias("sum_f1"),
        )
        .orderBy("label")
    )


# S2: headered CSV scan (Claims_Prediction.py:24, als_clustering_analysis.py:28-29).
@query(
    "csv_scan_header",
    oracle=f"""
    SELECT category AS category,
           COUNT(*) AS n,
           CAST(SUM(CAST(qty AS BIGINT)) AS BIGINT) AS total_qty,
           ROUND(SUM(CAST(price AS DECIMAL(18,2)))::DOUBLE, 2) AS total_price
    FROM read_csv('{_CSV_HEADER}', header=true, all_varchar=true)
    GROUP BY category ORDER BY category
    """,
)
def csv_scan_header(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = io.read_csv(spark, _CSV_HEADER, header=True)
    return (
        df.groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("qty").cast("bigint")).alias("total_qty"),
            F.round(
                F.sum(F.col("price").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total_price"),
        )
        .orderBy("category")
    )


# S3 + F1 + A2 + O1/O2: gzipped CLF text scan → regex field extraction →
# top-9 German hosts (log_mining_analysis.py:21-51). DuckDB reads the
# same gz as a one-column CSV with an absent delimiter.
@query(
    "clf_top_hosts_de",
    oracle=rf"""
    SELECT host, n FROM (
        SELECT regexp_extract(value, '^(.*) - -.*', 1) AS host, COUNT(*) AS n
        FROM read_csv('{_CLF_GZ}', columns={{'value': 'VARCHAR'}},
                      header=false, delim='|', quote='')
        WHERE ends_with(regexp_extract(value, '^(.*) - -.*', 1), '.de')
        GROUP BY 1
    ) ORDER BY n DESC, host ASC LIMIT 9
    """,
)
def clf_top_hosts_de(spark: SparkSession, sf_dir: str) -> DataFrame:
    lines = io.read_text(spark, _CLF_GZ)
    parsed = logs.parse_clf(lines)
    return logs.top_hosts(logs.country_filter(parsed, ".de"), 9).select(
        "host", F.col("count").cast("bigint").alias("n")
    )


# M2 country report: request totals + unique hosts per country suffix
# (log_mining_analysis.py:36-62) in ONE pass over the parsed log
# (conditional aggregation), not three filtered re-scans.
@query(
    "clf_country_report",
    oracle=rf"""
    WITH parsed AS (
        SELECT regexp_extract(value, '^(.*) - -.*', 1) AS host,
               CAST(list_extract(string_split(value, ' '), -2) AS BIGINT) AS code,
               CAST(list_extract(string_split(value, ' '), -1) AS BIGINT) AS bytes
        FROM read_csv('{_CLF_GZ}', columns={{'value': 'VARCHAR'}},
                      header=false, delim='|', quote='')
    )
    SELECT country, COUNT(*) AS n_requests,
           COUNT(DISTINCT host) AS n_hosts,
           CAST(SUM(bytes) AS BIGINT) AS total_bytes
    FROM (
        SELECT CASE WHEN ends_with(host, '.de') THEN 'de'
                    WHEN ends_with(host, '.ca') THEN 'ca'
                    WHEN ends_with(host, '.sg') THEN 'sg'
                    ELSE 'other' END AS country, host, bytes
        FROM parsed
    ) GROUP BY country ORDER BY country
    """,
)
def clf_country_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    parsed = logs.parse_clf(io.read_text(spark, _CLF_GZ))
    country = (
        F.when(F.col("host").endswith(".de"), "de")
        .when(F.col("host").endswith(".ca"), "ca")
        .when(F.col("host").endswith(".sg"), "sg")
        .otherwise("other")
    )
    return (
        parsed.withColumn("country", country)
        .groupBy("country")
        .agg(
            F.count(F.lit(1)).alias("n_requests"),
            F.countDistinct("host").alias("n_hosts"),
            F.sum(F.col("bytes_in_reply").cast("bigint")).alias("total_bytes"),
        )
        .orderBy("country")
    )


# S5 (driver-side artifact parity): the reference saves its analysis
# tables as text files (log_mining_analysis.py:88,128); this query runs
# the country report THROUGH the txt report sink (write → parse back) so
# a sink that misaligns/drops/reorders columns fails the oracle hash.
@query(
    "clf_report_txt_sink",
    oracle=rf"""
    WITH parsed AS (
        SELECT regexp_extract(value, '^(.*) - -.*', 1) AS host,
               CAST(list_extract(string_split(value, ' '), -1) AS BIGINT) AS bytes
        FROM read_csv('{_CLF_GZ}', columns={{'value': 'VARCHAR'}},
                      header=false, delim='|', quote='')
    )
    SELECT country, COUNT(*) AS n_requests,
           CAST(SUM(bytes) AS BIGINT) AS total_bytes
    FROM (
        SELECT CASE WHEN ends_with(host, '.de') THEN 'de'
                    WHEN ends_with(host, '.ca') THEN 'ca'
                    WHEN ends_with(host, '.sg') THEN 'sg'
                    ELSE 'other' END AS country, bytes
        FROM parsed
    ) GROUP BY country ORDER BY country
    """,
)
def clf_report_txt_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    parsed = logs.parse_clf(io.read_text(spark, _CLF_GZ))
    country = (
        F.when(F.col("host").endswith(".de"), "de")
        .when(F.col("host").endswith(".ca"), "ca")
        .when(F.col("host").endswith(".sg"), "sg")
        .otherwise("other")
    )
    report = (
        parsed.withColumn("country", country)
        .groupBy("country")
        .agg(
            F.count(F.lit(1)).alias("n_requests"),
            F.sum(F.col("bytes_in_reply").cast("bigint")).alias("total_bytes"),
        )
        .orderBy("country")
    )
    out = io.run_dir("sink", "country_report.csv")
    io.write_report(report, out, fmt="csv")
    back = io.read_csv(
        spark,
        out,
        header=True,
        schema="country string, n_requests bigint, total_bytes bigint",
    )
    return back.orderBy("country")


# M2 heatmap input: day×hour counts carved from the timestamp STRING with
# the reference's exact regexes (log_mining_analysis.py:114-117).
@query(
    "clf_day_hour_counts",
    oracle=rf"""
    SELECT regexp_extract(ts, '^(\d{{2}})', 1) AS day,
           regexp_extract(ts, '^\d{{2}}/\w{{3}}/\d{{4}}:(\d{{2}})', 1) AS hour,
           COUNT(*) AS n
    FROM (
        SELECT regexp_extract(value, '.* - - \[(.*)\].*', 1) AS ts,
               regexp_extract(value, '^(.*) - -.*', 1) AS host
        FROM read_csv('{_CLF_GZ}', columns={{'value': 'VARCHAR'}},
                      header=false, delim='|', quote='')
    ) WHERE ends_with(host, '.de')
    GROUP BY day, hour ORDER BY day, hour
    """,
)
def clf_day_hour_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    parsed = logs.parse_clf(io.read_text(spark, _CLF_GZ))
    de = logs.day_hour_by_regex(logs.country_filter(parsed, ".de"))
    return (
        de.groupBy("day", "hour")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("day", "hour")
    )


# M2 image artifacts: the reference renders the day×hour heatmap and
# top-host percentage pies to image files (log_mining_analysis.py:88,128).
# The engine renders the SAME data through the stdlib PNG sink; the query
# re-reads the written artifact's IHDR plus the pie's share table, and
# the oracle recomputes all of it from the raw log — so the rendered
# artifact's dimensions/validity AND the chart data are both under the
# hash (a sink writing a corrupt header or wrong grid fails).
@query(
    "clf_png_artifacts",
    oracle=rf"""
    WITH parsed AS (
        SELECT regexp_extract(value, '^(.*) - -.*', 1) AS host,
               regexp_extract(value, '.* - - \[(.*)\].*', 1) AS ts
        FROM read_csv('{_CLF_GZ}', columns={{'value': 'VARCHAR'}},
                      header=false, delim='|', quote='')
    ), de AS (
        SELECT * FROM parsed WHERE ends_with(host, '.de')
    ), grid AS (
        SELECT COUNT(DISTINCT regexp_extract(ts, '^(\d{{2}})', 1)) AS nd,
               COUNT(DISTINCT regexp_extract(ts, '^\d{{2}}/\w{{3}}/\d{{4}}:(\d{{2}})', 1)) AS nh
        FROM de
    ), tops AS (
        SELECT host, COUNT(*) AS n,
               row_number() OVER (ORDER BY COUNT(*) DESC, host ASC) AS rk
        FROM de GROUP BY host
    ), slices AS (
        SELECT CASE WHEN rk <= 9 THEN host ELSE 'Rest' END AS label,
               SUM(n) AS n
        FROM tops GROUP BY 1
    )
    SELECT 'heatmap:' || CAST(nd * 8 AS VARCHAR) || 'x'
               || CAST(nh * 8 AS VARCHAR) || ':rgb8' AS artifact,
           ROUND(1.0, 6) AS share
    FROM grid
    UNION ALL
    SELECT 'pie:' || label AS artifact,
           ROUND(n / (SELECT SUM(n)::DOUBLE FROM slices), 6) AS share
    FROM slices
    ORDER BY artifact
    """,
)
def clf_png_artifacts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_ml_showcase_spark.sources import png

    parsed = logs.parse_clf(io.read_text(spark, _CLF_GZ))
    de = logs.country_filter(parsed, ".de")
    # one artifact dir per process, reused across reruns of this query
    out_dir = io.run_dir("artifacts", "clf_png")
    os.makedirs(out_dir, exist_ok=True)

    mat = (
        logs.day_hour_by_regex(de)
        .groupBy("day", "hour")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    hm_path, w, h = png.write_heatmap_png(
        mat, "hour", "day", "n", os.path.join(out_dir, "de_heatmap.png")
    )
    with open(hm_path, "rb") as f:
        hw, hh, depth, ctype = png.decode_png_header(f.read())
    assert (hw, hh, depth, ctype) == (w, h, 8, 2)

    top9 = logs.top_hosts(de, 9).select("host", F.col("count").alias("n"))
    total = de.count()
    top9_rows = top9.collect()
    rest = total - sum(r.n for r in top9_rows)
    pie_df = local_frame(
        spark,
        [(r.host, float(r.n)) for r in top9_rows] + [("Rest", float(rest))],
        "label string, n double",
    )
    png.write_pie_png(
        pie_df, "label", "n", os.path.join(out_dir, "de_top_hosts_pie.png")
    )

    # shares via F.round (HALF_UP) — matching the DuckDB oracle's ROUND
    # semantics and the codebase convention; Python round() is banker's
    # and could diverge on an exact 6-decimal tie
    share_rows = pie_df.select(
        F.concat(F.lit("pie:"), "label").alias("artifact"),
        round_like_duckdb(F.col("n") / F.lit(float(total)), 6).alias("share"),
    )
    heat = local_frame(
        spark, [(f"heatmap:{hw}x{hh}:rgb8", 1.0)], "artifact string, share double"
    )
    return heat.unionByName(share_rows).orderBy("artifact")


_JSONL = os.path.join(_DATA_DIR, "sample_events.jsonl")


# JSON-lines scan (engine surface beyond the reference's CSV/text; the
# explicit schema skips the whole-dataset inference pass — io.read_json).
# Array column exercised via explode-free aggregation on its size.
@query(
    "json_scan_agg",
    oracle=f"""
    SELECT kind AS kind, COUNT(*) AS n,
           ROUND(SUM(CAST(score AS DECIMAL(18,3)))::DOUBLE, 3) AS total_score,
           CAST(SUM(len(tags)) AS BIGINT) AS total_tags
    FROM read_json_auto('{_JSONL}')
    GROUP BY kind ORDER BY kind
    """,
)
def json_scan_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = io.read_json(
        spark, _JSONL,
        schema="id bigint, kind string, score double, tags array<string>",
    )
    return (
        df.groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("score").cast("decimal(18,3)")).cast("double"), 3
            ).alias("total_score"),
            F.sum(F.size("tags").cast("bigint")).alias("total_tags"),
        )
        .orderBy("kind")
    )
