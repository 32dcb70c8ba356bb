"""Readers and writers.

The reference reads everything schema-less (all-string) and then casts
column-by-column (``higgs_ensemble_analysis.py:62-66``,
``Claims_Prediction.py:24,30-32``, ``als_clustering_analysis.py:28-35``,
``log_mining_analysis.py:21``). That pattern costs a full extra pass when
``inferSchema`` is on and loses parquet-style predicate pushdown. The engine
keeps capability parity (headerless/headered CSV, text-line scans of gzip)
but prefers explicit schemas and columnar formats:

- explicit ``schema=`` skips inference entirely (zero extra passes);
- parquet is the first-class interchange format — column pruning and
  predicate/row-group pushdown reach the scan (verify with
  ``df.explain`` → ``PushedFilters`` / ``ReadSchema``).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession,
    path: str,
    *,
    header: bool = False,
    sep: str = ",",
    schema: T.StructType | str | None = None,
    infer: bool = False,
    **options,
) -> DataFrame:
    """CSV scan (reference S1/S2).

    With ``schema`` given, no inference pass runs. With neither ``schema``
    nor ``infer``, all columns land as string (the reference's behavior,
    ``higgs_ensemble_analysis.py:62``) for explicit downstream casting.
    Extra ``options`` pass straight to the reader (NB Spark's default
    ``escape`` is ``\\`` — pass ``escape='"'`` for RFC-4180 files like
    ``write_report`` output).
    """
    reader = spark.read.option("header", header).option("sep", sep)
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_text(spark: SparkSession, path: str) -> DataFrame:
    """Text-line scan (reference S3, ``log_mining_analysis.py:21``).

    One ``value: string`` row per line. Gzip is decompressed transparently
    but a ``.gz`` file is NOT splittable — it becomes a single partition.
    At scale, repartition immediately after scanning gzipped logs so the
    regex-extraction stage parallelizes (see ``logs.parse_clf``).
    """
    return spark.read.text(path)


def read_json(
    spark: SparkSession,
    path: str,
    *,
    schema: T.StructType | str | None = None,
) -> DataFrame:
    """JSON-lines scan. Always pass ``schema`` at scale — inference reads
    the whole dataset once before the real job."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_parquet(
    spark: SparkSession,
    path: str,
    *columns: str,
    ignore_corrupt: bool = False,
) -> DataFrame:
    """Parquet scan (S7). Optional column list prunes at the reader.

    ``ignore_corrupt=True`` skips unreadable files instead of failing
    the job — the posture for a 100 TB lake where bit rot and partial
    uploads are routine (one bad file out of millions must not kill a
    day-long job; pair with an ingest-time manifest/row-count check so
    the skip is OBSERVED, not silent). Default False: a small curated
    fixture set should fail loudly on corruption.
    """
    reader = spark.read
    if ignore_corrupt:
        reader = reader.option("ignoreCorruptFiles", "true")
    df = reader.parquet(path)
    return df.select(*columns) if columns else df


def write_parquet(
    df: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    bucket_by: tuple[int, list[str]] | None = None,
) -> None:
    """Parquet sink — the engine's first-class sink (the reference only has
    driver-side print/plot sinks, ``log_mining_analysis.py:88,128``).

    ``partition_by`` enables dynamic partition pruning downstream;
    ``bucket_by`` (requires ``saveAsTable``) pre-shuffles on the join key so
    later joins/aggs on that key are exchange-free.
    """
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if bucket_by:
        n, cols = bucket_by
        writer.bucketBy(n, *cols).option("path", path).saveAsTable(
            path.rstrip("/").rsplit("/", 1)[-1]
        )
        return
    writer.parquet(path)


def _source_fingerprint(path: str) -> str:
    """Cheap content fingerprint of a parquet file/directory: sorted
    (name, size, mtime_ns) of every regular file under it — no reads."""
    import hashlib

    parts: list[str] = []
    if os.path.isdir(path):
        for root, _, files in sorted(os.walk(path)):
            for f in sorted(files):
                st = os.stat(os.path.join(root, f))
                parts.append(f"{os.path.relpath(os.path.join(root, f), path)}:{st.st_size}:{st.st_mtime_ns}")
    else:
        st = os.stat(path)
        parts.append(f".:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()


#: lazily-created PER-PROCESS scratch root: every store, sink and
#: staging dir the package writes lives under it, exactly as long as
#: this Python process — nothing computed from the inputs survives into
#: the next run. Removed at exit.
_RUN_ROOT: str | None = None

#: (store name, "build"|"hit") per ``staged_dir`` call since the last
#: ``drain_cache_events`` — the bench stamps them into its per-query
#: provenance so a cold build is distinguishable from a plan regression.
_CACHE_EVENTS: list[tuple[str, str]] = []


def run_dir(*parts: str) -> str:
    """Path of ``parts`` under this process's scratch root (created with
    ``mkdtemp`` under ``TMPDIR`` on first use, removed at exit). The
    path itself is not created."""
    global _RUN_ROOT
    if _RUN_ROOT is None:
        import atexit
        import shutil
        import tempfile

        _RUN_ROOT = tempfile.mkdtemp(prefix="smss_run_")
        atexit.register(shutil.rmtree, _RUN_ROOT, ignore_errors=True)
    return os.path.join(_RUN_ROOT, *parts)


def staged_dir(
    name: str,
    sources: str | Sequence[str],
    build: Callable[[str], None],
    key: str = "",
) -> str:
    """Directory of the store ``name`` derived from ``sources`` (one path
    or several), built by ``build(dir)`` once per process and per source
    content: the store is rebuilt exactly when its marker does not
    record the content fingerprint of ``sources`` plus ``key`` — a
    regenerated fixture under the same path never serves stale data. A
    rebuild first deletes the store's earlier dirs; the marker is
    written only after ``build`` returns, so a store whose build raised
    is rebuilt by the next call. Each call records a build or hit event
    for ``drain_cache_events``."""
    import hashlib
    import shutil

    paths = [sources] if isinstance(sources, str) else list(sources)
    paths = [os.path.abspath(p) for p in paths]
    store = run_dir(name, hashlib.md5("|".join(paths).encode()).hexdigest()[:12])
    fp = hashlib.md5(
        "|".join([*map(_source_fingerprint, paths), key]).encode()
    ).hexdigest()[:16]
    marker = os.path.join(store, "_FINGERPRINT")
    d = os.path.join(store, fp)
    try:
        with open(marker) as f:
            hit = f.read() == fp
    except OSError:
        hit = False
    if not hit:
        shutil.rmtree(store, ignore_errors=True)
        os.makedirs(store)
        build(d)
        with open(marker, "w") as f:
            f.write(fp)
    _CACHE_EVENTS.append((name, "hit" if hit else "build"))
    return d


def drain_cache_events() -> list[tuple[str, str]]:
    """Return and clear the (store name, build|hit) events recorded by
    ``staged_dir`` since the previous drain."""
    out = list(_CACHE_EVENTS)
    _CACHE_EVENTS.clear()
    return out


def materialize_events_by_day(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize the events table day-partitioned (hive-style
    ``day=YYYY-MM-DD/`` directories) plus a small calendar dim
    ``(day, dow_iso)`` — the layout dynamic partition pruning needs.
    Built once per process and per content of the source
    ``events.parquet`` (``staged_dir``); at production scale this is the
    ingest-time layout, not a per-query rewrite. Returns
    (fact_path, dim_path)."""
    from spark_ml_showcase_spark.sources.catalog import Catalog

    def build(d: str) -> None:
        ev = Catalog(spark, sf_dir).events.withColumn("day", F.to_date("ts"))
        write_parquet(ev, os.path.join(d, "events_by_day"), partition_by=["day"])
        # ISO day-of-week (1=Mon..7=Sun) from Spark's dayofweek (1=Sun..7=Sat)
        cal = ev.select("day").distinct().withColumn(
            "dow_iso", ((F.dayofweek("day") + 5) % 7 + 1).cast("int")
        )
        write_parquet(cal, os.path.join(d, "calendar"))

    d = staged_dir("events_by_day", os.path.join(sf_dir, "events.parquet"), build)
    return os.path.join(d, "events_by_day"), os.path.join(d, "calendar")


def materialize_bucketed_sales(
    spark: SparkSession, sf_dir: str, *, n_buckets: int = 8
) -> tuple[str, str]:
    """Materialize ``orders`` and ``lineitem`` as BUCKETED tables on the
    join key (``bucketBy(n, orderkey) + sortBy``), the ingest-time layout
    that makes every later orderkey join/aggregation exchange-free: both
    sides are pre-shuffled into the same bucket scheme, so a sort-merge
    join reads bucket i against bucket i with NO Exchange in the plan
    (pinned in tests/test_plans.py). At 100 TB this is the difference
    between shuffling the two largest tables per query and never
    shuffling them again.

    Bucketed tables must live in the session catalog (``saveAsTable``) —
    the bucket metadata rides in the catalog, not the files — so tables
    are named per scale factor and the store's key folds in the
    application id: a new SparkContext (a fresh catalog) rebuilds them,
    as does a change of source content (``staged_dir``). Returns the two
    table names.
    """
    from spark_ml_showcase_spark.sources.catalog import Catalog

    key = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    o_tbl = f"smss_orders_b_{key}"
    l_tbl = f"smss_lineitem_b_{key}"

    def build(d: str) -> None:
        cat = Catalog(spark, sf_dir)
        for name, df, bucket_col in (
            (o_tbl, cat.orders, "o_orderkey"),
            (l_tbl, cat.lineitem, "l_orderkey"),
        ):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            df.write.bucketBy(n_buckets, bucket_col).sortBy(
                bucket_col
            ).mode("overwrite").option(
                "path", os.path.join(d, name)
            ).saveAsTable(name)

    staged_dir(
        "bucketed_sales",
        [os.path.join(sf_dir, t) for t in ("orders.parquet", "lineitem.parquet")],
        build,
        key=f"{spark.sparkContext.applicationId}|{n_buckets}",
    )
    return o_tbl, l_tbl


def read_orc(spark: SparkSession, path: str, *columns: str) -> DataFrame:
    """ORC scan — same pushdown/pruning properties as parquet (column
    pruning + predicate pushdown reach the reader). Optional column list
    prunes at the reader."""
    df = spark.read.orc(path)
    return df.select(*columns) if columns else df


def write_orc(
    df: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """ORC sink — columnar alternative interchange format (zlib by
    default; Hive-ecosystem interop where parquet isn't the standard)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def write_report(
    df: DataFrame, path: str, *, fmt: str = "txt", max_rows: int = 10_000
) -> str:
    """Driver-side summary-report sink — the reference's text-report
    artifacts (``log_mining_analysis.py:88,128`` saves analysis tables as
    text; ``higgs_ensemble_analysis.py:27-59`` prints metric summaries).

    For SMALL, already-aggregated tables only: rows are capped at
    ``max_rows`` and brought to the driver. Raw data belongs in
    ``write_parquet``; this is the human-readable artifact next to it.

    ``fmt='txt'`` writes an aligned column table, ``fmt='csv'`` a
    header + comma-separated lines (fields with commas/quotes/newlines
    are quoted). Returns the path written.
    """
    if fmt not in ("txt", "csv"):
        raise ValueError(f"fmt must be 'txt' or 'csv', got {fmt!r}")
    cols = df.columns
    rows = [
        ["" if v is None else str(v) for v in r] for r in df.limit(max_rows).collect()
    ]
    os.makedirs(os.path.dirname(os.path.abspath(path)) or ".", exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        if fmt == "csv":

            def esc(v: str) -> str:
                if any(ch in v for ch in ",\"\n"):
                    return '"' + v.replace('"', '""') + '"'
                return v

            f.write(",".join(esc(c) for c in cols) + "\n")
            for r in rows:
                f.write(",".join(esc(v) for v in r) + "\n")
        else:
            widths = [
                max(len(cols[i]), *(len(r[i]) for r in rows)) if rows else len(cols[i])
                for i in range(len(cols))
            ]
            header = "  ".join(c.ljust(w) for c, w in zip(cols, widths))
            f.write(header.rstrip() + "\n")
            f.write("-" * len(header.rstrip()) + "\n")
            for r in rows:
                f.write(
                    "  ".join(v.ljust(w) for v, w in zip(r, widths)).rstrip() + "\n"
                )
    return path
