"""Source/sink coverage (SURVEY.md §2.1): empty relation with copied
schema (S6), explicit-schema CSV reads, parquet round-trip fidelity."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from spark_ml_showcase_spark.sources import io


def test_empty_relation_with_copied_schema(spark):
    # S6 (Claims_Prediction.py:44-45): the stratified-split accumulator seed
    src = spark.createDataFrame([(1, "a", 2.0)], "k bigint, s string, v double")
    empty = spark.createDataFrame([], src.schema)
    assert empty.count() == 0
    assert empty.schema == src.schema
    assert empty.unionAll(src).count() == 1  # U1 positional union


def test_read_csv_explicit_schema_skips_inference(spark, tmp_path):
    p = str(tmp_path / "x.csv")
    with open(p, "w") as f:
        f.write("1,2.5\n2,3.5\n")
    df = io.read_csv(spark, p, schema="a int, b double")
    assert df.dtypes == [("a", "int"), ("b", "double")]
    assert df.agg(F.sum("b")).first()[0] == 6.0
    # no schema, no infer → all strings (the reference's read pattern)
    raw = io.read_csv(spark, p)
    assert all(t == "string" for _, t in raw.dtypes)


def test_write_report_txt_and_csv(spark, tmp_path):
    df = spark.createDataFrame(
        [("de", 10, 'quo"te'), ("ca", 2, "with,comma"), ("sg", 1, None)],
        "country string, n bigint, note string",
    ).orderBy("country")
    txt = io.write_report(df, str(tmp_path / "r.txt"), fmt="txt")
    lines = open(txt).read().splitlines()
    assert lines[0].split() == ["country", "n", "note"]
    assert lines[1].startswith("---")
    assert len(lines) == 5 and lines[2].split()[0] == "ca"

    csv = io.write_report(df, str(tmp_path / "r.csv"), fmt="csv")
    back = io.read_csv(
        spark, csv, header=True,
        schema="country string, n bigint, note string", escape='"',
    )
    assert {(r.country, r.n, r.note) for r in back.collect()} == {
        ("de", 10, 'quo"te'),
        ("ca", 2, "with,comma"),
        ("sg", 1, None),
    }

    import pytest as _pytest

    with _pytest.raises(ValueError):
        io.write_report(df, str(tmp_path / "r.json"), fmt="json")


def test_write_parquet_partition_by(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "x")], "k bigint, part string"
    )
    out = str(tmp_path / "pq")
    io.write_parquet(df, out, partition_by=["part"])
    # hive-style layout → downstream partition pruning
    assert sorted(
        d for d in os.listdir(out) if d.startswith("part=")
    ) == ["part=x", "part=y"]
    back = io.read_parquet(spark, out)
    assert back.count() == 3
    pruned = back.filter(F.col("part") == "x")
    assert pruned.count() == 2


def test_orc_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, f"s{i % 3}", float(i)) for i in range(100)],
        "k bigint, cat string, v double",
    )
    out = str(tmp_path / "orc")
    io.write_orc(df, out)
    back = io.read_orc(spark, out)
    assert back.count() == 100
    assert dict(back.dtypes) == dict(df.dtypes)
    # column-pruned read
    pruned = io.read_orc(spark, out, "k", "v")
    assert pruned.columns == ["k", "v"]
    assert back.agg(F.sum("v")).first()[0] == sum(range(100))


def test_catalog_events_ts_adapts_to_both_fixture_generations(spark, tmp_path):
    """The fixture generator has shipped events.ts as TIMESTAMP(NANOS)
    (read as raw long under nanosAsLong) and as naive timestamp[us]
    (TIMESTAMP_NTZ). Catalog.table must normalize BOTH to the same
    session-UTC instants — epoch seconds are what every oracle compares."""
    import datetime as dt
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from spark_ml_showcase_spark.sources.catalog import Catalog

    base = dt.datetime(2024, 5, 1, 8, 30, 0)
    instants = [base + dt.timedelta(hours=i) for i in range(4)]
    cols = {
        "event_id": pa.array(range(4), pa.int64()),
        "user_id": pa.array([1, 2, 1, 2], pa.int64()),
        "event_type": pa.array(["a", "b", "a", "b"]),
        "value": pa.array([1.0, 2.0, 3.0, 4.0], pa.float64()),
        "props": pa.array(["{}"] * 4),
    }
    want = {int(t.replace(tzinfo=dt.timezone.utc).timestamp()) for t in instants}

    got = {}
    for unit in ("us", "ns"):
        d = os.path.join(str(tmp_path), f"gen_{unit}")
        os.makedirs(d)
        ts = pa.array(instants, pa.timestamp(unit))
        table = pa.table({**cols, "ts": ts})
        pq.write_table(table, os.path.join(d, "events.parquet"))
        ev = Catalog(spark, d).events
        assert str(ev.schema["ts"].dataType) == "TimestampType()"
        got[unit] = {
            r.s for r in ev.select(F.col("ts").cast("long").alias("s")).collect()
        }
        shutil.rmtree(d)
    assert got["us"] == got["ns"] == want


def _jobs_in(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted in its own job group."""
    import uuid

    sc = spark.sparkContext
    group = f"catalog-memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "catalog schema memo test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _copy_table(tmp_path, name):
    import shutil

    from tests.conftest import SF_SMALL

    d = str(tmp_path / "sf")
    os.makedirs(d, exist_ok=True)
    shutil.copy(os.path.join(SF_SMALL, f"{name}.parquet"), d)
    return d


def test_catalog_second_read_reuses_schema_without_a_job(spark, tmp_path):
    from spark_ml_showcase_spark.sources.catalog import Catalog

    d = _copy_table(tmp_path, "nation")
    first, jobs1 = _jobs_in(spark, lambda: Catalog(spark, d).table("nation"))
    second, jobs2 = _jobs_in(spark, lambda: Catalog(spark, d).table("nation"))
    assert jobs1 >= 1  # a new file: its schema is inferred by a job
    assert jobs2 == 0
    assert second.schema.json() == first.schema.json()
    assert second.count() == first.count() == 25


def test_catalog_rewritten_file_infers_again(spark, tmp_path):
    """The memo keys on file identity: events.parquet rewritten in the
    SAME directory, µs then ns, still reads as the same instants."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_ml_showcase_spark.sources.catalog import Catalog

    base = dt.datetime(2024, 5, 1, 8, 30)
    instants = [base + dt.timedelta(hours=i) for i in range(3)]
    want = {int(t.replace(tzinfo=dt.timezone.utc).timestamp()) for t in instants}
    path = os.path.join(str(tmp_path), "events.parquet")
    for unit in ("us", "ns"):
        pq.write_table(
            pa.table({
                "event_id": pa.array(range(3), pa.int64()),
                "ts": pa.array(instants, pa.timestamp(unit)),
            }),
            path,
        )
        ev = Catalog(spark, str(tmp_path)).events
        assert str(ev.schema["ts"].dataType) == "TimestampType()", unit
        secs = ev.select(F.col("ts").cast("long").alias("s")).collect()
        assert {r.s for r in secs} == want, unit


def _output_ids(df):
    out = df._jdf.queryExecution().analyzed().output()
    return {out.apply(i).exprId().id() for i in range(out.size())}


def test_catalog_reads_are_fresh_relations(spark):
    from spark_ml_showcase_spark.sources.catalog import Catalog
    from tests.conftest import SF_SMALL

    cat = Catalog(spark, SF_SMALL)
    n1, n2 = cat.nation, cat.nation
    assert _output_ids(n1).isdisjoint(_output_ids(n2))
    a, b = n1.alias("a"), n2.alias("b")
    pairs = a.join(b, F.col("a.n_regionkey") == F.col("b.n_regionkey")).select(
        F.col("a.n_nationkey"), F.col("b.n_nationkey")
    )
    by_region = n1.groupBy("n_regionkey").count().collect()
    assert pairs.count() == sum(r["count"] ** 2 for r in by_region)


def test_catalog_changed_inference_conf_misses_memo(spark, tmp_path):
    from spark_ml_showcase_spark.sources.catalog import Catalog

    conf = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(conf)
    flipped = "false" if before == "true" else "true"
    d = _copy_table(tmp_path, "region")
    try:
        _jobs_in(spark, lambda: Catalog(spark, d).region)
        _, hit = _jobs_in(spark, lambda: Catalog(spark, d).region)
        spark.conf.set(conf, flipped)
        _, miss = _jobs_in(spark, lambda: Catalog(spark, d).region)
        _, hit_again = _jobs_in(spark, lambda: Catalog(spark, d).region)
    finally:
        spark.conf.set(conf, before)
    assert hit == 0 and miss >= 1 and hit_again == 0


def test_compact_parquet_dir(spark, tmp_path):
    from spark_ml_showcase_spark.sources.io import compact_parquet_dir

    d = os.path.join(str(tmp_path), "many")
    # 12 tiny appended files, the append-only-sink pathology
    for i in range(12):
        spark.createDataFrame(
            [(i * 10 + j, f"v{i}_{j}") for j in range(10)], "k bigint, v string"
        ).coalesce(1).write.mode("append").parquet(d)
    n_before = sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
    assert n_before == 12
    before = {(r.k, r.v) for r in spark.read.parquet(d).collect()}

    n_after = compact_parquet_dir(spark, d, target_file_mb=128, sort_by=["k"])
    assert n_after == 1
    after = {(r.k, r.v) for r in spark.read.parquet(d).collect()}
    assert after == before and len(after) == 120
    assert not os.path.exists(d + ".old") and not os.path.exists(d + ".compacting")


def test_python_datasource_generates_on_executors(spark):
    from spark_ml_showcase_spark.sources.pydatasource import read_synth_docs

    df = read_synth_docs(spark, n=1000, partitions=4, sources=5)
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 1000
    rows = {r.doc_id: r for r in df.collect()}
    # closed-form determinism, spot-checked
    assert rows[0].source == "src0" and rows[0].n_tokens == 20
    assert rows[123].source == f"src{123 % 5}"
    assert rows[123].n_tokens == 20 + (123 * 37) % 200
    assert rows[999].quality_centi == (999 * 7919) % 101
    # re-read is identical (no RNG state anywhere)
    again = {r.doc_id: r.n_tokens for r in read_synth_docs(
        spark, n=1000, partitions=2, sources=5).collect()}
    assert again == {k: v.n_tokens for k, v in rows.items()}


def test_python_datasource_stream_batches(spark):
    """Streaming half of the synthdocs source: micro-batches of
    rowsPerBatch rows, exhausting at n, aggregating to the exact same
    totals as the batch reader (deterministic replayable offsets)."""
    import time
    import uuid

    from spark_ml_showcase_spark.sources.pydatasource import register

    register(spark)
    stream = (
        spark.readStream.format("synthdocs")
        .option("n", "2000")
        .option("rowsPerBatch", "500")
        .option("sources", "4")
        .load()
    )
    agg = stream.groupBy("source").count()
    name = f"pyds_{uuid.uuid4().hex[:8]}"
    # continuous micro-batch trigger: availableNow would stop after the
    # single prefetched batch of a SimpleDataSourceStreamReader — the
    # point here is that the source feeds MULTIPLE batches (2000/500=4)
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .start()
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            rows = spark.table(name).collect()
            if sum(r["count"] for r in rows) >= 2000:
                break
            time.sleep(1)
        got = {r.source: r["count"] for r in spark.table(name).collect()}
    finally:
        q.stop()
    assert got == {f"src{i}": 500 for i in range(4)}


def test_jsonl_shard_writer_with_manifest(spark, tmp_path):
    import json

    from spark_ml_showcase_spark.sources.pydatasource import write_jsonl_shards

    df = spark.createDataFrame(
        [(i, f"text {i}", i % 3) for i in range(100)],
        "doc_id bigint, text string, bucket bigint",
    )
    out = os.path.join(str(tmp_path), "export")
    write_jsonl_shards(df, out, shards=4)

    manifest = json.load(open(os.path.join(out, "MANIFEST.json")))
    assert manifest["total_rows"] == 100
    assert len(manifest["shards"]) == 4
    # shard tallies agree with the files themselves; rows roundtrip
    seen = []
    for s in manifest["shards"]:
        lines = open(os.path.join(out, s["shard"])).read().splitlines()
        assert len(lines) == s["n_rows"]
        assert sum(len(l) + 1 for l in lines) == s["n_bytes"]
        seen += [json.loads(l) for l in lines]
    assert {r["doc_id"] for r in seen} == set(range(100))
    assert all(r["text"] == f"text {r['doc_id']}" for r in seen)


def test_read_parquet_ignore_corrupt_files(spark, tmp_path):
    """One garbage file among good parquet: the default read fails
    loudly; ignore_corrupt=True survives with exactly the good rows."""
    import pytest

    d = os.path.join(str(tmp_path), "lake")
    spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], "k bigint, v string"
    ).coalesce(1).write.parquet(d)
    with open(os.path.join(d, "part-corrupt.parquet"), "wb") as f:
        f.write(b"PAR1 this is not actually parquet \x00\x01\x02")

    with pytest.raises(Exception):
        io.read_parquet(spark, d).count()
    ok = io.read_parquet(spark, d, ignore_corrupt=True)
    assert sorted(r.k for r in ok.collect()) == list(range(20))


def test_jsonl_shard_writer_serializes_rich_types(spark, tmp_path):
    """Timestamps/dates/decimals/binary export as ISO/str/base64 instead
    of crashing the writer — the events fixture shape must be exportable."""
    import json

    from spark_ml_showcase_spark.sources.pydatasource import write_jsonl_shards

    df = spark.sql(
        "SELECT 1 AS id, TIMESTAMP'2024-01-02 03:04:05' AS ts, "
        "DATE'2024-01-02' AS d, CAST(1.50 AS DECIMAL(10,2)) AS m, "
        "X'DEAD' AS b"
    )
    out = os.path.join(str(tmp_path), "rich")
    write_jsonl_shards(df, out, shards=1)
    (line,) = open(os.path.join(out, "shard-00000.jsonl")).read().splitlines()
    row = json.loads(line)
    assert row["ts"].startswith("2024-01-02T03:04:05")
    assert row["d"] == "2024-01-02" and row["m"] == "1.50" and row["b"] == "3q0="


def test_compact_recovers_from_crashed_prior_run(spark, tmp_path):
    """A leftover .old/.compacting dir from a killed compaction must not
    wedge the next run."""
    from spark_ml_showcase_spark.sources.io import compact_parquet_dir

    d = os.path.join(str(tmp_path), "dir")
    spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string").coalesce(
        1
    ).write.parquet(d)
    os.makedirs(d + ".old")
    with open(os.path.join(d + ".old", "stale"), "w") as f:
        f.write("leftover from a crash")
    os.makedirs(d + ".compacting")
    assert compact_parquet_dir(spark, d) == 1
    assert {r.k for r in spark.read.parquet(d).collect()} == {1, 2}
    assert not os.path.exists(d + ".old")


def _write(path: str, text: str) -> None:
    with open(path, "w") as f:
        f.write(text)


def test_staged_dir_builds_once_then_rebuilds_on_touched_source(
    tmp_path, monkeypatch
):
    """One build per (store, source content): later calls hit the same
    dir; a touched source rebuilds into a new dir and removes the old."""
    monkeypatch.setattr(io, "_RUN_ROOT", str(tmp_path / "run"))
    src = str(tmp_path / "src.txt")
    _write(src, "v1")
    builds = []

    def build(d):
        builds.append(d)
        os.makedirs(d)
        _write(os.path.join(d, "copy"), open(src).read())

    io.drain_cache_events()
    d1 = io.staged_dir("store", src, build)
    assert open(os.path.join(d1, "copy")).read() == "v1"
    assert io.staged_dir("store", src, build) == d1
    assert len(builds) == 1
    assert io.drain_cache_events() == [("store", "build"), ("store", "hit")]

    _write(src, "v2, longer")
    d2 = io.staged_dir("store", src, build)
    assert d2 != d1 and len(builds) == 2
    assert open(os.path.join(d2, "copy")).read() == "v2, longer"
    assert not os.path.exists(d1)  # the earlier fingerprint's dir is gone
    # a different key is a different fingerprint of the same store
    d3 = io.staged_dir("store", src, build, key="k")
    assert d3 != d2 and not os.path.exists(d2)
    assert io.drain_cache_events() == [("store", "build"), ("store", "build")]


def test_staged_dir_failed_build_leaves_no_marker(tmp_path, monkeypatch):
    monkeypatch.setattr(io, "_RUN_ROOT", str(tmp_path / "run"))
    src = str(tmp_path / "src.txt")
    _write(src, "x")
    calls = []

    def failing(d):
        calls.append(d)
        os.makedirs(d)
        raise RuntimeError("build failed")

    import pytest

    with pytest.raises(RuntimeError):
        io.staged_dir("store", src, failing)
    d = io.staged_dir("store", src, calls.append)
    assert calls == [d, d]  # rebuilt, not served half-built
    io.drain_cache_events()


def test_run_root_is_removed_at_exit(tmp_path):
    """A process that stages a store leaves nothing under its TMPDIR."""
    import subprocess
    import sys

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    src = str(tmp_path / "src.txt")
    _write(src, "x")
    code = (
        "import os\n"
        "from spark_ml_showcase_spark.sources import io\n"
        "sink = io.run_dir('sink')\n"
        "os.makedirs(sink)\n"
        "open(os.path.join(sink, 'f'), 'w').close()\n"
        f"d = io.staged_dir('s', {src!r}, os.makedirs)\n"
        "assert os.path.isdir(d) and d.startswith(os.environ['TMPDIR'])\n"
        "print(io.drain_cache_events())\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, TMPDIR=str(tmp), PYTHONPATH=repo)
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, cwd=repo,
        capture_output=True, text=True, check=True,
    ).stdout
    assert out.strip() == "[('s', 'build')]"
    assert os.listdir(tmp) == []


def test_package_has_no_fixed_scratch_roots():
    """Every scratch path goes through ``io.run_dir`` (one per-process
    root under TMPDIR, removed at exit): no fixed /tmp roots, no
    gettempdir() roots, no cache-root overrides — anything else would
    let computed state survive into the next run."""
    import re

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "spark_ml_showcase_spark",
    )
    banned = re.compile(
        r"/tmp/|gettempdir\(|SMS_IVF_CACHE|fp_cache_ok|fp_record|base_dir"
    )
    hits = []
    for root, _, files in os.walk(pkg):
        for f in files:
            if f.endswith(".py"):
                p = os.path.join(root, f)
                for n, line in enumerate(open(p, encoding="utf-8"), 1):
                    if banned.search(line):
                        hits.append(f"{os.path.relpath(p, pkg)}:{n}: {line.strip()}")
    assert hits == []


def test_base_tables_are_read_only_through_catalog():
    """``Catalog.table`` is the one base-table resolver (its schema memo
    has no bypass): no other package module batch-reads
    ``{sf_dir}/<table>.parquet`` or ``os.path.join(sf_dir,
    "<table>.parquet")``. Stream readers and staged-store reads go
    through other paths and are exempt."""
    import re

    from spark_ml_showcase_spark.sources.catalog import TESTDATA_TABLES

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "spark_ml_showcase_spark",
    )
    table = "|".join(TESTDATA_TABLES)
    raw_read = re.compile(
        r"\.read(?:\s*\.\s*schema\([^()]*\))?\s*\.\s*parquet\(\s*(?:"
        rf"f[\"']\{{[\w.]*sf_dir\}}/(?:{table})\.parquet"
        rf"|(?:\w+\.)*join\(\s*[\w.]*sf_dir\s*,\s*[\"'](?:{table})\.parquet)"
    )
    hits = []
    for root, _, files in os.walk(pkg):
        for f in files:
            p = os.path.join(root, f)
            rel = os.path.relpath(p, pkg)
            if not f.endswith(".py") or rel == os.path.join("sources", "catalog.py"):
                continue
            src = open(p, encoding="utf-8").read()
            for m in raw_read.finditer(src):
                n = src.count("\n", 0, m.start()) + 1
                hits.append(f"{rel}:{n}: {m.group(0)}")
    assert hits == []


def test_local_frame_matches_create_dataframe_on_one_partition(spark):
    """``local_frame`` returns what ``createDataFrame(list, schema)``
    returns — nulls, arrays of double and int, booleans, bigints and an
    empty list — from a ``LocalRelation`` that states one partition
    and reads with no Python-RDD scan."""
    from spark_ml_showcase_spark.functions import partitioning
    from spark_ml_showcase_spark.sources.local import local_frame

    schema = "k bigint, x double, s string, v array<double>, i array<int>, b boolean"
    rows = [
        (1, 0.5, "a", [1.0, None], [1, 2], True),
        (2**40, None, None, None, [], False),
        (None, -1.25, "", [], None, None),
    ]
    for data in (rows, []):
        want = spark.createDataFrame(data, schema)
        got = local_frame(spark, data, schema)
        assert got.schema == want.schema
        assert got.collect() == want.collect()
        qe = got._jdf.queryExecution()
        assert "LocalRelation" in qe.optimizedPlan().toString()
        physical = qe.executedPlan().toString()
        assert "LocalTableScan" in physical and "ExistingRDD" not in physical
        assert partitioning.plan_width(got) == 1
    struct = spark.createDataFrame([], schema).schema
    assert local_frame(spark, [], struct).schema == struct
