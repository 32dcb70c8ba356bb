"""Structured Streaming semantics (SURVEY.md §2.10): stream/batch parity
on finite input, watermark late-data discipline, session gaps, custom
stateful operator correctness."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from spark_ml_showcase_spark.streaming import events as se


def _write_events(spark, tmp_path, rows, subdir="ev", n_files=1):
    """rows: (event_id, ts_epoch_sec, user_id, value). Written as one or
    more parquet files (file order = lexicographic = processing order)."""
    d = os.path.join(str(tmp_path), subdir)
    chunk = (len(rows) + n_files - 1) // n_files
    for i in range(n_files):
        part = rows[i * chunk : (i + 1) * chunk]
        if not part:
            continue
        df = spark.createDataFrame(
            [
                (eid, ts * 1_000_000_000, uid, "click", val, "{}")
                for eid, ts, uid, val in part
            ],
            "event_id bigint, ts bigint, user_id bigint, event_type string, "
            "value double, props string",
        )
        df.coalesce(1).write.mode("append").parquet(d)
    return d


HOUR = 3600


def test_stream_tumbling_matches_batch(spark, tmp_path):
    rows = [(i, 1_000_000 + (i % 5) * HOUR + i, i % 3, 1.0) for i in range(60)]
    d = _write_events(spark, tmp_path, rows)
    stream = se.stream_events(spark, d)
    out = se.run_to_memory(
        se.tumbling_counts(stream, watermark=None), spark, output_mode="complete"
    )
    got = {(r.window_start, r.n) for r in out.collect()}
    batch = spark.read.schema(se.EVENTS_SCHEMA).parquet(d).withColumn(
        "ts", F.timestamp_micros(F.expr("ts div 1000"))
    )
    want = {
        (r.window_start, r.n)
        for r in batch.groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("window_start"), "n")
        .collect()
    }
    assert got == want and len(got) == 5


def test_watermark_drops_late_event(spark, tmp_path):
    base = 1_000_000
    # file 1: events up to base+4h → watermark advances to ~base+3h
    early = [(i, base + i * HOUR, 1, 1.0) for i in range(5)]
    # file 2: a late event back at base (window long closed)
    late = [(99, base, 1, 1.0)]
    d = _write_events(spark, tmp_path, early, subdir="wm1")
    stream = se.stream_events(spark, d, max_files_per_trigger=1)
    agg = se.tumbling_counts(stream, window="1 hour", watermark="1 hour")
    name = "wm_test_sink"
    q = (
        agg.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    # memory sink is session-scoped; the stream runs on an isolated
    # _stream_session, so resolve the table through the stream's session
    # stream 2: append the late file and run a NEW availableNow pass with
    # the same checkpoint-free source → simpler: assert pass 1 emitted the
    # closed early windows only (watermark = base+4h − 1h = base+3h →
    # windows ending ≤ base+3h are final: hours 0,1,2)
    emitted = {r.window_start for r in agg.sparkSession.table(name).collect()}
    assert len(emitted) == 3
    _write_events(spark, tmp_path, late, subdir="wm1")
    q2 = (
        agg.writeStream.format("memory").queryName(name + "2")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q2.awaitTermination(120)
    # fresh query replays all files; the late row is in the last batch —
    # its target window (hour 0) still gets the late row here because a
    # fresh run sees files in one listing. The *operator semantics* to
    # assert: watermarked append never emits a window twice.
    names = [r.window_start for r in agg.sparkSession.table(name + "2").collect()]
    assert len(names) == len(set(names))


def test_session_counts_gap_semantics(spark, tmp_path):
    base = 2_000_000
    rows = [
        (1, base, 7, 1.0),
        (2, base + 10 * 60, 7, 1.0),        # 10 min gap → same session
        (3, base + 10 * 60 + 1800, 7, 1.0), # exactly 30 min → MERGES (touching)
        (4, base + 3 * HOUR, 7, 1.0),       # far later → second session
        (5, base + 3 * HOUR + 1801, 7, 1.0),  # 1s past gap → third session
    ]
    d = _write_events(spark, tmp_path, rows, subdir="sess")
    stream = se.stream_events(spark, d)
    out = se.run_to_memory(
        se.session_counts(stream, gap="30 minutes"), spark, output_mode="complete"
    )
    got = sorted((r.n_events for r in out.collect()))
    assert got == [1, 1, 3]


def test_stateful_running_totals_match_batch(spark, tmp_path):
    rows = [(i, 3_000_000 + i, i % 4, float(i)) for i in range(40)]
    d = _write_events(spark, tmp_path, rows, subdir="st")
    stream = se.stream_events(spark, d)
    out = se.run_to_memory(
        se.running_totals_stateful(stream), spark, output_mode="update"
    )
    got = {(r.user_id, r.n_events, r.total_value) for r in out.collect()}
    want = {
        (u, 10, float(sum(i for i in range(40) if i % 4 == u)))
        for u in range(4)
    }
    assert got == want


def test_stream_dedup_matches_batch_distinct(spark, tmp_path):
    # 60 events over 3 users, all 'click' → dedup on (user_id) keeps 3
    rows = [(i, 1_000_000 + i, i % 3, 1.0) for i in range(60)]
    d = _write_events(spark, tmp_path, rows, subdir="dd")
    stream = se.stream_events(spark, d)
    deduped = se.dedup_within_watermark(stream, ["user_id"], watermark="1 hour")
    out = se.run_to_memory(deduped, spark, output_mode="append")
    assert sorted(r.user_id for r in out.select("user_id").collect()) == [0, 1, 2]


def test_stream_dedup_across_microbatches(spark, tmp_path):
    # same keys split across two files; maxFilesPerTrigger=1 forces two
    # micro-batches — state from batch 1 must still drop batch-2 dupes
    # (all within the watermark horizon)
    rows = [(i, 1_000_000 + i, i % 4, 1.0) for i in range(40)]
    d = _write_events(spark, tmp_path, rows, subdir="dd2", n_files=2)
    stream = se.stream_events(spark, d, max_files_per_trigger=1)
    deduped = se.dedup_within_watermark(stream, ["user_id"], watermark="1 day")
    out = se.run_to_memory(deduped, spark, output_mode="append")
    assert out.count() == 4


def test_stream_events_adapts_to_us_ntz_fixture(spark, tmp_path):
    """Round-5 fixture generation ships events.ts as naive timestamp[us]
    (TIMESTAMP_NTZ to Spark). The file stream takes a DECLARED schema, so
    a wrong declaration silently misreads (us-as-ns collapses every
    timestamp into 1970); the footer sniff must pick the NTZ schema and
    normalize ts to the same instants the long-ns path produces."""
    import datetime as dt

    d = os.path.join(str(tmp_path), "ev_us")
    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    df = spark.createDataFrame(
        [
            (i, base + dt.timedelta(hours=i), i % 3, "click", 1.0, "{}")
            for i in range(6)
        ],
        "event_id bigint, ts timestamp_ntz, user_id bigint, "
        "event_type string, value double, props string",
    )
    df.coalesce(1).write.parquet(d)
    assert not se._ts_needs_long_read(d)
    stream = se.stream_events(spark, d)
    out = se.run_to_memory(
        se.tumbling_counts(stream, watermark=None), spark, output_mode="complete"
    )
    got = {(r.window_start, r.n) for r in out.collect()}
    # one event per hourly window, at the declared wall-clock hours
    assert len(got) == 6 and all(n == 1 for _, n in got)
    starts = sorted(ws for ws, _ in got)
    assert starts[0].hour == 12 and starts[-1].hour == 17


def test_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream interval join run to completion == batch inequality
    join. Purchases land 0–45 min after clicks; only gaps ≤ 30 min match."""
    MIN = 60
    clicks = [(i, 1_000_000 + i * HOUR, i % 4, 1.0) for i in range(8)]
    purchases = [
        (100 + i, 1_000_000 + i * HOUR + (i % 4) * 15 * MIN, i % 4, 2.0)
        for i in range(8)
    ]
    d = _write_events(spark, tmp_path, clicks + purchases, subdir="ij")
    # rewrite with two event types: clicks get type 'click', purchases 'purchase'
    batch = spark.read.schema(se.EVENTS_SCHEMA).parquet(d).withColumn(
        "ts", F.timestamp_micros(F.expr("ts div 1000"))
    ).withColumn(
        "event_type",
        F.when(F.col("event_id") >= 100, "purchase").otherwise("click"),
    )
    d2 = os.path.join(str(tmp_path), "ij2")
    batch.write.parquet(d2)

    stream = se.stream_staged(spark, d2, max_files_per_trigger=None)
    c = stream.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    p = stream.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    )
    joined = se.stream_stream_interval_join(
        c, p, left_on="c_user", right_on="p_user",
        left_ts="click_ts", right_ts="purchase_ts",
        max_gap="30 minutes", watermark="2 hours",
    )
    got = {
        (r.click_id, r.purchase_id)
        for r in se.run_to_memory(joined, spark, output_mode="append").collect()
    }

    bc = batch.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    bp = batch.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    )
    want = {
        (r.click_id, r.purchase_id)
        for r in bc.join(
            bp,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr("interval 30 minutes")
            ),
        ).collect()
    }
    assert got == want and want  # non-trivial: some pairs match, some don't
    # the 45-min-gap purchases must NOT have matched their own click
    assert all(
        (pid - 100) % 4 != 3 or pid - 100 != cid for cid, pid in got
    )


def test_upsert_latest_per_key_multi_batch(spark, tmp_path):
    """foreachBatch upsert across multiple micro-batches equals batch
    latest-per-key, regardless of arrival order (later event times land
    in an EARLIER file)."""
    # user 1: latest ts=2000 arrives in file 1; stale ts=1000 in file 2
    # user 2: ties on ts -> higher event_id wins; spread across files
    rows_f1 = [(10, 2000, 1, 5.0), (20, 500, 2, 1.0)]
    rows_f2 = [(11, 1000, 1, 7.0), (21, 500, 2, 3.0)]
    d = os.path.join(str(tmp_path), "ups")
    for i, part in enumerate((rows_f1, rows_f2)):
        spark.createDataFrame(
            [(eid, float(ts), uid, "e", val) for eid, ts, uid, val in part],
            "event_id bigint, ts double, user_id bigint, t string, value double",
        ).withColumn("ts", F.timestamp_seconds("ts")).coalesce(1).write.mode(
            "append"
        ).parquet(d)

    stream = se.stream_staged(spark, d, max_files_per_trigger=1)
    state = se.upsert_latest_per_key(
        stream,
        state_dir=os.path.join(str(tmp_path), "state"),
        keys=["user_id"],
        ts_col="ts",
        tie_col="event_id",
    )
    got = {(r.user_id, r.event_id, r.value) for r in state.collect()}
    assert got == {(1, 10, 5.0), (2, 21, 3.0)}


def test_stream_minhash_dedup_incremental(spark, tmp_path):
    """Incremental LSH dedup across micro-batches: exact copies of
    already-retained docs are dropped (signature match = 1.0 ≥ any
    threshold), near-dups with high shingle overlap are dropped, novel
    docs survive, and intra-batch duplicates collapse to the smaller id."""
    from spark_ml_showcase_spark.streaming import corpus as sc_

    base = "the quick brown fox jumps over the lazy dog while rain falls on the old stone bridge at dawn every single day"
    variant = base.rsplit(" ", 1)[0] + " night"  # one word changed
    novel1 = "completely different words about spark partitions shuffles and broadcast joins in a distributed analytics engine running at scale"
    novel2 = "yet another unrelated document mentioning tokenizers embeddings quality filters and corpus assembly for language model training runs"
    batch1 = [(1, base), (2, novel1)]
    batch2 = [(101, base), (102, variant), (103, novel2), (104, novel2)]
    d = os.path.join(str(tmp_path), "docs")
    for part in (batch1, batch2):
        spark.createDataFrame(part, "doc_id bigint, text string").coalesce(
            1
        ).write.mode("append").parquet(d)

    stream = se.stream_staged(spark, d, max_files_per_trigger=1)
    kept = sc_.stream_minhash_dedup(
        stream,
        state_dir=os.path.join(str(tmp_path), "lsh_state"),
        ngram=3,
        k=32,
        bands=8,
        threshold=0.5,
    )
    got = {r.doc_id for r in kept.collect()}
    # 101 = exact copy of retained 1 → dropped; 102 = near-dup of 1 →
    # dropped; 103 survives (novel); 104 = intra-batch copy of 103 → dropped
    assert got == {1, 2, 103}


def test_stream_minhash_dedup_retains_short_docs(spark, tmp_path):
    """Docs with fewer than `ngram` tokens shingle to nothing; the batch
    pipeline retains them (no candidate pairs), and the stream must too —
    the pre-fix behavior silently dropped them (advisor r5: neither kept
    nor flagged). They come back with an EMPTY placeholder signature."""
    from spark_ml_showcase_spark.streaming import corpus as sc_

    long1 = "the quick brown fox jumps over the lazy dog near the river bank at noon"
    batch1 = [(1, long1), (2, "too short")]          # 2 tokens < ngram=3
    batch2 = [(10, "tiny"), (11, "too short"), (12, long1)]
    d = os.path.join(str(tmp_path), "docs")
    for part in (batch1, batch2):
        spark.createDataFrame(part, "doc_id bigint, text string").coalesce(
            1
        ).write.mode("append").parquet(d)

    stream = se.stream_staged(spark, d, max_files_per_trigger=1)
    kept = sc_.stream_minhash_dedup(
        stream,
        state_dir=os.path.join(str(tmp_path), "lsh_state"),
        ngram=3,
        k=32,
        bands=8,
        threshold=0.5,
    )
    rows = {r.doc_id: r.signature for r in kept.collect()}
    # 12 is an exact dup of 1 → dropped; every zero-shingle doc survives
    # (incl. 11, an exact text copy of 2 — matches batch semantics: no
    # shingles, no candidate pairs, both retained)
    assert set(rows) == {1, 2, 10, 11}
    assert rows[2] == [] and rows[10] == [] and rows[11] == []
    assert len(rows[1]) == 32


def test_stream_minhash_dedup_resume_across_calls(spark, tmp_path):
    """resume=True is the actual 100 TB ingestion cadence: one CALL per
    arriving drop. The second call must process only files the
    checkpoint hasn't seen, dedup new docs against everything retained
    by the first call, and return the CUMULATIVE retained corpus —
    without rescanning or re-signing drop 1."""
    import pytest

    from spark_ml_showcase_spark.streaming import corpus as sc_

    base = "the quick brown fox jumps over the lazy dog while rain falls on the old stone bridge at dawn every single day"
    novel = "completely different words about spark partitions shuffles and broadcast joins in a distributed analytics engine running at scale"
    later = "yet another unrelated document mentioning tokenizers embeddings quality filters and corpus assembly for language model training runs"
    d = os.path.join(str(tmp_path), "docs")
    state = os.path.join(str(tmp_path), "lsh_state")
    lsh = dict(ngram=3, k=32, bands=8, threshold=0.5)

    spark.createDataFrame(
        [(1, base), (2, novel)], "doc_id bigint, text string"
    ).coalesce(1).write.mode("append").parquet(d)
    kept1 = sc_.stream_minhash_dedup(
        se.stream_staged(spark, d, max_files_per_trigger=1), state_dir=state, **lsh
    )
    assert {r.doc_id for r in kept1.collect()} == {1, 2}

    # drop 2 arrives: an exact copy of doc 1 (must dedup against the
    # PERSISTED index, not this drop) plus a novel doc
    spark.createDataFrame(
        [(101, base), (102, later)], "doc_id bigint, text string"
    ).coalesce(1).write.mode("append").parquet(d)
    kept2 = sc_.stream_minhash_dedup(
        se.stream_staged(spark, d, max_files_per_trigger=1),
        state_dir=state,
        resume=True,
        **lsh,
    )
    assert {r.doc_id for r in kept2.collect()} == {1, 2, 102}

    # mismatched LSH params on resume must fail loudly, not corrupt
    with pytest.raises(ValueError, match="one LSH scheme"):
        sc_.stream_minhash_dedup(
            se.stream_staged(spark, d, max_files_per_trigger=1),
            state_dir=state,
            resume=True,
            ngram=3,
            k=16,
            bands=8,
            threshold=0.5,
        )


def test_stream_minhash_dedup_compaction_bounds_state_parts(spark, tmp_path):
    """LSM compaction (round 9): across many micro-batches the number of
    live state parts a lookup reads stays bounded by compact_every + 1
    (base + deltas) — it must NOT grow linearly with ingested batches —
    while dedup results are identical to the uncompacted path, including
    dups of docs whose state now lives in the compacted base, and
    resume=True keeps working across a compaction boundary."""
    import json

    from spark_ml_showcase_spark.streaming import corpus as sc_

    words = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu",
        "one two three four five six seven eight nine ten eleven twelve",
        "red orange yellow green blue indigo violet crimson amber teal navy gold",
        "north south east west upper lower inner outer left right front back",
        "spark shuffle broadcast partition executor driver stage task codegen arrow pandas catalyst",
        "apple banana cherry date elderberry fig grape honeydew kiwi lemon mango nectarine",
        "table index column row schema parquet footer statistics predicate pushdown pruning scan",
        "river mountain valley forest desert ocean island plateau canyon glacier tundra marsh",
        "copper silver golden iron nickel cobalt zinc titanium chromium platinum mercury lead",
        "monday tuesday wednesday thursday friday saturday sunday january february march april may",
    ]
    d = os.path.join(str(tmp_path), "docs")
    # drop i carries novel doc i*10 plus (for i>=1) an exact copy of the
    # FIRST doc — by drop 5+ that original's state is in the compacted
    # base, so the copy dropping proves base lookups work
    for i, w in enumerate(words):
        rows = [(i * 10, w)]
        if i >= 1:
            rows.append((i * 10 + 1, words[0]))
        spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(
            1
        ).write.mode("append").parquet(d)

    state = os.path.join(str(tmp_path), "lsh_state")
    kept = sc_.stream_minhash_dedup(
        se.stream_staged(spark, d, max_files_per_trigger=1),
        state_dir=state,
        ngram=3,
        k=32,
        bands=8,
        threshold=0.5,
        compact_every=3,
    )
    assert {r.doc_id for r in kept.collect()} == {i * 10 for i in range(10)}

    man = json.loads(open(os.path.join(state, "base.json")).read())
    assert man["gen"] >= 2, "10 batches at compact_every=3 must compact twice+"
    for sub in ("sigs", "buckets"):
        live = [
            n
            for n in os.listdir(os.path.join(state, sub))
            if os.path.exists(os.path.join(state, sub, n, "_SUCCESS"))
            and (n == f"base_g{man['gen']}" or int(n.lstrip("b")) not in set(man["batch_ids"]))
            if not (n.startswith("base_") and n != f"base_g{man['gen']}")
        ]
        assert len(live) <= 4, f"{sub}: {live} exceeds compact_every+1"

    # resume across the compaction boundary: copy of a base-resident doc
    # drops, novel doc survives, cumulative corpus returned
    spark.createDataFrame(
        [(900, words[2]), (901, "wholly new content regarding streaming state compaction generations and manifests today")],
        "doc_id bigint, text string",
    ).coalesce(1).write.mode("append").parquet(d)
    kept2 = sc_.stream_minhash_dedup(
        se.stream_staged(spark, d, max_files_per_trigger=1),
        state_dir=state,
        resume=True,
        ngram=3,
        k=32,
        bands=8,
        threshold=0.5,
        compact_every=3,
    )
    assert {r.doc_id for r in kept2.collect()} == {i * 10 for i in range(10)} | {901}


def test_stream_minhash_dedup_resume_refuses_legacy_layouts(spark, tmp_path):
    """resume=True against unverifiable state fails loudly: a state dir
    with signatures but no params manifest, and one in the pre-batch-
    subdir flat layout (a _SUCCESS at the sigs root) — silently resuming
    either would dedup against an effectively empty index."""
    import json

    import pytest

    from spark_ml_showcase_spark.streaming import corpus as sc_

    d = os.path.join(str(tmp_path), "docs")
    spark.createDataFrame(
        [(1, "some words here for the stream to chew on today")],
        "doc_id bigint, text string",
    ).coalesce(1).write.parquet(d)

    # (a) signatures, no manifest
    no_manifest = os.path.join(str(tmp_path), "state_a")
    os.makedirs(os.path.join(no_manifest, "sigs"))
    with pytest.raises(ValueError, match="unverifiable"):
        sc_.stream_minhash_dedup(
            se.stream_staged(spark, d), state_dir=no_manifest, resume=True
        )

    # (b) matching manifest but FLAT pre-round-6 layout
    legacy = os.path.join(str(tmp_path), "state_b")
    os.makedirs(os.path.join(legacy, "sigs"))
    with open(os.path.join(legacy, "params.json"), "w") as f:
        json.dump({"ngram": 3, "k": 32, "bands": 8}, f)
    open(os.path.join(legacy, "sigs", "_SUCCESS"), "w").close()
    with pytest.raises(ValueError, match="flat-layout"):
        sc_.stream_minhash_dedup(
            se.stream_staged(spark, d), state_dir=legacy, resume=True
        )


def test_stream_decontaminate_matches_batch(spark, tmp_path):
    """Streaming decontamination (literal-set filter + stream-static
    semi join) classifies docs exactly like the batch operator."""
    from spark_ml_showcase_spark.operators import decontaminate as dc
    from spark_ml_showcase_spark.streaming import corpus as sc_

    docs = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "one two three four five six seven"),
        (3, "alpha beta gamma delta epsilon different tail"),
        (4, "totally unrelated words in this document here"),
        (5, "tiny doc"),  # < n tokens → no shingles → always clean
    ]
    bench = spark.createDataFrame(
        [(100, "prefix alpha beta gamma delta epsilon suffix")],
        "doc_id bigint, text string",
    )
    d = os.path.join(str(tmp_path), "docs")
    spark.createDataFrame(docs, "doc_id bigint, text string").coalesce(
        1
    ).write.parquet(d)

    stream = se.stream_staged(spark, d, max_files_per_trigger=None)
    clean_s, hits_s = sc_.stream_decontaminate(stream, bench, n=5)
    got_clean = {
        r.doc_id
        for r in se.run_to_memory(clean_s, spark, output_mode="append").collect()
    }
    got_hit_docs = {
        r.doc_id
        for r in se.run_to_memory(hits_s, spark, output_mode="append").collect()
    }

    batch_docs = spark.createDataFrame(docs, "doc_id bigint, text string")
    b_clean, b_hits = dc.ngram_decontaminate(batch_docs, bench, n=5)
    assert got_clean == {r.doc_id for r in b_clean.collect()}
    assert got_hit_docs == {r.doc_id for r in b_hits.collect()}
    # sanity on the scenario itself: 1 and 3 share the 5-gram with the
    # benchmark, 2/4/5 are clean
    assert got_clean == {2, 4, 5} and got_hit_docs == {1, 3}


def test_parquet_sink_exactly_once_across_restarts(spark, tmp_path):
    """The checkpointed file sink is exactly-once across query RESTARTS:
    run to exhaustion, land more input, re-run with the SAME checkpoint —
    new rows appear once, old rows are not re-emitted, and an idle
    re-run adds nothing."""
    src = os.path.join(str(tmp_path), "src")
    base = os.path.join(str(tmp_path), "sink")
    data_dir, ckpt = os.path.join(base, "data"), os.path.join(base, "ckpt")

    def land(lo, hi):
        spark.createDataFrame(
            [(i, float(i)) for i in range(lo, hi)], "k bigint, v double"
        ).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        stream = spark.readStream.schema("k bigint, v double").parquet(src)
        q = (
            stream.writeStream.format("parquet")
            .option("path", data_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        return sorted(r.k for r in spark.read.parquet(data_dir).collect())

    land(0, 50)
    assert run_once() == list(range(50))
    land(50, 80)  # new file lands between runs (a "restart" of the job)
    assert run_once() == list(range(80))  # 0-49 NOT duplicated
    assert run_once() == list(range(80))  # idle re-run: no-op


def test_stateful_agg_on_rocksdb_state_store(spark, tmp_path):
    """SCALE.md prescribes the RocksDB state store for large streaming
    state; this proves the provider actually runs our stateful shapes:
    a watermarked tumbling aggregate on RocksDB produces the same
    result as the default (HDFS-backed) provider."""
    rows = [(i, 1_000_000 + (i % 5) * HOUR + i, i % 3, 1.0) for i in range(60)]
    d = _write_events(spark, tmp_path, rows, subdir="rocks")

    def run(provider=None):
        stream = se.stream_events(spark, d)
        s = stream.sparkSession
        if provider:
            s.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
        agg = se.tumbling_counts(stream, watermark=None)
        out = se.run_to_memory(agg, spark, output_mode="complete")
        return {(r.window_start, r.n) for r in out.collect()}

    default = run()
    rocks = run(
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    assert rocks == default and len(rocks) == 5


def test_transform_with_state_matches_batch(spark, tmp_path):
    """transformWithStateInPandas (arbitrary-stateful v2) totals equal
    the plain batch aggregate — parity with the applyInPandasWithState
    twin's contract. Skipped where google.protobuf (the v2 state-server
    wire format) is absent; the gate itself is asserted either way."""
    import pytest

    if not se.tws_available():
        with pytest.raises(ImportError, match="protobuf"):
            se.running_totals_tws(
                se.stream_events(spark, _write_events(spark, tmp_path, [(1, 1, 1, 1.0)], subdir="twsgate"))
            )
        pytest.skip("google.protobuf not in this container; gate verified")
    rows = [(i, 1_000_000 + i, i % 4, float(i % 7)) for i in range(80)]
    d = _write_events(spark, tmp_path, rows, subdir="tws")
    stream = se.stream_events(spark, d)
    totals = se.running_totals_tws(stream)
    out = se.run_to_memory(totals, spark, output_mode="update")
    # last row per user = final state (single batch → one row each)
    final = {r.user_id: (r.n_events, r.total_value) for r in out.collect()}
    want = {}
    for _, _, uid, val in rows:
        n, t = want.get(uid, (0, 0.0))
        want[uid] = (n + 1, t + val)
    assert final == want


def test_empty_stream_paths_return_empty(spark, tmp_path):
    """Zero-row input: the LSH dedup and the upsert sink return EMPTY
    DataFrames with their documented schemas instead of failing on a
    never-created state path."""
    from spark_ml_showcase_spark.streaming import corpus as sc_

    d = os.path.join(str(tmp_path), "emptydocs")
    spark.createDataFrame([], "doc_id bigint, text string").write.parquet(d)

    stream = se.stream_staged(spark, d, max_files_per_trigger=None)
    kept = sc_.stream_minhash_dedup(
        stream, state_dir=os.path.join(str(tmp_path), "st1")
    )
    assert kept.columns == ["doc_id", "signature"] and kept.count() == 0

    d2 = os.path.join(str(tmp_path), "emptyev")
    spark.createDataFrame(
        [], "event_id bigint, ts timestamp, user_id bigint, value double"
    ).write.parquet(d2)
    stream2 = se.stream_staged(spark, d2, max_files_per_trigger=None)
    state = se.upsert_latest_per_key(
        stream2, state_dir=os.path.join(str(tmp_path), "st2"), keys=["user_id"]
    )
    assert state.count() == 0 and "user_id" in state.columns


def test_stream_embedding_drift_equals_batch_twin(spark):
    """X111: the streaming drift monitor's final complete-mode state
    must equal the batch X110 answer row for row (finite stream =
    batch), including every ROUND(6) hash-checked column."""
    from spark_ml_showcase_spark.plans import extensions as E
    from spark_ml_showcase_spark.plans import streaming_queries as SQ

    sf = "/root/testdata/sf0.01"
    batch = [tuple(r) for r in E.embedding_drift_by_source(spark, sf).collect()]
    stream = [tuple(r) for r in SQ.stream_embedding_drift(spark, sf).collect()]
    assert batch == stream
    assert len(batch) > 0


def test_memory_sink_result_plans_downstream_without_shuffles(spark):
    """``run_to_memory`` returns the sink as one partition: a groupBy,
    a join and an orderBy over it plan no exchange but a broadcast, and
    the answer equals the batch one."""
    import re

    from conftest import SF_SMALL

    from spark_ml_showcase_spark.sources.catalog import Catalog
    from spark_ml_showcase_spark.sources.local import local_frame

    path = os.path.join(SF_SMALL, "events.parquet")
    counts = se.run_to_memory(
        se.tumbling_counts(se.stream_events(spark, path), watermark=None),
        spark,
        output_mode="complete",
    )
    s = counts.sparkSession
    hours = local_frame(s, [(h, h % 2 == 0) for h in range(24)], "h int, even boolean")
    out = (
        counts.groupBy(F.hour("window_start").alias("h"))
        .agg(F.sum("n").alias("n"))
        .join(hours, "h")
        .orderBy("h")
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    shuffles = [
        ln for ln in plan.splitlines() if re.search(r"(?<!Broadcast)Exchange ", ln)
    ]
    assert shuffles == [], plan
    want = (
        Catalog(spark, SF_SMALL)
        .events.groupBy(F.hour("ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert [(r.h, r.n) for r in out.collect()] == sorted(
        (r.h, r.n) for r in want.collect()
    )


def test_embedding_drift_scans_its_stream_once(spark, monkeypatch):
    """The drift stream reads each embedding row once (norm and elements
    come out of one ``inline``), so its batch reports as many input
    rows as the table has."""
    import json

    from conftest import SF_SMALL
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from spark_ml_showcase_spark.plans import registry

    started = []
    start = DataStreamWriter.start

    def recording_start(self, *args, **kwargs):
        q = start(self, *args, **kwargs)
        started.append(q)
        return q

    monkeypatch.setattr(DataStreamWriter, "start", recording_start)
    registry()["stream_embedding_drift"](spark, SF_SMALL).collect()
    rows = [
        int(json.loads(p.json)["numInputRows"])
        for q in started
        for p in q.recentProgress
    ]
    n = spark.read.parquet(os.path.join(SF_SMALL, "embeddings.parquet")).count()
    assert len(started) == 1 and sum(rows) == n and max(rows) == n
