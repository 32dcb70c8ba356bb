"""Streaming event-time processing over the ``events`` table shape
(event_id, ts, user_id, event_type, value, props).

The reference has NO streaming (SURVEY §2.10); this is engine surface the
brief requires. The batch twins of these aggregations
(``plans/relational.py`` tumbling/sliding/session queries) are
oracle-checked; the streaming path is verified by running file-source
streams to completion (``Trigger.AvailableNow``) and comparing against
the batch results (``tests/test_streaming.py``), plus a registered
stream-vs-oracle query (``plans/streaming_queries.py``).

Semantics notes:
- ``with_watermark(delay)`` bounds state: windows older than
  (max event time seen − delay) are finalized and their state dropped;
  events arriving later than that are DISCARDED. In append output mode a
  window emits only once its end passes the watermark.
- ``session_window`` windows that TOUCH are merged: an event exactly
  ``gap`` after the previous one stays IN-session (pinned by
  tests/test_windows_sessions.py; the batch oracle splits on
  strictly-greater gaps).
- State stores shuffle on the grouping key, one store instance per
  state partition, and every instance commits every micro-batch. Each
  stream runs on its own session (``_stream_session``) whose state
  width comes from the width policy over the source's bytes
  (``functions.partitioning.STREAM_STATE_BYTES_PER_TASK``): one
  partition at fixture scale, where a commit per partition is the cost,
  the session's parallelism on a large source. Prefer the RocksDB state
  store for large state.
- ``run_to_memory`` returns the memory sink as one partition: its rows
  already sit in the driver JVM, and downstream batch work over them
  then plans with no exchange.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StructType, TimestampNTZType

from spark_ml_showcase_spark.functions import partitioning
from spark_ml_showcase_spark.sources.io import run_dir, staged_dir
from spark_ml_showcase_spark.sources.local import local_frame

EVENTS_SCHEMA = (
    "event_id bigint, ts bigint, user_id bigint, event_type string, "
    "value double, props string"
)
EVENTS_SCHEMA_NTZ = (
    "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, "
    "value double, props string"
)


def _ts_needs_long_read(path: str) -> bool:
    """Sniff the parquet footer for events.ts's physical type. The file
    stream takes a user-declared schema, so a wrong declaration doesn't
    fail — it silently misreads (µs values interpreted as ns collapse
    every timestamp into early 1970). The fixture generator has shipped
    both TIMESTAMP(NANOS) and timestamp[us] across rounds, and the test
    fixtures write plain int64 ns — adapt, don't assume. True → read ts
    as bigint ns (TIMESTAMP(NANOS) or raw int64); False → timestamp[us]
    naive, read as timestamp_ntz."""
    import pyarrow.parquet as pq

    f = path
    if os.path.isdir(path):
        names = [n for n in sorted(os.listdir(path)) if n.endswith(".parquet")]
        if not names:
            return True
        f = os.path.join(path, names[0])
    try:
        t = pq.read_schema(f).field("ts").type
    except (OSError, KeyError, ValueError):
        return True
    return getattr(t, "unit", None) != "us"


def _as_stream_dir(path: str) -> str:
    """The file-stream source requires a DIRECTORY; testdata ships single
    parquet files. Stage a per-path dir under the process's scratch root
    containing a symlink (copy fallback) to the file. Idempotent within
    a run."""
    if os.path.isdir(path):
        return path
    digest = hashlib.sha256(os.path.abspath(path).encode()).hexdigest()[:16]
    d = run_dir("stream_src", digest)
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, os.path.basename(path))
    if not os.path.exists(link):
        try:
            os.symlink(os.path.abspath(path), link)
        except OSError:
            shutil.copyfile(path, link)
    return d


def _path_bytes(path: str) -> int:
    """Bytes of a parquet file, or of every file under a directory."""
    if not os.path.isdir(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )


def _stream_session(spark: SparkSession, source: str) -> SparkSession:
    """Isolated session for one finite stream run over ``source``.
    Streaming state shuffles on ``spark.sql.shuffle.partitions`` as of
    CHECKPOINT creation, one state-store instance per partition per
    stateful operator, and every instance commits every micro-batch.
    The width is the policy's (``partitioning.width``) over the
    source's bytes at ``STREAM_STATE_BYTES_PER_TASK``: one partition at
    fixture scale, the session's parallelism on a large source.
    ``newSession()`` shares the SparkContext but owns its conf, so the
    stream gets its state layout without mutating (or racing —
    micro-batches plan asynchronously) the caller's session."""
    s = spark.newSession()
    s.conf.set(
        "spark.sql.shuffle.partitions",
        str(
            partitioning.width(
                spark, _path_bytes(source), partitioning.STREAM_STATE_BYTES_PER_TASK
            )
        ),
    )
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.conf.set("spark.sql.session.timeZone", "UTC")
    provider = os.environ.get("SMS_STATESTORE_PROVIDER")
    if provider:
        s.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
    return s


def stream_events(
    spark: SparkSession, path: str, *, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over events parquet, normalizing ``ts`` to a
    session-UTC timestamp whichever physical type the fixture generation
    used (TIMESTAMP(NANOS) → read as long + div-1000 convert;
    timestamp[us] naive → read as timestamp_ntz + cast), exactly like
    ``sources.catalog.Catalog``. Runs on an isolated per-stream session
    (``_stream_session``) with a work-sized state width."""
    spark = _stream_session(spark, path)
    nanos = _ts_needs_long_read(path)
    reader = spark.readStream.schema(EVENTS_SCHEMA if nanos else EVENTS_SCHEMA_NTZ)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(_as_stream_dir(path))
    if isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(df.schema["ts"].dataType, TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def tumbling_counts(
    events: DataFrame, *, window: str = "1 hour", watermark: str | None = "2 hours"
) -> DataFrame:
    """Streaming twin of plans/relational.tumbling_hourly_counts."""
    if watermark:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.window("ts", window))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n",
        )
    )


def session_counts(
    events: DataFrame, *, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming session windows per user (batch twin:
    session_windows_30m). Session aggregation REQUIRES a watermark in
    streaming — unbounded session state cannot be finalized without one."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )


def dedup_within_watermark(
    events: DataFrame, keys: list[str], *, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exact dedup for incremental corpus ingestion — the
    streaming twin of ``operators.dedup.exact_dedup``.

    ``dropDuplicatesWithinWatermark`` keeps ONE state entry per key and
    expires it once the watermark passes the key's last-seen event time —
    so state is bounded by (keys active within the watermark horizon),
    not by total stream history. That is the property that makes exact
    dedup viable on an unbounded 100 TB/day feed: an unscoped
    ``dropDuplicates`` would grow state forever.

    The event-time column named by the upstream ``withWatermark`` must
    remain in ``events``; duplicates separated by more than the watermark
    delay can BOTH survive (by design — that's the bounded-state trade).
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def running_totals_stateful(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    cumulative event count + value sum maintained in explicit state —
    the extension point for operators Spark's built-in windows can't
    express (the brief's 'custom stateful streaming' item).

    Output (per user per micro-batch): user_id, n_events, total_value.
    """
    import pandas as pd

    output_schema = "user_id bigint, n_events bigint, total_value double"
    state_schema = StructType.fromDDL("n bigint, total double")

    def update(
        key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        (user_id,) = key
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        output_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def run_to_parquet(
    stream_df: DataFrame,
    spark: SparkSession,
    *,
    out_dir: str | None = None,
    timeout_sec: int = 240,
) -> DataFrame:
    """Run a streaming DataFrame to exhaustion (AvailableNow) through the
    PRODUCTION sink shape — append-mode parquet file sink with a
    checkpoint directory (exactly-once via checkpoint offsets + the file
    sink's output manifest) — then return the sink contents as a batch
    DataFrame.

    DESTRUCTIVE: a pre-existing ``out_dir`` is deleted wholesale before
    the run (sink + checkpoint must start empty for a deterministic
    result). Pass a dedicated directory, or omit ``out_dir`` for a fresh
    path per call under the process's scratch root.

    Append mode emits a window only once the watermark passes its end,
    so the sink holds exactly the FINALIZED windows: with a finite
    source the final watermark is max(event time) − delay, and windows
    ending after it are (correctly) never written. AvailableNow runs a
    final no-new-data batch that advances the watermark and flushes
    eligible state before terminating.
    """
    base = out_dir or run_dir("stream_sink", uuid.uuid4().hex[:12])
    if os.path.isdir(base):
        shutil.rmtree(base)
    data_dir = os.path.join(base, "data")
    ckpt_dir = os.path.join(base, "ckpt")
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", data_dir)
        .option("checkpointLocation", ckpt_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        finished = q.awaitTermination(timeout_sec)
        if not finished:
            raise TimeoutError(
                f"streaming parquet sink did not finish within "
                f"{timeout_sec}s; refusing to read a partial sink"
            )
    finally:
        if q.isActive:
            q.stop()
    # read back via the STREAM's session (the file sink is session-
    # agnostic, but the stream may run on an isolated _stream_session)
    return stream_df.sparkSession.read.parquet(data_dir)


def run_to_memory(
    stream_df: DataFrame,
    spark: SparkSession,
    *,
    output_mode: str = "complete",
    name: str | None = None,
    timeout_sec: int = 120,
) -> DataFrame:
    """Run a streaming DataFrame to exhaustion (AvailableNow) into a
    memory sink and return the result as a single-partition BATCH
    DataFrame. Test/driver harness — a production job would writeStream
    to parquet/Kafka with a checkpoint dir instead.

    Memory-sink rows sit in the driver JVM at any scale, so the result
    is read as one partition, like ``sources.local.local_frame``: its
    plan reports ``SinglePartition`` and a downstream aggregate, join or
    sort plans with no exchange."""
    name = name or f"mem_{uuid.uuid4().hex[:12]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        finished = q.awaitTermination(timeout_sec)
        if not finished:
            # Partial memory table ≠ stream result: surfacing the timeout
            # keeps a slow machine from turning into a silent wrong answer
            # in the stream-vs-oracle correctness queries.
            raise TimeoutError(
                f"streaming query {name!r} did not finish within "
                f"{timeout_sec}s; refusing to return a partial result"
            )
    finally:
        if q.isActive:
            q.stop()
    # memory-sink tables are SESSION-scoped: resolve through the
    # stream's own session (an isolated _stream_session, not
    # necessarily the `spark` the caller passed)
    return stream_df.sparkSession.table(name).coalesce(1)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_on: str,
    right_on: str,
    left_ts: str,
    right_ts: str,
    max_gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream INNER equi-join with a time-interval constraint:
    ``left_on = right_on AND right_ts ∈ [left_ts, left_ts + max_gap]``
    (the attribution-window shape: purchases joined to the clicks they
    followed within ``max_gap``).

    ALL four column names must be distinct between the two sides
    (pre-rename before calling) so the joined row keeps both halves
    unambiguously — the streaming join has no ``on=[name]``
    deduplicating shorthand worth the ambiguity.

    Both sides are watermarked, which is what lets Spark bound the join
    STATE on an unbounded stream: a buffered left row stops waiting for
    matches once the right watermark passes ``left_ts + max_gap``, and
    buffered right rows expire once the left watermark passes their
    event time — without the time bound in the join condition the state
    would grow forever. That state-cleanup contract is the whole reason
    this is an operator and not just ``.join`` with a filter.

    The reference has no streaming at all (SURVEY §2.10); this is the
    engine-surface twin of the batch interval join, verified against a
    plain batch/DuckDB inequality join when the finite stream runs to
    completion (AvailableNow): inner-join results are complete because
    state eviction only ever drops rows whose match window has provably
    passed.
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (F.col(left_on) == F.col(right_on))
        & (F.col(right_ts) >= F.col(left_ts))
        & (F.col(right_ts) <= F.expr(f"{left_ts} + interval {max_gap}"))
    )
    return lw.join(rw, cond, "inner")


def stage_events_split(
    spark: SparkSession, sf_dir: str, *, n_files: int = 4
) -> str:
    """Re-stage the single-file events fixture as ``n_files`` parquet
    files so a file-source stream with ``maxFilesPerTrigger=1`` replays
    them as ``n_files`` separate micro-batches — the multi-batch
    incremental shape the foreachBatch upsert sink needs to demonstrate
    anything (a one-file fixture collapses to a single merge).

    Files are ranged on ``event_id`` (NOT time), so micro-batches
    interleave in event time — deliberately: an upsert keyed on
    event-time ordering must be ARRIVAL-ORDER independent, and this
    staging makes the test actually exercise that.

    Staged once per process and per source content
    (``sources.io.staged_dir``). Returns the staged directory path.
    """
    from spark_ml_showcase_spark.sources.catalog import Catalog

    def build(out: str) -> None:
        Catalog(spark, sf_dir).events.repartitionByRange(
            n_files, "event_id"
        ).write.parquet(out)

    return staged_dir(
        f"events_{n_files}parts", os.path.join(sf_dir, "events.parquet"), build
    )


def stream_staged(
    spark: SparkSession, staged_dir: str, *, max_files_per_trigger: int | None = 1
) -> DataFrame:
    """File-source stream over a directory staged by
    ``stage_events_split`` (Spark-written parquet: ts is already a
    normalized UTC timestamp — no NANOS/NTZ adaptation needed). Runs on
    an isolated ``_stream_session``; the declared schema is taken from a
    batch read of the same directory."""
    spark = _stream_session(spark, staged_dir)
    schema = spark.read.parquet(staged_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(staged_dir)


def upsert_latest_per_key(
    stream_df: DataFrame,
    *,
    state_dir: str,
    keys: list[str],
    ts_col: str = "ts",
    tie_col: str = "event_id",
    timeout_sec: int = 240,
) -> DataFrame:
    """foreachBatch SCD-1 upsert sink: maintain, across micro-batches,
    the LATEST row per ``keys`` (greatest ``ts_col``, then greatest
    ``tie_col`` — a total order, so the result is arrival-order
    independent). Runs the stream to exhaustion (AvailableNow) and
    returns the final state as a batch DataFrame.

    Each batch merges into a parquet state directory: read current
    state, union the batch, keep row_number()=1 per key, write a new
    version, atomically promote it. This is the poor-man's MERGE — on a
    real deployment the state table would be Delta/Iceberg and the merge
    a storage-level MERGE INTO; the foreachBatch driver logic (the part
    Spark itself provides no operator for) is identical. Rewriting the
    whole state per batch is O(state) per micro-batch — fine for a
    dimension-table-sized state (latest-per-user), the documented scope;
    a 100 TB fact-state upsert belongs in a MERGE-capable table format,
    not a parquet swap.

    DESTRUCTIVE: ``state_dir`` is wiped at the start of each call (a
    deterministic result needs an empty initial state).
    """
    from pyspark.sql import Window

    if os.path.isdir(state_dir):
        shutil.rmtree(state_dir)
    os.makedirs(state_dir, exist_ok=True)
    cur_dir = os.path.join(state_dir, "current")
    ckpt_dir = os.path.join(state_dir, "ckpt")
    w = Window.partitionBy(*keys).orderBy(
        F.col(ts_col).desc(), F.col(tie_col).desc()
    )
    cols = stream_df.columns

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        merged = batch_df.select(cols)
        if os.path.exists(os.path.join(cur_dir, "_SUCCESS")):
            merged = s.read.parquet(cur_dir).select(cols).unionByName(merged)
        latest = (
            merged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        nxt = os.path.join(state_dir, f"v{batch_id}")
        # write (materializes BEFORE the swap — the read above still
        # sees the old `current`), then promote atomically-enough: the
        # only reader is the next micro-batch of this same query, which
        # cannot overlap with this one.
        latest.write.mode("overwrite").parquet(nxt)
        old = cur_dir + ".old"
        if os.path.isdir(cur_dir):
            os.rename(cur_dir, old)
        os.rename(nxt, cur_dir)
        shutil.rmtree(old, ignore_errors=True)

    q = (
        stream_df.writeStream.foreachBatch(merge)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        finished = q.awaitTermination(timeout_sec)
        if not finished:
            raise TimeoutError(
                f"foreachBatch upsert did not finish within {timeout_sec}s; "
                "refusing to read a partial state"
            )
    finally:
        if q.isActive:
            q.stop()
    s = stream_df.sparkSession
    if not os.path.exists(os.path.join(cur_dir, "_SUCCESS")):
        # zero input → no batch ever ran → empty state, same schema
        return local_frame(s, [], stream_df.schema)
    return s.read.parquet(cur_dir)


def tws_available() -> bool:
    """``transformWithStateInPandas`` (arbitrary-stateful v2) talks to
    its state server over protobuf; without ``google.protobuf`` the
    driver worker crashes at init. Gate, per the environment rule:
    no installs — the operator is real, the dependency is declared."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def running_totals_tws(events: DataFrame) -> DataFrame:
    """Per-user running totals on ``transformWithStateInPandas`` — the
    Spark 4 arbitrary-stateful API (state-store v2: typed state
    handles, optional per-state TTL, timers) and the successor to
    ``running_totals_stateful``'s ``applyInPandasWithState``. Same
    output contract as that operator: one (user_id, n_events,
    total_value) row per user per micro-batch, last row per user = the
    final state.

    Requires the RocksDB state store provider (set on the stream's
    session here) AND ``google.protobuf`` (check :func:`tws_available`
    first — this container ships without it, so the operator is
    exercised wherever the dependency exists and skipped cleanly here).
    """
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    if not tws_available():
        raise ImportError(
            "transformWithStateInPandas needs google.protobuf; "
            "use running_totals_stateful (applyInPandasWithState) instead"
        )

    class Totals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", "n bigint, total double")

        def handleInputRows(self, key, rows, timerValues):
            n, total = self._agg.get() if self._agg.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._agg.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
            )

        def close(self) -> None:
            pass

    s = events.sparkSession
    s.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    return events.groupBy("user_id").transformWithStateInPandas(
        Totals(),
        "user_id bigint, n_events bigint, total_value double",
        outputMode="Update",
        timeMode="None",
    )
