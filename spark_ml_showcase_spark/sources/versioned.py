"""Versioned snapshot store: manifest-listed parquet snapshots with
time travel and snapshot diff — the corpus-reproducibility layer of a
training-data pipeline ("training run R read corpus snapshot v3"),
re-expressed with plain Spark + parquet + JSON manifests (the
Iceberg/Delta mechanism at its core, no table-format dependency).

Layout under a table directory::

    table/
      data/v0003-<token>/part-*.parquet   -- immutable data files
      _manifest/v0003.json                -- commit record for v3

A version IS its manifest: a JSON file naming the snapshot's data files
(relative paths), schema, row count, and parent version. Commits are
atomic via write-temp + ``os.link`` onto the final manifest name —
readers either see a complete manifest or none, and link(2) FAILS with
EEXIST if the name is taken, so of two racing writers that picked the
same version exactly one wins and the loser gets a
:class:`SnapshotConflict` (the optimistic-concurrency contract; a
check-then-rename would let the later rename silently replace the
winner's manifest).

Why this scales to 100 TB:

- **Readers never list data directories.** A read plans from ONE small
  JSON file straight to an explicit parquet file list — O(manifest)
  metadata, not O(files-in-table) object-store listing. Column pruning
  and predicate pushdown apply unchanged (it is a plain parquet scan).
- **Snapshots share files.** ``parent_files`` carry forward unchanged;
  an append-only commit writes only the new partition of data. Nothing
  is ever mutated or deleted by a commit, so time travel is free and
  old training runs stay reproducible until an explicit GC.
- **Diff is a join, not a listing.** :func:`snapshot_diff` compares two
  versions by key + row fingerprint (xxhash64 over the compared
  columns): one shuffle on the key, fixed-width comparison, never a
  row-value shuffle of the wide columns.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from spark_ml_showcase_spark.sources.local import local_frame


class SnapshotConflict(RuntimeError):
    """Another writer committed the same version first (optimistic
    concurrency): re-read latest and retry the commit."""


def _manifest_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "_manifest")


def snapshot_versions(table_dir: str) -> list[int]:
    """Committed versions, ascending. Only complete manifests count."""
    mdir = _manifest_dir(table_dir)
    if not os.path.isdir(mdir):
        return []
    out = []
    for f in os.listdir(mdir):
        if f.startswith("v") and f.endswith(".json"):
            try:
                out.append(int(f[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def _read_manifest(table_dir: str, version: int) -> dict:
    path = os.path.join(_manifest_dir(table_dir), f"v{version:04d}.json")
    with open(path) as fh:
        return json.load(fh)


def write_snapshot(
    df: DataFrame,
    table_dir: str,
    *,
    append: bool = False,
    expected_parent: int | None = None,
    batch_id: int | None = None,
) -> int:
    """Commit ``df`` as the next snapshot of ``table_dir``; returns the
    new version number.

    ``append=False`` (default) commits ``df`` as the FULL new contents
    (the snapshot lists only the new files). ``append=True`` lists the
    parent's files plus the new ones — an incremental corpus drop that
    rewrites nothing.

    ``expected_parent`` opts into optimistic concurrency: if another
    writer committed since the caller read that version, the commit
    raises :class:`SnapshotConflict` instead of silently branching
    history.
    """
    versions = snapshot_versions(table_dir)
    parent = versions[-1] if versions else None
    if expected_parent is not None and parent != expected_parent:
        raise SnapshotConflict(
            f"expected parent {expected_parent}, found {parent}"
        )
    version = (parent + 1) if parent is not None else 0

    token = uuid.uuid4().hex[:12]
    rel_dir = os.path.join("data", f"v{version:04d}-{token}")
    out_dir = os.path.join(table_dir, rel_dir)
    df.write.mode("errorifexists").parquet(out_dir)
    files = sorted(
        os.path.join(rel_dir, f)
        for f in os.listdir(out_dir)
        if f.endswith(".parquet")
    )
    n_rows = sum(
        _parquet_rows(os.path.join(table_dir, f)) for f in files
    )
    parent_files: list[str] = []
    parent_rows = 0
    if append and parent is not None:
        pm = _read_manifest(table_dir, parent)
        parent_files = pm["files"]
        parent_rows = pm["n_rows"]
    manifest = {
        "version": version,
        "parent": parent,
        "files": parent_files + files,
        "n_rows": parent_rows + n_rows if append else n_rows,
        "schema": df.schema.jsonValue(),
    }
    if batch_id is not None:
        # streaming ingestion stamps the micro-batch id so a replayed
        # batch (at-least-once foreachBatch) can be recognized and
        # skipped — see stream_append_snapshots
        manifest["batch_id"] = batch_id

    _commit_manifest(table_dir, manifest, token)
    return version


def _commit_manifest(table_dir: str, manifest: dict, token: str) -> None:
    """The commit critical section, shared by every writer: publish
    ``manifest`` as version ``manifest['version']`` or raise
    :class:`SnapshotConflict` leaving the winner untouched. Factored
    out of :func:`write_snapshot` so the multiprocessing stress test
    (tests/test_versioned.py) can hammer the REAL protocol from
    Spark-less worker processes rather than a re-implementation.

    link(2) is atomic create-exclusive: EEXIST means another writer
    committed this version between our pick and now, and their manifest
    is untouched. A rename here would silently REPLACE the winner's
    manifest — a lost commit with orphaned data files.
    """
    mdir = _manifest_dir(table_dir)
    os.makedirs(mdir, exist_ok=True)
    version = manifest["version"]
    final = os.path.join(mdir, f"v{version:04d}.json")
    tmp = os.path.join(mdir, f".tmp-{token}.json")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    try:
        os.link(tmp, final)
    except FileExistsError:
        os.unlink(tmp)
        raise SnapshotConflict(
            f"version {version} already committed"
        ) from None
    os.unlink(tmp)


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def read_snapshot(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read a snapshot — latest by default, or time-travel to
    ``version``. Plans directly from the manifest's file list."""
    versions = snapshot_versions(table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots in {table_dir}")
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise FileNotFoundError(
            f"version {version} not in {versions} at {table_dir}"
        )
    m = _read_manifest(table_dir, version)
    if not m["files"]:
        return local_frame(spark, [], schema=_schema_from_json(m["schema"]))
    paths = [os.path.join(table_dir, f) for f in m["files"]]
    # Schema evolution: an append commit may add columns, so a
    # snapshot's file set can span schema generations. mergeSchema
    # unions them; projecting onto the MANIFEST schema (the commit's
    # declared contract) fills pre-evolution rows with NULL and keeps
    # the column order/naming the committer saw. Time travel to an
    # older version naturally reads the older, narrower schema.
    df = spark.read.option("mergeSchema", "true").parquet(*paths)
    declared = _schema_from_json(m["schema"])
    return df.select(
        *[
            F.col(f.name) if f.name in df.columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in declared.fields
        ]
    )


def _schema_from_json(schema_json: dict):
    from pyspark.sql.types import StructType

    return StructType.fromJson(schema_json)


def snapshot_diff(
    spark: SparkSession,
    table_dir: str,
    v_old: int,
    v_new: int,
    key_col: str,
    compare_cols: list[str],
) -> DataFrame:
    """Row-level diff between two committed versions:
    ``(key_col, change)`` with ``change`` ∈ {'added', 'removed',
    'changed'} (unchanged rows are omitted). 'changed' compares an
    xxhash64 fingerprint over ``compare_cols`` — fixed-width, so the
    join shuffles (key, hash) pairs, never the compared values."""
    old = read_snapshot(spark, table_dir, v_old).select(
        F.col(key_col).alias("_k"),
        F.xxhash64(*compare_cols).alias("_h_old"),
    )
    new = read_snapshot(spark, table_dir, v_new).select(
        F.col(key_col).alias("_k"),
        F.xxhash64(*compare_cols).alias("_h_new"),
    )
    joined = old.join(new, "_k", "full_outer")
    return (
        joined.select(
            F.col("_k").alias(key_col),
            F.when(F.col("_h_old").isNull(), F.lit("added"))
            .when(F.col("_h_new").isNull(), F.lit("removed"))
            .when(F.col("_h_old") != F.col("_h_new"), F.lit("changed"))
            .alias("change"),
        )
        .filter(F.col("change").isNotNull())
    )


def expire_versions(table_dir: str, keep_last: int) -> list[int]:
    """Drop the manifests of all but the newest ``keep_last`` versions
    (their data files remain until :func:`vacuum`). Returns the expired
    version numbers. Expiring only removes TIME-TRAVEL reachability —
    this is the retention step that bounds storage growth."""
    if keep_last < 1:
        raise ValueError("keep_last must be ≥ 1")
    versions = snapshot_versions(table_dir)
    expired = versions[:-keep_last]
    for v in expired:
        os.unlink(os.path.join(_manifest_dir(table_dir), f"v{v:04d}.json"))
    return expired


def vacuum(table_dir: str, *, grace_sec: float = 3600.0) -> list[str]:
    """Delete data files referenced by NO remaining manifest — orphans
    from crashed writers and files exclusive to expired versions.
    Append commits share files across versions, so a file survives as
    long as ANY live manifest lists it. Returns the deleted relative
    paths.

    Concurrency: a writer mid-commit has written its ``data/vNNNN-*``
    directory but not yet linked the manifest, so an unconditional
    vacuum would delete the data out from under it and the manifest
    would then commit referencing deleted files — a permanently corrupt
    snapshot. Unreferenced directories younger than ``grace_sec``
    (directory mtime, the Iceberg orphan-file min-age pattern) are
    therefore SKIPPED; only set ``grace_sec=0`` when writes are
    externally quiesced."""
    import time

    live: set[str] = set()
    for v in snapshot_versions(table_dir):
        live.update(_read_manifest(table_dir, v)["files"])
    data_root = os.path.join(table_dir, "data")
    deleted: list[str] = []
    if not os.path.isdir(data_root):
        return deleted
    now = time.time()
    for d in sorted(os.listdir(data_root)):
        vdir = os.path.join(data_root, d)
        if not os.path.isdir(vdir):
            continue
        has_live = any(
            os.path.join("data", d, f) in live
            for f in os.listdir(vdir)
            if f.endswith(".parquet")
        )
        if not has_live and now - os.path.getmtime(vdir) < grace_sec:
            continue  # possibly an in-flight commit: leave it alone
        for f in sorted(os.listdir(vdir)):
            rel = os.path.join("data", d, f)
            if f.endswith(".parquet") and rel not in live:
                os.unlink(os.path.join(vdir, f))
                deleted.append(rel)
            elif not f.endswith(".parquet") and f.startswith(("_", ".")):
                # spark write markers (_SUCCESS, .crc) ride along with
                # their directory: drop them only when no parquet file
                # of the directory is live
                continue
        if not any(
            os.path.join("data", d, f) in live
            for f in os.listdir(vdir)
            if f.endswith(".parquet")
        ):
            import shutil

            shutil.rmtree(vdir, ignore_errors=True)
            deleted = [p for p in deleted]  # dir removal covers markers
    return deleted


def _ledger_path(table_dir: str) -> str:
    return os.path.join(_manifest_dir(table_dir), "ingested_batches.json")


def _ingested_batch_ids(table_dir: str) -> set[int]:
    try:
        with open(_ledger_path(table_dir)) as fh:
            return set(json.load(fh))
    except (OSError, ValueError):
        return set()


def _ledger_add_batch_id(table_dir: str, batch_id: int) -> None:
    """Append a batch id to the ingestion ledger (atomic tmp+rename;
    foreachBatch serializes commits within a query, which is the
    single-writer contract of the ledger — concurrent ingest queries on
    one table need an external lock, same as any streaming sink)."""
    ids = sorted(_ingested_batch_ids(table_dir) | {batch_id})
    mdir = _manifest_dir(table_dir)
    os.makedirs(mdir, exist_ok=True)
    tmp = os.path.join(mdir, f".ledger-{uuid.uuid4().hex[:12]}.json")
    with open(tmp, "w") as fh:
        json.dump(ids, fh)
    os.rename(tmp, _ledger_path(table_dir))


def stream_append_snapshots(
    stream_df: DataFrame,
    table_dir: str,
    *,
    checkpoint_dir: str,
    timeout_sec: float = 120.0,
):
    """Structured-Streaming ingestion into the versioned store: every
    non-empty micro-batch commits one APPEND snapshot, so arriving
    corpus drops become time-travelable versions the moment they land.

    Exactly-once across restarts: the source offsets live in the stream
    checkpoint (at-least-once replay), and the commit is IDEMPOTENT —
    every ingested ``batch_id`` is recorded in a retention-independent
    ledger (``_manifest/ingested_batches.json``, written after each
    commit) so a replayed micro-batch is skipped even if
    :func:`expire_versions` has since aged out the manifest that carried
    it (manifests still stamp ``batch_id`` too, and the live ones are
    unioned in as a belt-and-braces for ledgers written by older
    versions of this module). Runs with ``availableNow`` (drain what
    exists, then stop) — call again when more data arrives; the
    checkpoint carries progress forward.
    """

    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        committed = _ingested_batch_ids(table_dir) | {
            _read_manifest(table_dir, v).get("batch_id")
            for v in snapshot_versions(table_dir)
        }
        if batch_id in committed:
            return  # replay after a crash between commit and checkpoint
        write_snapshot(
            batch_df, table_dir, append=True, batch_id=batch_id
        )
        _ledger_add_batch_id(table_dir, batch_id)

    q = (
        stream_df.writeStream.foreachBatch(_commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"stream ingestion did not drain within {timeout_sec}s"
        )
    return q


def delete_keys(
    spark: SparkSession,
    table_dir: str,
    key_col: str,
    keys: list,
) -> int:
    """Targeted delete (the right-to-be-forgotten / takedown shape):
    commit a new version WITHOUT the given keys. History is immutable —
    older versions still contain the rows until :func:`expire_versions`
    + :func:`vacuum` age them out, which is the compliance sequence
    (delete → expire → vacuum). The key set rides the plan as an
    ``isin`` literal for the usual takedown-list sizes; for huge lists,
    anti-join a keys DataFrame instead."""
    latest = read_snapshot(spark, table_dir)
    return write_snapshot(
        latest.filter(~F.col(key_col).isin(list(keys))), table_dir
    )


def merge_keys(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    key_col: str,
    *,
    batch_id: int | None = None,
) -> int:
    """MERGE (SCD-1 upsert): commit a new version where each key in
    ``updates`` REPLACES its current row (or is inserted if new) and
    every other row carries forward — the Delta/Iceberg ``MERGE INTO
    ... WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT`` shape,
    completing the store's CRUD surface next to :func:`delete_keys`.

    Plan shape: ONE left-anti join of the current snapshot against the
    update keys (drop the rows being replaced) + a unionByName with the
    updates — no full-outer row merge, no wide-column shuffle beyond
    the anti join's key exchange. ``updates`` must contain ``key_col``
    exactly once per key (enforced — a duplicate-key update batch is a
    bug worth failing loudly on, not resolving arbitrarily) and may
    WIDEN the schema (missing columns on either side fill NULL, same
    contract as append-commit schema evolution).

    History is immutable: the parent version still holds the old rows
    until expire+vacuum, so a bad merge is one time-travel away from
    recovery.

    ``batch_id`` stamps the commit's manifest for streaming callers
    whose folds are additive (hypertable rollup): the manifest is the
    crash-safe replay record, committed atomically with the data.
    """
    dup = (
        updates.groupBy(key_col)
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"updates carry duplicate {key_col}={dup[0][0]!r}; "
            "resolve to one row per key before merging"
        )
    latest = read_snapshot(spark, table_dir)
    keys = updates.select(F.col(key_col).alias("_mk"))
    kept = latest.join(
        keys, latest[key_col] == F.col("_mk"), "left_anti"
    )
    merged = kept.unionByName(updates, allowMissingColumns=True)
    return write_snapshot(merged, table_dir, batch_id=batch_id)
