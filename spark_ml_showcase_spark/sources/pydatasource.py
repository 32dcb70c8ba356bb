"""Custom Python Data Source (PySpark 4 DataSource API): a partitioned,
deterministic synthetic-corpus generator.

Why this exists in an analytics engine: scale rehearsal. Driving a
100 TB-shaped plan (shuffle sizing, skew behavior, agg combiners) needs
inputs far larger than any committed fixture, and generating them on the
DRIVER (``spark.createDataFrame`` over a Python list) caps out at driver
memory. A DataSource generates ON THE EXECUTORS: ``partitions()``
returns P index ranges, and each executor materializes only its range —
a terabyte of synthetic rows costs zero driver memory and no input I/O.

Every generated value is CLOSED-FORM arithmetic on the row index (no
hashing, no RNG state), so any SQL engine reproduces the exact rows from
a bare ``range(n)`` — which is how the DuckDB oracle checks the full
source → scan → aggregate path bit-for-bit (`pyds_gen_docs_stats`).

This is the extension point for real custom connectors (internal feed
formats, RPC-backed sources): same two classes, same partition-planning
contract, plus ``pushFilters`` when the backend can prune.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

FORMAT_NAME = "synthdocs"

# Closed-form row: (doc_id, source, n_tokens, quality_centi)
#   source        = 'src' || (doc_id % n_sources)
#   n_tokens      = 20 + (doc_id * 37) % 200
#   quality_centi = (doc_id * 7919) % 101          (0..100, "percent")
# Keep these three lines in sync with the oracle SQL in
# plans/coverage_queries.py::pyds_gen_docs_stats.


def _gen(lo: int, hi: int, n_sources: int) -> Iterator[tuple]:
    for i in range(lo, hi):
        yield (i, f"src{i % n_sources}", 20 + (i * 37) % 200, (i * 7919) % 101)


class SyntheticDocsReader(DataSourceReader):
    def __init__(self, options: dict):
        self.n = int(options.get("n", 10_000))
        self.parts = int(options.get("partitions", 8))
        self.n_sources = int(options.get("sources", 8))

    def partitions(self):  # executor-side parallelism: P index ranges
        if self.parts < 1:
            raise ValueError(f"partitions must be ≥ 1, got {self.parts}")
        if self.n <= 0:  # empty source → one empty partition, not range(0,0,0)
            return [InputPartition((0, 0))]
        step = (self.n + self.parts - 1) // self.parts
        return [
            InputPartition((lo, min(lo + step, self.n)))
            for lo in range(0, self.n, step)
        ]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        lo, hi = partition.value
        return _gen(lo, hi, self.n_sources)


class SyntheticDocsDataSource(DataSource):
    """``spark.read.format("synthdocs").option("n", N).load()`` after
    ``spark.dataSource.register(SyntheticDocsDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> str:
        return "doc_id bigint, source string, n_tokens bigint, quality_centi bigint"

    def reader(self, schema) -> SyntheticDocsReader:
        return SyntheticDocsReader(self.options)

    def simpleStreamReader(self, schema) -> "SyntheticDocsStreamReader":
        return SyntheticDocsStreamReader(self.options)


def register(spark) -> None:
    """Idempotent format registration on this session."""
    spark.dataSource.register(SyntheticDocsDataSource)


def read_synth_docs(
    spark, *, n: int = 10_000, partitions: int = 8, sources: int = 8
):
    register(spark)
    return (
        spark.read.format(FORMAT_NAME)
        .option("n", str(n))
        .option("partitions", str(partitions))
        .option("sources", str(sources))
        .load()
    )


class SyntheticDocsStreamReader(SimpleDataSourceStreamReader):
    """Streaming half of the `synthdocs` source: each micro-batch emits
    the next ``rows_per_batch`` closed-form rows, up to ``n`` total —
    offsets are plain row indices, checkpoint-serializable as dicts.
    The deterministic generator makes replay-after-restart produce
    byte-identical batches (the exactly-once contract a custom stream
    source must honor: ``readBetweenOffsets`` re-derives any committed
    range from the offsets alone, no side state)."""

    def __init__(self, options: dict):
        self.n = int(options.get("n", 10_000))
        self.rows_per_batch = int(options.get("rowsPerBatch", 1000))
        self.n_sources = int(options.get("sources", 8))

    def initialOffset(self) -> dict:
        return {"idx": 0}

    def read(self, start: dict):
        lo = int(start["idx"])
        hi = min(lo + self.rows_per_batch, self.n)
        # materialized (not a lazy generator: the runtime pickles the
        # prefetched rows driver→executors) but returned as an ITERATOR:
        # on exhaustion (end == start) pyspark's prefetch cache validates
        # emptiness with next(it) expecting StopIteration — a bare list
        # raised TypeError there instead, killing every drained stream
        # with a spurious PYTHON_STREAMING_DATA_SOURCE_RUNTIME_ERROR
        # after its final commit (r15 fix; results were unaffected, the
        # error fired only post-drain).
        return iter(list(_gen(lo, hi, self.n_sources))), {"idx": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return list(_gen(int(start["idx"]), int(end["idx"]), self.n_sources))
