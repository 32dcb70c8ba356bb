"""Testdata catalog: lazy handles to the driver-generated star schema.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings, one parquet file each under
``/root/testdata/sf{0.001,0.01,0.1}/``.

Each base table's parquet schema is resolved once per process, keyed on
the file's identity and the session's type-changing inference confs:
the first read infers it (one Spark job), every later read passes it
to the reader (no job). Relations are never shared — each read is a
fresh relation with fresh attribute ids, so self-joins resolve.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

from spark_ml_showcase_spark.sources import io

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor (they grow
# sub-linearly or are fixed-size in TPC-H-style generators). `customer`/
# `part`/`supplier` grow linearly — broadcastability is decided by AQE at
# runtime, not assumed here.
ALWAYS_BROADCAST = frozenset({"region", "nation"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Parquet reader confs that change the type inferred for a column.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

# (file identity, inference conf values) -> inferred schema, per process.
# Unlocked: two threads racing on one key both infer the same schema.
_SCHEMAS: dict[tuple, StructType] = {}


def _read_base_table(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema only the first
    time this file (realpath, inode and ``io._source_fingerprint``: size
    and mtime of the file or of each part file) is read under these
    inference confs."""
    try:
        real = os.path.realpath(path)
        key = (real, os.stat(real).st_ino, io._source_fingerprint(real))
    except OSError:  # not a local path: let the reader resolve or raise
        return spark.read.parquet(path)
    key += tuple(spark.conf.get(c) for c in _INFERENCE_CONFS)
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


class Catalog:
    """Lazy table loader over one scale-factor directory.

    Every ``table`` call returns a fresh relation; only the parquet
    schema is memoized (see the module docstring)."""

    def __init__(self, spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR):
        self.spark = spark
        self.sf_dir = sf_dir.rstrip("/")

    def table(self, name: str) -> DataFrame:
        if name not in TESTDATA_TABLES:
            raise KeyError(f"unknown table {name!r}; have {TESTDATA_TABLES}")
        if name == "events":
            # The driver has shipped events.ts under two physical types
            # across fixture generations — TIMESTAMP(NANOS) (rounds 1–4)
            # and timestamp[us] isAdjustedToUTC=false (round 5+) — so the
            # read is TYPE-ADAPTIVE, keyed on the inferred schema, never
            # on which generation we "expect". Spark 4 refuses NANOS
            # unless read as a raw long; the config is runtime-settable,
            # so it works regardless of who built the session (ours or
            # the driver's plain one).
            self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            # NTZ→LTZ normalization below maps wall-clock at the session
            # time zone; pin UTC (runtime-settable) so the epoch numbers
            # match DuckDB's tz-naive epoch() on any host.
            self.spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = _read_base_table(self.spark, f"{self.sf_dir}/{name}.parquet")
        if name == "events":
            ts_type = df.schema["ts"].dataType
            if isinstance(ts_type, LongType):
                # NANOS generation: ns epoch → µs timestamp. Integer DIV,
                # not float division: the ns value exceeds double's 53-bit
                # mantissa, so a float path rounds the microseconds and
                # hash-mismatches DuckDB (which floor-truncates ns→µs
                # when reading the same file).
                df = df.withColumn(
                    "ts", F.timestamp_micros(F.expr("ts div 1000"))
                )
            elif isinstance(ts_type, TimestampNTZType):
                # µs generation: naive wall-clock → instant as-if-UTC
                # (session tz pinned above), giving the same epoch values
                # DuckDB computes from the naive timestamp directly.
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df

    def __getattr__(self, name: str) -> DataFrame:
        if name in TESTDATA_TABLES:
            return self.table(name)
        raise AttributeError(name)

    def register_views(self) -> None:
        """Register every table as a temp view for the SQL surface."""
        for name in TESTDATA_TABLES:
            self.table(name).createOrReplaceTempView(name)
