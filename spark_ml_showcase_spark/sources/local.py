"""Frames over rows the driver already holds: metrics, importances,
reports, small dimension tables, centroid and id maps, empty results.

``spark.createDataFrame(list, schema)`` ships such rows through a
Python RDD: the plan is a ``LogicalRDD`` and every read of the frame
is a Spark job with Python workers. :func:`local_frame` builds an Arrow
table on the driver instead, so the plan is a ``LocalRelation`` read
with no Python worker (a warm groupBy-count over 29 rows on a 4-core
host: 0.64 s through the Python RDD, 0.14 s from the local frame).

The frame ends with ``coalesce(1)``: its plan then reports
``SinglePartition``, so an aggregate, sort or join over it plans with
no exchange. A bare ``LocalTableScan`` reports unknown partitioning
and would still shuffle. Rows on the driver are few at any scale, so
one partition is never the bottleneck.

This module is the package's only ``createDataFrame`` caller (a lint in
``tests/test_partitioning.py`` keeps it so).
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: str | StructType
) -> DataFrame:
    """A single-partition ``LocalRelation`` over ``rows`` (tuples or
    ``Row``s, positional against ``schema``, a DDL string or a
    ``StructType``); same schema and rows as
    ``spark.createDataFrame(rows, schema)``."""
    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    rows = list(rows)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, struct).coalesce(1)


def pandas_frame(spark: SparkSession, pdf) -> DataFrame:
    """A driver-generated pandas input spread over the session's slots.
    The seeded ML fixtures take this path, not :func:`local_frame`:
    their splits and fits depend on the partition layout, and they are
    the input of executor-side work rather than a result."""
    return spark.createDataFrame(pdf)
