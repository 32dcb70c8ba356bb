"""Set operations (SURVEY.md §2.7).

Reference citations: U1 union-all accumulation
(``Claims_Prediction.py:52-53``), U2 subtract for split complement
(``als_clustering_analysis.py:49``).

Semantics traps preserved/documented:
- ``union``/``unionAll`` are positional and bag-semantic (no dedup). The
  engine prefers ``unionByName`` — positional union silently mismatches
  columns when schemas drift.
- ``subtract`` is EXCEPT DISTINCT: it DEDUPS the left side as well as
  removing right-side rows. The reference leans on this implicitly for its
  temporal split; ``except_all`` keeps multiplicity (bag difference).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame


def union_all(*dfs: DataFrame) -> DataFrame:
    """U1: positional bag union of N frames. Building a union tree in a loop
    (the reference's accumulator pattern) is fine: Catalyst flattens nested
    unions into one n-ary Union node."""
    return reduce(DataFrame.union, dfs)


def subtract(left: DataFrame, right: DataFrame) -> DataFrame:
    """U2: EXCEPT DISTINCT (dedups left; drops rows present in right)."""
    return left.subtract(right)


def except_all(left: DataFrame, right: DataFrame) -> DataFrame:
    """EXCEPT ALL: bag difference, preserves multiplicity."""
    return left.exceptAll(right)


def intersect(left: DataFrame, right: DataFrame) -> DataFrame:
    """INTERSECT (distinct)."""
    return left.intersect(right)


def intersect_all(left: DataFrame, right: DataFrame) -> DataFrame:
    """INTERSECT ALL (bag intersection)."""
    return left.intersectAll(right)
