"""Sorts, limits, top-k (SURVEY.md §2.5).

Reference citations: O1 multi-key sort with ascending tie-break
(``log_mining_analysis.py:43``), O2 sort+limit top-k
(``log_mining_analysis.py:48-51``, ``als_clustering_analysis.py:140-143``),
O3 top-1 via ``.first()`` (``als_clustering_analysis.py:123-125``),
O4 global-sort prefix for the temporal split
(``als_clustering_analysis.py:47-48``).

Scale notes: ``orderBy(...).limit(k)`` is planned as
``TakeOrderedAndProject`` — each partition keeps a k-row heap, the driver
merges P·k rows. No global sort, no full shuffle; this is exactly the plan
you want at 100 TB for small k. Top-k PER GROUP must instead use a
``row_number`` window (one shuffle on the group key); never
collect-and-loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _sort_cols(order_by: list[tuple[str, str]]) -> list[Column]:
    cols = []
    for name, direction in order_by:
        cols.append(F.col(name).desc() if direction == "desc" else F.col(name).asc())
    return cols


def top_k(df: DataFrame, k: int, order_by: list[tuple[str, str]]) -> DataFrame:
    """O1+O2: deterministic top-k. ``order_by`` is [(col, 'asc'|'desc'), ...];
    include a unique tie-break column (the reference uses ascending host) or
    the result set is nondeterministic under partitioning."""
    return df.orderBy(*_sort_cols(order_by)).limit(k)


def top_k_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_by: list[tuple[str, str]],
    k: int,
    *,
    rank_fn=F.row_number,
    keep_rank: bool = False,
) -> DataFrame:
    """Top-k within each group via a ranking window — the idiomatic form of
    the reference's collect-top-cluster-then-filter flow
    (``als_clustering_analysis.py:123-126``) without any driver round-trip.

    ``rank_fn`` may be ``F.rank``/``F.dense_rank`` to keep ties.
    """
    w = Window.partitionBy(*group_cols).orderBy(*_sort_cols(order_by))
    ranked = df.withColumn("_rank", rank_fn().over(w)).filter(F.col("_rank") <= k)
    return ranked if keep_rank else ranked.drop("_rank")


def sorted_prefix(df: DataFrame, n: int, order_by: list[tuple[str, str]]) -> DataFrame:
    """O4: first n rows under a global ordering (the reference's temporal
    split head). Same ``TakeOrderedAndProject`` plan as top_k; for very
    large n (a percentage split, not a top-k) prefer
    ``splits.temporal_split`` which uses percent_rank and never funnels
    rows through the driver."""
    return df.orderBy(*_sort_cols(order_by)).limit(n)
