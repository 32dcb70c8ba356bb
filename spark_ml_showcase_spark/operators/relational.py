"""Projections, casts, filters, derived columns (SURVEY.md §2.2).

Reference citations (what each capability reproduces):
- P1/P2 narrow projection: ``Claims_Prediction.py:27``,
  ``log_mining_analysis.py:43``.
- P3 cast loops: ``higgs_ensemble_analysis.py:64-65``.
- P4 rename: ``higgs_ensemble_analysis.py:66``.
- P5 drop: ``Claims_Prediction.py:38``.
- P6 conditional derive: ``Claims_Prediction.py:35-37``
  (``when(ClaimNb>0,1.0).otherwise(0.0)``).
- P7 math derive (natural log): ``Claims_Prediction.py:38``.
- P8 arithmetic derive: ``Claims_Prediction.py:47,69``.
- P9-P12 filters: ``Claims_Prediction.py:50``, ``log_mining_analysis.py:32-34``,
  ``als_clustering_analysis.py:126,132``.

All are single-Project / single-Filter Catalyst nodes: chained calls are
collapsed by ``CollapseProject`` and predicates are pushed to the scan
(``PushDownPredicates``), so these helpers add zero plan overhead. At scale
the payoff is automatic: a ``select`` + ``filter`` over parquet becomes a
pruned, row-group-skipping scan.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def project(df: DataFrame, *cols: str | Column) -> DataFrame:
    """P1/P2: narrow projection. Always project before wide ops so column
    pruning reaches the scan."""
    return df.select(*cols)


def cast(df: DataFrame, casts: Mapping[str, str | T.DataType]) -> DataFrame:
    """P3: bulk cast in one projection (reference does a Python loop of
    ``withColumn`` — same semantics, Catalyst collapses both)."""
    return df.withColumns({c: F.col(c).cast(t) for c, t in casts.items()})


def rename(df: DataFrame, mapping: Mapping[str, str]) -> DataFrame:
    """P4: bulk rename (reference: ``withColumnRenamed('_c0', 'label')``)."""
    return df.withColumnsRenamed(dict(mapping))


def drop(df: DataFrame, *cols: str) -> DataFrame:
    """P5: drop columns."""
    return df.drop(*cols)


def derive(df: DataFrame, **exprs: Column) -> DataFrame:
    """P6-P8: add derived columns in one projection.

    Example (the reference's claims derivations, ``Claims_Prediction.py:35-38``)::

        derive(df,
               NZClaim=F.when(F.col("ClaimNb") > 0, 1.0).otherwise(0.0),
               PP_ClaimNb=F.when(F.col("ClaimNb") == 0, 0.5).otherwise(F.col("ClaimNb")))
    """
    return df.withColumns(dict(exprs))


def zero_guarded_log(col: str | Column, zero_sub: float = 0.5) -> Column:
    """P6+P7 composed: the reference's ``PP_ClaimNb``/``LogClaimNb`` pattern
    (``Claims_Prediction.py:36-38``) — substitute ``zero_sub`` for zeros,
    then NATURAL log (Spark ``F.log`` = ln; DuckDB equivalent is ``ln()``,
    not ``log()`` which is log10)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.log(F.when(c == 0, F.lit(zero_sub)).otherwise(c))


def filter_suffix(df: DataFrame, col: str, *suffixes: str) -> DataFrame:
    """P10: suffix-match filter (reference ``host.endswith('.de')``,
    ``log_mining_analysis.py:32-34``). Multiple suffixes OR together.

    ``endswith`` cannot use parquet min/max stats, but it still pushes into
    the scan as a data filter; for repeated country-suffix queries at scale,
    persist a derived ``tld`` column and partition by it instead.
    """
    pred = F.col(col).endswith(suffixes[0])
    for s in suffixes[1:]:
        pred = pred | F.col(col).endswith(s)
    return df.filter(pred)
