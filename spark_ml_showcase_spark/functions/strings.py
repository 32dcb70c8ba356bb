"""String / regex / array scalar functions (SURVEY.md §2.3).

Reference citations:
- F1 regex capture-group extract: ``log_mining_analysis.py:24-26``
  (returns ``''`` on no match — same as DuckDB's regexp_extract).
- F2 regex on substring: ``log_mining_analysis.py:114-115``.
- F3 split (pattern is a REGEX — the reference escapes the pipe in
  ``split("genres", "\\|")``, ``als_clustering_analysis.py:138``).
- F4 negative-index emulation ``getItem(size(...) - k)``
  (``log_mining_analysis.py:27-28``) — the engine uses ``element_at(arr, -k)``
  which is the same value with one evaluation of the split instead of two.
- F5 explode: ``als_clustering_analysis.py:139`` — ``F.explode`` over
  :func:`split_tokens`.

All JVM-side, codegen'd; regex dialect is Java (DuckDB oracle is RE2 —
stick to the ASCII-safe common subset: ``\\d \\w`` literals, anchors,
capture groups).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def regex_extract(col: str | Column, pattern: str, group: int = 1) -> Column:
    """F1/F2: capture-group extraction; '' when the pattern misses."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract(c, pattern, group)


def split_tokens(col: str | Column, pattern: str = r"\s+") -> Column:
    """F3: regex split to array<string>."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, pattern)


def token_at(col: str | Column, index: int, pattern: str = r"\s+") -> Column:
    """F4: token by 1-based index; negative counts from the end
    (``element_at`` — replaces the reference's split+size+getItem double
    evaluation)."""
    return F.element_at(split_tokens(col, pattern), index)


def json_get(col: str | Column, path: str) -> Column:
    """JSON field access for string-JSON columns (testdata ``events.props``).
    ``get_json_object`` returns string; cast at the call site. For repeated
    multi-field access prefer ``from_json`` with an explicit schema (single
    parse)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.get_json_object(c, path)
