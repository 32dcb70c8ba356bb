"""Vector math over ``array<float>`` embedding columns — JVM-side via
higher-order functions (no Python in the hot path).

These power the similarity-search extension (SURVEY.md §2.12 X3/X5) on the
``embeddings`` testdata table. ``zip_with`` + ``aggregate`` stay inside
whole-stage codegen, but higher-order functions evaluate interpreted per
element; the top-k scorers in ``similarity.py`` use
``similarity.cosine_udf`` instead, an Arrow fold bit-identical to
:func:`cosine`.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: str | Column, b: str | Column) -> Column:
    """Elementwise product summed: aggregate(zip_with(a, b, *), 0.0, +)."""
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm(a: str | Column) -> Column:
    return F.sqrt(F.aggregate(_c(a), F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: str | Column, b: str | Column) -> Column:
    """Cosine similarity. A zero vector (zero denominator) gives NULL
    through ``try_divide``, with or without ANSI mode, as DuckDB's
    ``x / 0.0`` and ``similarity.cosine_udf`` do.

    Fused single pass: one zip_with + one aggregate accumulates (a·b,
    |a|², |b|²) together instead of three independent array scans. Each
    component still sums left-to-right over elements, so values are
    bit-identical to the dot/norm composition."""
    pairs = F.zip_with(
        _c(a),
        _c(b),
        lambda x, y: F.struct(
            (x * y).alias("xy"), (x * x).alias("xx"), (y * y).alias("yy")
        ),
    )
    acc = F.aggregate(
        pairs,
        F.struct(
            F.lit(0.0).alias("xy"), F.lit(0.0).alias("xx"), F.lit(0.0).alias("yy")
        ),
        lambda s, v: F.struct(
            (s["xy"] + v["xy"]).alias("xy"),
            (s["xx"] + v["xx"]).alias("xx"),
            (s["yy"] + v["yy"]).alias("yy"),
        ),
    )
    # bind the accumulated struct once; referencing `acc` three times in
    # the final expression would re-run the whole aggregate three times
    return F.element_at(
        F.transform(
            F.array(acc),
            lambda s: F.try_divide(
                s["xy"], F.sqrt(s["xx"]) * F.sqrt(s["yy"])
            ),
        ),
        1,
    )


def l2_distance(a: str | Column, b: str | Column) -> Column:
    diffs = F.zip_with(_c(a), _c(b), lambda x, y: (x - y) * (x - y))
    return F.sqrt(F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v))


def normalize(a: str | Column) -> Column:
    """Unit-normalize so downstream cosine becomes a plain dot product —
    do this ONCE at ingest, not per-pair in an O(n²) join.

    The norm is bound through a single-element transform so it is
    computed once per row — referencing the bare ``norm(a)`` subtree
    inside the division lambda would re-inline (and recompute) the full
    aggregate for EVERY element, turning O(d) into O(d²)."""
    arr = _c(a)
    return F.element_at(
        F.transform(F.array(norm(arr)), lambda n: F.transform(arr, lambda x: x / n)),
        1,
    )
