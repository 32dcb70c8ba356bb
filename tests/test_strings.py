"""String/regex/array function semantics (SURVEY.md §2.3 F1-F6): the
cross-engine edge cases the oracle queries rely on."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_ml_showcase_spark.functions import strings


def test_regex_extract_no_match_returns_empty(spark):
    # F1 (log_mining_analysis.py:24): miss → '', never null — the driver
    # oracle comparisons depend on this matching DuckDB
    df = spark.createDataFrame([("abc - - rest",), ("no pattern",)], "v string")
    got = [r.h for r in df.select(strings.regex_extract("v", r"^(.*) - -.*").alias("h")).collect()]
    assert got == ["abc", ""]


def test_split_pattern_is_regex(spark):
    # F3: the reference escapes the pipe (split("genres", "\|")) because
    # the pattern is a regex — unescaped '|' would split on every char
    df = spark.createDataFrame([("Action|Sci-Fi",)], "g string")
    ok = df.select(strings.split_tokens("g", r"\|").alias("a")).first().a
    assert ok == ["Action", "Sci-Fi"]
    bad = df.select(strings.split_tokens("g", "|").alias("a")).first().a
    assert len(bad) > 2  # the footgun the escape avoids


def test_token_at_negative_index(spark):
    # F4: element_at(-k) == the reference's getItem(size-k) emulation
    df = spark.createDataFrame([("a b c d",)], "v string")
    row = df.select(
        strings.token_at("v", -1).alias("last"),
        strings.token_at("v", -2).alias("second_last"),
        strings.token_at("v", 1).alias("first"),
    ).first()
    assert (row.last, row.second_last, row.first) == ("d", "c", "a")


def test_json_get_missing_key_null(spark):
    df = spark.createDataFrame(
        [('{"k": 5, "s": "hi"}',), ('{"other": 1}',), ("not json",)], "p string"
    )
    rows = df.select(
        strings.json_get("p", "$.k").alias("k"),
        strings.json_get("p", "$.s").alias("s"),
    ).collect()
    assert rows[0].k == "5" and rows[0].s == "hi"
    assert rows[1].k is None and rows[2].k is None


def test_shingle_udf_matches_column_form_including_unicode_ws(spark):
    """text.shingle_array_udf must emit the SAME gram sets as the
    T.shingles column form — including on U+00A0, which Java/DuckDB \\s+
    does NOT split (bare Python str.split() would, silently diverging)."""
    from spark_ml_showcase_spark.functions import text as T

    rows = [
        (0, "a b  c\td e f"),
        (1, "x\u00a0y z w q"),  # NBSP glued token
        (2, "one two"),  # shorter than n → empty
        (3, ""),
        (4, None),
        (5, "  lead and trail  "),
    ]
    df = spark.createDataFrame(rows, "id bigint, text string")
    col_form = {
        r.id: set(r.s or [])
        for r in df.select("id", T.shingles("text", 3).alias("s")).collect()
    }
    udf_form = {
        r.id: set(r.s or [])
        for r in df.select(
            "id", T.shingle_array_udf(3)(df.text).alias("s")
        ).collect()
    }
    assert col_form == udf_form
    assert col_form[1] == {"x\u00a0y z w", "z w q"}
