"""Round-6 engine-surface additions: table profiler (deequ shape),
C4 blocklist gate, and the PySpark-4 UDTF form of the chunker."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_ml_showcase_spark.operators import chunking, quality
from spark_ml_showcase_spark.operators.profile import profile_table


def _frame(spark):
    return spark.createDataFrame(
        [
            (1, "alpha", 10.0, None),
            (2, "beta", 2.5, "x"),
            (3, None, 4.0, "y"),
            (4, "beta", None, "y"),
        ],
        "id bigint, name string, score double, tag string",
    )


def test_profile_table_per_column_stats(spark):
    rows = {r.col_name: r for r in profile_table(_frame(spark)).collect()}
    assert set(rows) == {"id", "name", "score", "tag"}
    r = rows["score"]
    assert (r.n_rows, r.n_nulls, r.n_distinct) == (4, 1, 3)
    assert (r.min_num, r.max_num) == (2.5, 10.0)
    assert r.mean == pytest.approx(5.5)
    assert r.min_str is None and r.max_str is None
    r = rows["name"]
    assert (r.n_nulls, r.n_distinct) == (1, 2)  # count distinct skips NULL
    assert (r.min_str, r.max_str) == ("alpha", "beta")
    assert r.min_num is None and r.mean is None
    r = rows["id"]
    assert (r.n_nulls, r.n_distinct, r.min_num, r.max_num) == (0, 4, 1.0, 4.0)


def test_profile_table_approx_and_column_errors(spark):
    df = _frame(spark)
    approx = {r.col_name: r for r in profile_table(df, exact_distinct=False).collect()}
    # HLL is exact at this cardinality; the point is the path runs
    assert approx["id"].n_distinct == 4
    with pytest.raises(ValueError, match="no such column"):
        profile_table(df, ["nope"])
    arr = df.withColumn("a", F.array("id"))
    with pytest.raises(ValueError, match="non-atomic"):
        profile_table(arr, ["a"])
    # default column selection skips the array column silently
    assert {r.col_name for r in profile_table(arr).collect()} == {
        "id", "name", "score", "tag"
    }


def test_profile_empty_table_and_blocklist_empty_terms(spark):
    """An empty table profiles as zeros/NULLs (never crashes); an empty
    blocklist blocks nothing."""
    empty = spark.createDataFrame([], "id bigint, name string")
    rows = {r.col_name: r for r in profile_table(empty).collect()}
    assert set(rows) == {"id", "name"}
    assert all(
        (r.n_rows, r.n_nulls, r.n_distinct) == (0, 0, 0) for r in rows.values()
    )
    docs = spark.createDataFrame([(1, "a b c")], "doc_id bigint, text string")
    (row,) = quality.blocklist_filter(docs, []).collect()
    assert not row.blocked and row.n_blocked_terms == 0


def test_blocklist_filter_token_level(spark):
    docs = spark.createDataFrame(
        [
            (1, "clean words only here"),
            (2, "contains a BadWord among others"),
            (3, "assess and bypassed share letters but no blocked token"),
            (4, None),
            (5, "badword badword ass"),  # repeated terms count once each
        ],
        "doc_id bigint, text string",
    )
    out = {
        r.doc_id: r
        for r in quality.blocklist_filter(docs, ["badword", "ass"]).collect()
    }
    assert not out[1].blocked and out[1].n_blocked_terms == 0
    assert out[2].blocked  # case-insensitive by default
    assert not out[3].blocked, "substring must not trip the token gate"
    assert not out[4].blocked  # NULL text → not blocked
    assert out[5].blocked and out[5].n_blocked_terms == 2  # distinct terms
    # case-sensitive mode
    cs = {
        r.doc_id: r.blocked
        for r in quality.blocklist_filter(
            docs, ["badword"], case_insensitive=False
        ).collect()
    }
    assert not cs[2] and cs[5]


def test_udtf_chunker_matches_native_chunker(spark):
    """The UDTF form must reproduce chunk_documents bit-for-bit — the
    UDTF surface is proven against the oracle-checked native twin."""
    from spark_ml_showcase_spark.functions.udtfs import make_chunk_udtf

    docs = spark.createDataFrame(
        [
            (1, "one two three four five six seven eight nine ten eleven"),
            (2, "short doc"),
            (3, ""),
            (4, "  padded   with   runs  of  space  "),
        ],
        "doc_id bigint, text string",
    )
    native = {
        (r.doc_id, r.chunk_id, r.chunk_text, r.n_tokens)
        for r in chunking.chunk_documents(docs, max_tokens=5, overlap=2).collect()
    }
    spark.udtf.register("chunk_text_fn", make_chunk_udtf())
    docs.createOrReplaceTempView("udtf_docs")
    via_udtf = {
        (r.doc_id, r.chunk_id, r.chunk_text, r.n_tokens)
        for r in spark.sql(
            "SELECT d.doc_id, c.* FROM udtf_docs d, "
            "LATERAL chunk_text_fn(d.text, 5, 2) c"
        ).collect()
    }
    assert via_udtf == native and native  # non-empty parity
    # invalid params surface as an error, not silent wrong chunks
    with pytest.raises(Exception, match="overlap"):
        spark.sql(
            "SELECT * FROM udtf_docs d, LATERAL chunk_text_fn(d.text, 3, 3) c"
        ).collect()


def _scopes(store, stage_id: int) -> list[str]:
    """The operator scopes in a stage's RDD operation graph."""
    def walk(cluster):
        kids = cluster.childClusters()
        names = [cluster.name()]
        for i in range(kids.size()):
            names += walk(kids.apply(i))
        return names

    return walk(store.operationGraphForStage(stage_id).rootCluster())


def _python_jobs(spark, group: str, run) -> int:
    """Jobs launched by ``run()`` under ``group`` that run a stage with
    the Python UDTF node (skipped stages do not run it)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    n = 0
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        stages = store.job(job_id).stageIds()
        ran = []
        for i in range(stages.size()):
            attempt = store.lastStageAttempt(stages.apply(i))
            if str(attempt.status()) != "SKIPPED":
                ran.append(attempt.stageId())
        n += any("ArrowEvalPythonUDTF" in _scopes(store, sid) for sid in ran)
    return n


@pytest.mark.parametrize("scan_width", [None, 3])
def test_udtf_lateral_chunk_docs_runs_the_udtf_once_in_global_order(spark, monkeypatch, scan_width):
    """The range exchange sits below the UDTF, so its sampling job reads
    the scan and one job runs the UDTF; the rows come back ordered by
    (doc_id, chunk_id) at the scan's width and at a wider one."""
    import __spark_entry__ as entry

    from spark_ml_showcase_spark.functions import partitioning

    from conftest import SF_SMALL

    if scan_width is not None:
        monkeypatch.setattr(partitioning, "plan_width", lambda df: scan_width)
    df = entry.queries()["udtf_lateral_chunk_docs"](spark, SF_SMALL)
    rows = []
    assert _python_jobs(spark, f"udtf-once-{scan_width}", lambda: rows.extend(df.collect())) == 1
    keys = [(r.doc_id, r.chunk_id) for r in rows]
    assert keys and keys == sorted(keys)
    assert len(set(keys)) == len(keys)


def test_profile_drift_detects_shifts_and_schema_changes(spark):
    from spark_ml_showcase_spark.operators.profile import profile_drift

    old = spark.createDataFrame(
        [(i, float(i % 10), "s%d" % (i % 5)) for i in range(100)],
        "id bigint, v double, tag string",
    )
    # new drop: mean of v shifted 10x, tag cardinality collapsed, and a
    # new column appeared while `tag`'s nulls exploded
    new = spark.createDataFrame(
        [(i, float((i % 10) * 10), None if i % 2 else "s0", 1.0)
         for i in range(100)],
        "id bigint, v double, tag string, extra double",
    )
    drift = {
        r.col_name: r
        for r in profile_drift(profile_table(old), profile_table(new)).collect()
    }
    assert not drift["id"].drift  # identical distribution
    assert drift["v"].drift and drift["v"].mean_rel_delta > 5
    assert drift["tag"].drift and drift["tag"].null_rate_delta == 0.5
    assert drift["tag"].distinct_ratio == 0.2
    assert drift["extra"].drift  # schema change: one-sided column


def test_blocklist_join_path_parity_with_literal_path(spark):
    """Above `literal_max` the gate switches from an array literal to a
    broadcast token join — the two regimes must classify identically
    (incl. NULL text, repeated terms, zero-token docs)."""
    docs = spark.createDataFrame(
        [
            (1, "clean words only here"),
            (2, "contains a BadWord among others"),
            (3, None),
            (4, ""),
            (5, "badword badword ass extra words"),
        ],
        "doc_id bigint, text string",
    )
    terms = ["badword", "ass"] + [f"filler_term_{i}" for i in range(50)]
    lit = {
        (r.doc_id, r.blocked, r.n_blocked_terms)
        for r in quality.blocklist_filter(docs, terms, literal_max=1000).collect()
    }
    joined = {
        (r.doc_id, r.blocked, r.n_blocked_terms)
        for r in quality.blocklist_filter(docs, terms, literal_max=10).collect()
    }
    assert joined == lit and len(lit) == 5
