"""Composable corpus-pipeline API (operators/corpus_pipeline.py):
stage ordering, attrition report shape, materialization flags, and the
standard cleaning recipe end-to-end on a tiny corpus."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_ml_showcase_spark.operators import corpus_pipeline as CP


def _docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank"),
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river delta"),
        (3, "for general text the and of to in is that it with words making prose"),
        (4, "!!! ??? ;;; ***"),  # punctuation junk → quality gate
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_pipeline_report_counts_every_stage_in_order(spark):
    df = _docs(spark)
    pipe = (
        CP.CorpusPipeline()
        .then("keep_even", lambda d: d.filter(F.col("doc_id") % 2 == 0))
        .then("keep_small", lambda d: d.filter(F.col("doc_id") < 4),
              materialize="cache")
    )
    out, report = pipe.run(df)
    rows = [(r.stage, r.n_docs) for r in report.collect()]
    assert rows == [("0_input", 5), ("1_keep_even", 3), ("2_keep_small", 2)]
    assert {r.doc_id for r in out.collect()} == {0, 2}


def test_pipeline_rejects_unknown_materialize(spark):
    pipe = CP.CorpusPipeline().then("x", lambda d: d, materialize="persist?")
    with pytest.raises(ValueError, match="persist"):
        pipe.run(_docs(spark))


def test_standard_cleaning_pipeline_end_to_end(spark):
    out, report = CP.standard_cleaning_pipeline().run(_docs(spark))
    counts = {r.stage: r.n_docs for r in report.collect()}
    assert counts["0_input"] == 5
    assert counts["1_exact_dedup"] == 4  # doc 1 is an exact dup of 0
    assert counts["2_near_dedup"] == 3  # doc 2 near-dups 0 at 0.8
    assert counts["3_quality_lang"] == 2  # junk doc 4 fails quality
    # conservative gates drop nothing further on this tiny clean corpus
    assert counts["4_boilerplate"] == 2 and counts["5_lm_fluency"] == 2
    assert {r.doc_id for r in out.select("doc_id").collect()} == {0, 3}
    assert set(out.columns) == {"doc_id", "text"}


def test_pipeline_then_returns_self_for_chaining(spark):
    p = CP.CorpusPipeline()
    assert p.then("a", lambda d: d) is p and len(p.stages) == 1


def test_standard_pipeline_with_semantic_dedup_stage(spark):
    """Supplying an embeddings table inserts the SemDeDup stage after
    near-dedup: docs whose embeddings are near-identical to a lower-id
    doc's are dropped even when their TEXT differs."""
    import math
    import random

    docs = spark.createDataFrame(
        [
            (0, "for general text the and of to in is that it with prose one"),
            (3, "for written work the and of to in is that it with style two"),
            (5, "for common words the and of to in is that it with tone three"),
        ],
        "doc_id bigint, text string",
    )

    def vec(seed):
        rng = random.Random(seed)
        v = [rng.gauss(0, 1) for _ in range(8)]
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    # doc 3's embedding == doc 0's (semantic dup); doc 5 distinct
    emb = spark.createDataFrame(
        [(0, vec(1)), (3, vec(1)), (5, vec(2))],
        "vec_id bigint, embedding array<double>",
    )
    out, report = CP.standard_cleaning_pipeline(
        embeddings=emb, semantic_threshold=0.999
    ).run(docs)
    counts = {r.stage: r.n_docs for r in report.collect()}
    assert counts["3_semantic_dedup"] == 2
    assert {r.doc_id for r in out.select("doc_id").collect()} == {0, 5}


def test_standard_pipeline_with_model_quality_stage(spark):
    """model_quality_min adds the learned-filter stage: clean prose
    survives it, degenerate junk that slipped the heuristic threshold
    gets dropped, and the report gains the stage row."""
    from spark_ml_showcase_spark.operators import corpus_pipeline as cp

    clean = [
        (i, "for general text the and of to in is that it with good prose "
            "about one topic and another idea " + f"tail{i}")
        for i in range(20)
    ]
    # junk the HEURISTIC labeler also dislikes (symbol-heavy): weak
    # supervision can only teach the model what its labels know, so the
    # negatives must be heuristic-visible junk — stopword-spam, which
    # the heuristic reads as prose, would invert the labels
    junk = [
        (100 + i, "!!! ??? ### @@@ %%% ^^^ &&& *** ((( ))) "
                  "=== +++ ~~~ ||| " + f"x{i}")
        for i in range(20)
    ]
    docs = spark.createDataFrame(clean + junk, "doc_id bigint, text string")
    pipe = cp.standard_cleaning_pipeline(
        near_threshold=0.95,  # tails differ; keep all through dedup
        quality_min=0.0,      # heuristic gate wide open → the MODEL decides
        lm_bits_max=1e9,
        boiler_min_docs=10_000,
        model_quality_min=0.5,
    )
    cleaned, report = pipe.run(docs)
    stages = {r.stage for r in report.collect()}
    assert any("model_quality" in s for s in stages)
    kept = {r.doc_id for r in cleaned.collect()}
    # every surviving doc is from the clean half; most clean docs survive
    assert kept and all(k < 100 for k in kept)
    assert len(kept) >= 15


def test_offline_trained_filter_scores_stream(spark, tmp_path):
    """Train the quality filter OFFLINE, score documents arriving as a
    STREAM: the MLlib transform is row-local, so the same model serves
    batch backfill and online ingestion — scores must match exactly."""
    import os

    from spark_ml_showcase_spark.ml import quality_filter as qf
    from spark_ml_showcase_spark.streaming import events as se

    clean = [(i, "plain words about a topic with reasonable text " + f"t{i}")
             for i in range(15)]
    junk = [(100 + i, "!!! ### @@@ %%% ^^^ &&& *** " + f"x{i}") for i in range(15)]
    docs = spark.createDataFrame(clean + junk, "doc_id bigint, text string")
    model = qf.train_quality_filter(docs, seed=40)
    batch_scores = {
        r.doc_id: r.quality_prob for r in qf.score_quality(model, docs).collect()
    }

    d = os.path.join(str(tmp_path), "docstream")
    docs.coalesce(1).write.parquet(d)
    stream = se.stream_staged(spark, d, max_files_per_trigger=None)
    scored_stream = qf.score_quality(model, stream)
    out = se.run_to_memory(scored_stream, spark, output_mode="append")
    stream_scores = {r.doc_id: r.quality_prob for r in out.collect()}
    assert stream_scores == batch_scores


def test_pipeline_to_training_shards_end_to_end(spark):
    """The full corpus path in one composition: clean → chunk → shard →
    pack. Every chunk lands in exactly one training sequence of its
    shard, and no multi-chunk sequence overflows the token budget."""
    from spark_ml_showcase_spark.operators import chunking
    from spark_ml_showcase_spark.operators import corpus_pipeline as cp

    docs = spark.createDataFrame(
        [
            (i, "some reasonably long prose text with many plain words "
                "repeated across documents to survive cleaning " + f"tail{i}")
            for i in range(12)
        ],
        "doc_id bigint, text string",
    )
    pipe = cp.standard_cleaning_pipeline(
        near_threshold=0.99, quality_min=0.0, lm_bits_max=1e9,
        boiler_min_docs=10_000,
    )
    cleaned, _ = pipe.run(docs)
    chunks = chunking.assign_shards(
        chunking.chunk_documents(cleaned, max_tokens=8, overlap=2), 2
    )
    packed = chunking.pack_sequences(chunks, max_tokens=32).collect()
    want = {(r.doc_id, r.chunk_id): r.shard for r in chunks.collect()}
    assert len(packed) == len(want) > 0
    assert {(r.doc_id, r.chunk_id): r.shard for r in packed} == want
    seqs = {}
    for r in packed:
        seqs.setdefault((r.shard, r.seq_id), []).append(r.n_tokens)
    assert all(sum(t) <= 32 or len(t) == 1 for t in seqs.values())
