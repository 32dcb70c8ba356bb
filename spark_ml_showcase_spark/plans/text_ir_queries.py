"""Text-IR and corpus-curation analytics (round 10, X68–X72): weighted
sampling, readability scoring, sparse TF-IDF cosine retrieval, NPMI
collocations, and the cross-source n-gram overlap matrix — the
retrieval/curation shelf of a training-data pipeline, each with a DuckDB
oracle that replays the exact arithmetic (integer counts, fixed-order
float chains, ROUND per the cross-engine conventions).

No reference twin (the reference has no IR surface; SURVEY §2.12 grows
the training-data family per the brief).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_ml_showcase_spark.functions import text as TX
from spark_ml_showcase_spark.functions import similarity
from spark_ml_showcase_spark.operators import dedup, ir, splits
from spark_ml_showcase_spark.functions.rounding import round_like_duckdb
from spark_ml_showcase_spark.plans import query
from spark_ml_showcase_spark.sources.catalog import Catalog

_TOKS = r"list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '')"


# X68: deterministic weighted sampling without replacement (Efraimidis/
# Spirakis A-ES, md5-uniform keys — operators/splits.weighted_sample_topk).
# Engine-portable by construction, so the oracle IS the definition; the
# priority is ROUNDed with a doc_id tie-break so a 1-ulp ln divergence
# cannot flip the top-k cut.
@query(
    "weighted_sample_docs",
    oracle="""
    WITH s AS (
        SELECT doc_id, n_chars,
               ROUND(ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                              AS BIGINT) + 0.5) / 4294967296.0)
                     / n_chars, 6) AS priority
        FROM documents WHERE n_chars > 0
    )
    SELECT doc_id AS doc_id, CAST(n_chars AS BIGINT) AS weight, priority
    FROM s ORDER BY priority DESC, doc_id ASC LIMIT 25
    """,
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).documents
    return splits.weighted_sample_topk(
        docs, "n_chars", 25, key_col="doc_id"
    ).select(
        "doc_id", F.col("n_chars").cast("bigint").alias("weight"), "priority"
    )


# X69: readability scoring (Flesch reading ease over regex-counted
# words / sentence runs / vowel-group syllables — functions/text.py).
# All three counts are exact integers; the score is one fixed-order
# float chain, ROUND(4) both sides.
@query(
    "readability_scores",
    oracle=rf"""
    WITH c AS (
        SELECT doc_id,
               len({_TOKS}) AS words,
               CASE WHEN length(text) = 0 THEN 0
                    ELSE GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
               END AS sents,
               len(regexp_extract_all(lower(text), '[aeiouy]+')) AS syls
        FROM documents
    )
    SELECT doc_id AS doc_id,
           CAST(words AS BIGINT) AS n_words,
           CAST(sents AS BIGINT) AS n_sentences,
           CAST(syls AS BIGINT) AS n_syllables,
           CASE WHEN words = 0 THEN NULL
                ELSE ROUND(206.835 - 1.015 * (words::DOUBLE / sents)
                           - 84.6 * (syls::DOUBLE / words), 4)
           END AS flesch
    FROM c
    """,
)
def readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).documents
    return docs.select(
        "doc_id",
        TX.whitespace_token_count("text").cast("bigint").alias("n_words"),
        TX.sentence_count("text").cast("bigint").alias("n_sentences"),
        TX.syllable_count("text").cast("bigint").alias("n_syllables"),
        TX.flesch_reading_ease("text").alias("flesch"),
    )


def _sparse_ranked_sql(k: int) -> str:
    """WITH-fragment computing ``sparse_topk(id_a, id_b, cosine, rank)``
    — the TF-IDF bigram cosine retrieval pipeline, shared by the
    ``sparse_cosine_topk_docs`` oracle (k=3) and the RRF fusion oracle
    (k=10). Must stay in lockstep with ``operators/ir.sparse_cosine_topk``."""
    return rf"""
    t AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    grams AS (
        SELECT doc_id,
               unnest([t[i] || ' ' || t[i+1]
                       for i in generate_series(1, len(t) - 1)]) AS gram
        FROM t WHERE len(t) >= 2
    ),
    tf AS (SELECT doc_id, gram, COUNT(*) AS tf FROM grams GROUP BY 1, 2),
    dfreq AS (SELECT gram, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    w AS (
        SELECT tf.doc_id, tf.gram, dfreq.df,
               CAST(ROUND(tf.tf * (ln((n.n_docs + 1.0) / (dfreq.df + 1.0))
                                   + 1.0) * 1000.0) AS BIGINT) AS wi
        FROM tf JOIN dfreq USING (gram), n
    ),
    norms AS (SELECT doc_id, SUM(wi * wi) AS n2 FROM w GROUP BY 1),
    rare AS (
        SELECT doc_id, gram FROM (
            SELECT doc_id, gram,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY df ASC, gram ASC) AS r
            FROM w
        ) WHERE r <= 5
    ),
    cands AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM rare a JOIN rare b USING (gram)
        WHERE a.doc_id <> b.doc_id AND a.doc_id % 25 = 0
    ),
    dots AS (
        SELECT c.id_a, c.id_b, SUM(wa.wi * wb.wi) AS dot
        FROM cands c
        JOIN w wa ON wa.doc_id = c.id_a
        JOIN w wb ON wb.doc_id = c.id_b AND wb.gram = wa.gram
        GROUP BY 1, 2
    ),
    sparse_scored AS (
        SELECT d.id_a, d.id_b,
               ROUND(d.dot::DOUBLE
                     / (sqrt(na.n2::DOUBLE) * sqrt(nb.n2::DOUBLE)), 4)
                   AS cosine
        FROM dots d
        JOIN norms na ON na.doc_id = d.id_a
        JOIN norms nb ON nb.doc_id = d.id_b
    ),
    sparse_topk AS (
        SELECT id_a, id_b, cosine, rank FROM (
            SELECT *, row_number() OVER (PARTITION BY id_a
                                         ORDER BY cosine DESC, id_b ASC)
                       AS rank
            FROM sparse_scored
        ) WHERE rank <= {k}
    )"""


# X70: sparse TF-IDF bigram cosine top-3 per query doc (doc_id % 25 = 0
# — scale-relative slice) with rare-feature blocking; operators/ir.py.
# Weights are integer-quantized (×1000) so the dot products and norms
# are exact BIGINT sums (< 2^53, so the oracle's HUGEINT→DOUBLE cast is
# exact too); the only floats are two sqrts and one division in a fixed
# order, ROUND(4). The Spark side joins gram STRINGS here as well — the
# blocking is df-based, no hashing — so the replay is exact.
@query(
    "sparse_cosine_topk_docs",
    oracle=rf"""
    WITH {_sparse_ranked_sql(3)}
    SELECT id_a AS query_id, id_b AS cand_id, cosine,
           CAST(rank AS BIGINT) AS rank
    FROM sparse_topk
    ORDER BY query_id, rank
    """,
)
def sparse_cosine_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).documents
    return (
        ir.sparse_cosine_topk(
            docs,
            k=3,
            rare_features=5,
            query_filter=F.col("doc_id") % 25 == 0,
        )
        .withColumn("rank", F.col("rank").cast("bigint"))
        .orderBy("query_id", "rank")
    )



# X71: NPMI collocations — normalized pointwise mutual information of
# adjacent token pairs, the standard collocation-mining statistic. All
# probabilities come from exact integer counts; npmi is two ln's in one
# fixed-order expression, ROUND(6), top-20 with a gram tie-break.
@query(
    "npmi_collocations",
    oracle=rf"""
    WITH t AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    uni AS (
        SELECT u.tok, COUNT(*) AS c
        FROM t, unnest(t.t) AS u(tok) GROUP BY 1
    ),
    tot AS (SELECT SUM(c) AS n_tok FROM uni),
    big AS (
        SELECT x, y, COUNT(*) AS cxy FROM (
            SELECT unnest([{{'x': t[i], 'y': t[i+1]}}
                           for i in generate_series(1, len(t) - 1)]) AS p
            FROM t WHERE len(t) >= 2
        ) q
        CROSS JOIN LATERAL (SELECT q.p.x AS x, q.p.y AS y) s
        GROUP BY 1, 2
    ),
    nb AS (SELECT SUM(cxy) AS n_big FROM big)
    SELECT x || ' ' || y AS collocation,
           CAST(cxy AS BIGINT) AS n_pair,
           ROUND(ln((cxy::DOUBLE / n_big)
                    / ((cx.c::DOUBLE / n_tok) * (cy.c::DOUBLE / n_tok)))
                 / (-ln(cxy::DOUBLE / n_big)), 6) AS npmi
    FROM big
    JOIN uni cx ON cx.tok = big.x
    JOIN uni cy ON cy.tok = big.y
    CROSS JOIN tot CROSS JOIN nb
    WHERE cxy >= 20
    ORDER BY npmi DESC, collocation ASC
    LIMIT 20
    """,
)
def npmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_ml_showcase_spark.functions.partitioning import (
        widen_narrow_scan,
    )

    docs = Catalog(spark, sf_dir).documents
    toks = F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
    # raw text widened BEFORE the tokenize: both count legs (unigram
    # and bigram) ran their split+explode+partial-agg at the scan's
    # width, measured as three ~2 s serial stages of a 4.3 s query (r16
    # stage profile). The widened exchange is IDENTICAL under both legs
    # (no leg-specific filter below it — the old size>=2 pre-filter
    # pushed into one leg's scan and broke reuse; explode of an empty
    # pair array drops the row anyway), so the corpus text shuffles
    # once and every downstream stage runs wide.
    t = widen_narrow_scan(docs.select("text")).select(toks.alias("t"))
    uni = t.select(F.explode("t").alias("tok")).groupBy("tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    pairs = F.transform(
        F.slice(F.col("t"), 1, F.greatest(F.size("t") - 1, F.lit(0))),
        lambda s, i: F.struct(s.alias("x"), F.col("t")[i + 1].alias("y")),
    )
    big = (
        t.select(F.explode(pairs).alias("p"))
        .select("p.x", "p.y")
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("cxy"))
    )
    n_tok = uni.agg(F.sum("c").alias("n_tok"))
    n_big = big.agg(F.sum("cxy").alias("n_big"))
    cx = uni.select(F.col("tok").alias("x"), F.col("c").alias("cx"))
    cy = uni.select(F.col("tok").alias("y"), F.col("c").alias("cy"))
    p_xy = F.col("cxy").cast("double") / F.col("n_big")
    return (
        big.filter(F.col("cxy") >= 20)
        .join(cx, "x")
        .join(cy, "y")
        # single-row broadcast crosses (tpch_q11 pattern, allowlisted)
        .crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(n_big))
        .select(
            F.concat_ws(" ", "x", "y").alias("collocation"),
            F.col("cxy").cast("bigint").alias("n_pair"),
            F.round(
                F.log(
                    p_xy
                    / (
                        (F.col("cx").cast("double") / F.col("n_tok"))
                        * (F.col("cy").cast("double") / F.col("n_tok"))
                    )
                )
                / -F.log(p_xy),
                6,
            ).alias("npmi"),
        )
        .orderBy(F.desc("npmi"), F.asc("collocation"))
        .limit(20)
    )


# X72: cross-source 5-gram overlap matrix — the leakage/contamination
# view of a multi-source corpus ("how much of src_a's content also
# appears in src_b?"). Distinct (source, gram) pairs self-join on the
# gram; fan-out per gram is bounded by the source count (20), never by
# corpus size. Exact integers + one division per side, ROUND(6).
@query(
    "source_overlap_matrix",
    oracle=rf"""
    WITH t AS (SELECT source, {_TOKS} AS t FROM documents),
    g AS (
        SELECT DISTINCT source,
               unnest([array_to_string(t[i:i+4], ' ')
                       for i in generate_series(1, len(t) - 4)]) AS gram
        FROM t WHERE len(t) >= 5
    ),
    sz AS (SELECT source, COUNT(*) AS n FROM g GROUP BY 1),
    p AS (
        SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
        FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT src_a, src_b, CAST(n_common AS BIGINT) AS n_common,
           ROUND(n_common::DOUBLE / sa.n, 6) AS contain_a,
           ROUND(n_common::DOUBLE / sb.n, 6) AS contain_b
    FROM p
    JOIN sz sa ON sa.source = p.src_a
    JOIN sz sb ON sb.source = p.src_b
    ORDER BY src_a, src_b
    """,
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).documents
    toks = F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
    t = docs.select("source", toks.alias("t")).filter(F.size("t") >= 5)
    grams = F.transform(
        F.slice(F.col("t"), 1, F.size("t") - F.lit(4)),
        lambda s, i: F.concat_ws(
            " ", s, F.col("t")[i + 1], F.col("t")[i + 2],
            F.col("t")[i + 3], F.col("t")[i + 4],
        ),
    )
    g = (
        t.select("source", F.explode(grams).alias("gram"))
        # hash the gram for the shuffle/join key (fixed-width longs, no
        # giant strings through the exchange); output never shows it —
        # identical to the oracle's string join unless xxhash64 collides
        .select("source", F.xxhash64("gram").alias("gh"))
        .distinct()
    )
    sz = g.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    p = (
        g.select(F.col("source").alias("src_a"), "gh")
        .join(g.select(F.col("source").alias("src_b"), "gh"), "gh")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    return (
        p.join(
            F.broadcast(sz.select(F.col("source").alias("src_a"), F.col("n").alias("na"))),
            "src_a",
        )
        .join(
            F.broadcast(sz.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "n_common",
            round_like_duckdb(F.col("n_common").cast("double") / F.col("na"), 6).alias(
                "contain_a"
            ),
            round_like_duckdb(F.col("n_common").cast("double") / F.col("nb"), 6).alias(
                "contain_b"
            ),
        )
        .orderBy("src_a", "src_b")
    )


# X73: incremental novelty scores — the fraction of each doc's distinct
# 5-gram shingles first seen at THAT doc (ids = arrival order); the
# cheap streaming-ingest triage before any pairwise dedup. Spark groups
# on xxhash64 gram keys; the oracle groups on gram strings (identical
# unless xxhash64 collides). Exact integers + one division, ROUND(6).
@query(
    "novelty_scores_docs",
    oracle=rf"""
    WITH t AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    g AS (
        SELECT DISTINCT doc_id,
               unnest([array_to_string(t[i:i+4], ' ')
                       for i in generate_series(1, len(t) - 4)]) AS gram
        FROM t WHERE len(t) >= 5
    ),
    f AS (SELECT gram, MIN(doc_id) AS first FROM g GROUP BY 1)
    SELECT doc_id AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN doc_id = first THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel,
           ROUND(SUM(CASE WHEN doc_id = first THEN 1 ELSE 0 END)::DOUBLE
                 / COUNT(*), 6) AS novelty
    FROM g JOIN f USING (gram)
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def novelty_scores_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).documents
    return dedup.novelty_scores(docs, ngram=5).orderBy("doc_id")


# X74: exact containment dedup (overlap coefficient of 5-gram shingle
# sets ≥ 0.9) — the asymmetric family Jaccard misses: a short doc quoted
# wholesale inside a long one. Prefix filter binds the SMALLER side and
# probes the full inverted index (operators/dedup.containment_join);
# the oracle is the O(n²) list_intersect replay on gram strings.
@query(
    "containment_dedup_docs",
    oracle=rf"""
    WITH t AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    s AS (
        SELECT doc_id,
               list_distinct([array_to_string(t[i:i+4], ' ')
                              for i in generate_series(1, len(t) - 4)]) AS g
        FROM t WHERE len(t) >= 5
    ),
    z AS (SELECT doc_id, g, len(g) AS sz FROM s WHERE len(g) > 0)
    SELECT id_small, id_big, containment FROM (
        SELECT a.doc_id AS id_small, b.doc_id AS id_big,
               ROUND(len(list_intersect(a.g, b.g))::DOUBLE / a.sz, 6)
                   AS containment
        FROM z a JOIN z b
          ON (a.sz < b.sz OR (a.sz = b.sz AND a.doc_id < b.doc_id))
    ) WHERE containment >= 0.9
    ORDER BY id_small, id_big
    """,
)
def containment_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).documents
    return dedup.containment_join(docs, ngram=5, threshold=0.9).orderBy(
        "id_small", "id_big"
    )


# X75: reciprocal rank fusion of the two retrieval modalities — sparse
# TF-IDF bigram cosine (text) and dense embedding cosine — the standard
# hybrid-search combiner: rrf = Σ 1/(60 + rank) over the lists that
# returned the candidate. Both input rank lists are themselves oracle-
# checked shapes; the fusion arithmetic is two fixed-order divisions
# and one addition, ROUND(6), top-5 with a cand tie-break.
@query(
    "rrf_fusion_docs",
    oracle=rf"""
    WITH {_sparse_ranked_sql(10)},
    dense AS (
        SELECT query_id, cand_id, rank FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY ROUND(list_dot_product(q.qv, c.cv)
                                      / (sqrt(list_dot_product(q.qv, q.qv))
                                         * sqrt(list_dot_product(c.cv, c.cv))),
                                      6) DESC,
                                c.vec_id ASC) AS rank
            FROM (SELECT vec_id, embedding::DOUBLE[] AS qv FROM embeddings
                  WHERE vec_id % 25 = 0) q,
                 (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings) c
            WHERE c.vec_id <> q.vec_id
        ) WHERE rank <= 10
    ),
    fused AS (
        SELECT COALESCE(s.id_a, d.query_id) AS query_id,
               COALESCE(s.id_b, d.cand_id) AS cand_id,
               ROUND(COALESCE(1.0::DOUBLE / (60 + s.rank), 0.0)
                     + COALESCE(1.0::DOUBLE / (60 + d.rank), 0.0), 6) AS rrf
        FROM sparse_topk s
        FULL JOIN dense d ON s.id_a = d.query_id AND s.id_b = d.cand_id
    )
    SELECT query_id, cand_id, rrf, CAST(rank AS BIGINT) AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY rrf DESC, cand_id ASC) AS rank
        FROM fused
    ) WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def rrf_fusion_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    sparse = ir.sparse_cosine_topk(
        cat.documents,
        k=10,
        rare_features=5,
        query_filter=F.col("doc_id") % 25 == 0,
    ).select("query_id", "cand_id", F.col("rank").alias("_ra"))
    emb = cat.embeddings
    dense = similarity.brute_force_topk(
        emb, emb.filter(F.col("vec_id") % 25 == 0), 10
    ).select("query_id", "cand_id", F.col("rank").alias("_rb"))
    fused = sparse.join(dense, ["query_id", "cand_id"], "full").select(
        "query_id",
        "cand_id",
        round_like_duckdb(
            F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("_ra")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("_rb")), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.desc("rrf"), F.asc("cand_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(wk).cast("bigint"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "cand_id", "rrf", "rank")
        .orderBy("query_id", "rank")
    )


# X85 (r10 judge item #3): the scale-shaped twin of rrf_fusion_docs —
# identical RRF arithmetic, but the dense leg rides ivf_probe (ONE index
# build, n_probe=4 of 8 cells → 50% of the corpus scanned per query
# instead of 100%) — the swap the exact query's docstring promises at
# 100×. The report joins the IVF-backed fusion against the exact fusion
# and emits per-query rank-overlap of the top-5 lists, turning the
# "swap the leg at scale" claim into a checked artifact (mean overlap
# ≥ 0.8 pinned in tests/test_ir.py). Engine-side seeded KMeans in the
# IVF leg → rows-only.
@query("rrf_fusion_ivf")
def rrf_fusion_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    k_leg, k_fused = 10, 5
    # the sparse leg feeds BOTH fusions — checkpoint: Catalyst won't
    # reuse the 5-shuffle TF-IDF subtree across the two consumers
    sparse = (
        ir.sparse_cosine_topk(
            cat.documents,
            k=k_leg,
            rare_features=5,
            query_filter=F.col("doc_id") % 25 == 0,
        )
        .select("query_id", "cand_id", F.col("rank").alias("_ra"))
        .localCheckpoint()
    )
    emb = cat.embeddings
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    # both fusions score with the same Arrow cosine, so the overlap
    # measurement is internally consistent
    exact = similarity.brute_force_topk(emb, queries, k_leg).select(
        "query_id", "cand_id", F.col("rank").alias("_rb")
    )
    # suite-level index cache (r12): same (fixture, n_lists=8, seed=40)
    # quantizer as ann_recall_report / ivf_topk — built once, probed here
    import os as _os

    assigned, cent = similarity.cached_ivf_index(
        spark,
        _os.path.join(sf_dir, "embeddings.parquet"),
        lambda: emb,
        variant="emb",
        params=similarity.IDENTITY_PARAMS,
        n_lists=8,
        seed=40,
    )
    approx = similarity.ivf_probe(
        assigned, cent, queries, k_leg, n_probe=4
    ).select("query_id", "cand_id", F.col("rank").alias("_rb"))

    def fuse(dense: DataFrame) -> DataFrame:
        fused = sparse.join(dense, ["query_id", "cand_id"], "full").select(
            "query_id",
            "cand_id",
            (
                F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("_ra")), F.lit(0.0))
                + F.coalesce(
                    F.lit(1.0) / (F.lit(60) + F.col("_rb")), F.lit(0.0)
                )
            ).alias("rrf"),
        )
        wk = Window.partitionBy("query_id").orderBy(
            F.desc("rrf"), F.asc("cand_id")
        )
        return (
            fused.withColumn("rank", F.row_number().over(wk))
            .filter(F.col("rank") <= k_fused)
            .select("query_id", "cand_id")
        )

    # overlap per query = |exact_top5 ∩ ivf_top5| / |exact_top5|; the
    # exact fusion feeds both the intersection and the denominator —
    # checkpoint so its brute-force dense leg runs once
    fused_exact = fuse(exact).localCheckpoint()
    common = (
        fused_exact.join(fuse(approx), ["query_id", "cand_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        fused_exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .join(common, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_common", F.lit(0)).cast("bigint").alias("n_common"),
            round_like_duckdb(
                F.coalesce("n_common", F.lit(0)) / F.col("n_exact"), 4
            ).alias("rank_overlap"),
        )
        .orderBy("query_id")
    )


# X83: per-stratum weighted sampling — top-3 docs per source by A-ES
# priority (the windowed sibling of X68: a global TakeOrdered cannot
# return k per each of millions of domains; the partitioned window
# ranks every stratum in one shuffle). Same md5-uniform priorities,
# ROUNDed with an id tie-break.
@query(
    "weighted_sample_per_source",
    oracle="""
    WITH s AS (
        SELECT source, doc_id, n_chars,
               ROUND(ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                              AS BIGINT) + 0.5) / 4294967296.0)
                     / n_chars, 6) AS priority
        FROM documents WHERE n_chars > 0
    )
    SELECT source, doc_id,
           CAST(n_chars AS BIGINT) AS weight, priority,
           CAST(sample_rank AS BIGINT) AS sample_rank
    FROM (
        SELECT *, row_number() OVER (PARTITION BY source
                                     ORDER BY priority DESC, doc_id ASC)
                   AS sample_rank
        FROM s
    ) WHERE sample_rank <= 3
    ORDER BY source, sample_rank
    """,
)
def weighted_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).documents
    return (
        splits.weighted_sample_per_stratum(
            docs, "source", "n_chars", 3, key_col="doc_id"
        )
        .select(
            "source",
            "doc_id",
            F.col("n_chars").cast("bigint").alias("weight"),
            "priority",
            F.col("sample_rank").cast("bigint").alias("sample_rank"),
        )
        .orderBy("source", "sample_rank")
    )


# X89: exact phrase search with positional verification — one Arrow
# gram pass per distinct phrase LENGTH (posexplode offset-ordered
# blake2b-8 hashes), broadcast (phrase, hash) equi-join, so the corpus
# is scanned once per length bucket and only matching longs shuffle.
# The oracle joins the gram STRINGS via a positional list comprehension
# — identical up to blake2b-8 collision. The 4-token phrase has zero
# hits at some SFs, pinning the empty-result path on both engines.
@query(
    "phrase_search_docs",
    oracle=r"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0b\f\r]+'),
                           x -> x <> '') AS toks
        FROM documents
    ),
    probes(phrase, l) AS (
        VALUES ('table table', 2), ('fast key scan', 3),
               ('key agg row scan', 4)
    ),
    hits AS (
        SELECT p.phrase, t.doc_id,
               [i for i in generate_series(1, len(t.toks) - p.l + 1)
                if array_to_string(t.toks[i:i+p.l-1], ' ') = p.phrase] AS pos
        FROM t, probes p
        WHERE len(t.toks) >= p.l
    )
    SELECT phrase, doc_id,
           CAST(len(pos) AS BIGINT) AS n_matches,
           CAST(pos[1] AS BIGINT) AS first_pos
    FROM hits WHERE len(pos) > 0
    ORDER BY phrase, doc_id
    """,
)
def phrase_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).documents
    return ir.phrase_search(
        docs, ["table table", "fast key scan", "key agg row scan"]
    )


# X90: embedding pooling — the chunk→document aggregation every
# embedding pipeline runs after chunked encoding, here pooling the
# fixture vectors per class label (mean mode). Element means are
# per-value ROUND → DECIMAL sum → /n (order-free); the query explodes
# the pooled vectors to (label, dim) rows so the oracle hashes scalars.
@query(
    "pooled_embeddings_by_label",
    oracle="""
    WITH e AS (
        SELECT label,
               unnest(list_transform(embedding::DOUBLE[],
                                     (x, i) -> {'i': i, 'x': x})) AS u
        FROM embeddings
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(u.i AS BIGINT) AS dim,
           CAST(count(*) AS BIGINT) AS n_vecs,
           floor(CAST(SUM(CAST(ROUND(u.x, 6) AS DECIMAL(30,6))) AS DOUBLE)
                 / count(*) * 1000000 + 0.5) / 1000000 AS v
    FROM e GROUP BY label, u.i
    ORDER BY label, dim
    """,
)
def pooled_embeddings_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Catalog(spark, sf_dir).embeddings
    pooled = similarity.pool_embeddings(emb, "label", mode="mean")
    return pooled.select(
        F.col("label").cast("bigint").alias("label"),
        F.posexplode("pooled").alias("_p", "v"),
        F.col("n_vecs"),
    ).select(
        "label",
        (F.col("_p") + 1).cast("bigint").alias("dim"),
        "n_vecs",
        "v",
    ).orderBy("label", "dim")


# X104 (tokenizer-budget planning): tokenizer fertility per (source,
# lang) — BPE-ish tokens per whitespace word and chars per token, the
# two ratios that turn a raw-bytes corpus estimate into a token budget
# (and the per-language fairness check: high-fertility languages pay
# more tokens for the same text). Pure column expressions (the
# text_quality_lang regex conventions, Java∩RE2-safe) feeding exact
# BIGINT sums; the only doubles are final single divisions. One scan,
# one small agg — at 100 TB this is a map-side-combinable pass.
@query(
    "tokenizer_fertility",
    oracle=r"""
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'),
                                    x -> x <> ''))) AS BIGINT) AS n_words,
           CAST(SUM(len(regexp_extract_all(
               text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0b\f\r]'))) AS BIGINT)
               AS n_bpe_tokens,
           CAST(SUM(length(text)) AS BIGINT) AS n_chars,
           ROUND(SUM(len(regexp_extract_all(
                     text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0b\f\r]'))) * 1.0
                 / SUM(len(list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'),
                                       x -> x <> ''))), 6) AS fertility,
           ROUND(SUM(length(text)) * 1.0
                 / SUM(len(regexp_extract_all(
                       text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0b\f\r]'))), 6)
               AS chars_per_token
    FROM documents
    GROUP BY source, lang
    ORDER BY source, lang
    """,
)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).documents
    agg = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(TX.whitespace_token_count("text"))
        .cast("bigint")
        .alias("n_words"),
        F.sum(TX.bpe_ish_token_count("text"))
        .cast("bigint")
        .alias("n_bpe_tokens"),
        F.sum(TX.char_count("text")).cast("bigint").alias("n_chars"),
    )
    return agg.select(
        "source",
        "lang",
        "n_docs",
        "n_words",
        "n_bpe_tokens",
        "n_chars",
        round_like_duckdb(
            F.col("n_bpe_tokens") * F.lit(1.0) / F.col("n_words"), 6
        ).alias("fertility"),
        round_like_duckdb(
            F.col("n_chars") * F.lit(1.0) / F.col("n_bpe_tokens"), 6
        ).alias("chars_per_token"),
    ).orderBy("source", "lang")


# X107 (dataset-card statistic): exact-duplicate rate per source — the
# attrition number every corpus release publishes per provenance
# bucket, and the first column a curator reads when deciding which
# source needs the heavier near-dup pass. Distinctness is counted over
# md5(text) rather than the text bytes themselves so the shuffle
# carries 16-byte digests, not documents (at 100 TB the distinct-count
# shuffle is the whole cost; both engines compute identical digests
# over identical UTF-8). Within-source only by design — cross-source
# leakage is source_overlap_matrix's job.
@query(
    "dup_rate_by_source",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique,
           CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_dups,
           ROUND((COUNT(*) - COUNT(DISTINCT md5(text))) * 1.0 / COUNT(*), 6)
               AS dup_rate
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).documents
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count_distinct(F.md5("text")).cast("bigint").alias("n_unique"),
        )
        .select(
            "source",
            "n_docs",
            "n_unique",
            (F.col("n_docs") - F.col("n_unique"))
            .cast("bigint")
            .alias("n_dups"),
            round_like_duckdb(
                (F.col("n_docs") - F.col("n_unique"))
                * F.lit(1.0)
                / F.col("n_docs"),
                6,
            ).alias("dup_rate"),
        )
        .orderBy("source")
    )


# X105 (vocabulary statistics): Zipf rank-frequency law over the corpus
# vocabulary — the sanity check that a synthetic/filtered corpus still
# has natural-language-like token statistics (a flat slope screams
# template spam; a cliff screams over-dedup). Top-20 tokens with exact
# (rank, freq) rows; the log-log OLS slope/intercept over the top-1000
# vocabulary rides along as constant columns. Cross-engine determinism
# for a regression over TRANSCENDENTAL regressors: each ln is applied
# once and rounded to 6dp (the single-transcendental convention), the
# rounded terms are DECIMAL-summed (order-free), the closed-form slope
# runs on identical doubles in both engines (VARCHAR-cast, the
# trend_value_by_type recipe), ROUND(4) last. Vocab selection is
# deterministic: freq DESC, token ASC.
@query(
    "zipf_vocab_slope",
    oracle=r"""
    WITH tok AS (
        SELECT unnest(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'),
                                  x -> x <> '')) AS term
        FROM documents
    ),
    vocab AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS freq,
               row_number() OVER (ORDER BY COUNT(*) DESC, term ASC) AS rnk
        FROM tok GROUP BY term QUALIFY rnk <= 1000
    ),
    terms AS (
        SELECT term, freq, rnk,
               CAST(ROUND(ln(rnk), 6) AS DECIMAL(18,6)) AS x,
               CAST(ROUND(ln(freq), 6) AS DECIMAL(18,6)) AS y
        FROM vocab
    ),
    m AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) AS sx,
               CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
               CAST(CAST(SUM(x * x) AS VARCHAR) AS DOUBLE) AS sxx,
               CAST(CAST(SUM(x * y) AS VARCHAR) AS DOUBLE) AS sxy
        FROM terms
    ),
    fit AS (
        SELECT ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 4)
                   AS zipf_slope,
               ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                     / n, 4) AS intercept,
               CAST(n AS BIGINT) AS n_vocab
        FROM m
    )
    SELECT CAST(rnk AS BIGINT) AS rank, term, freq,
           zipf_slope, intercept, n_vocab
    FROM terms, fit
    WHERE rnk <= 20
    ORDER BY rank
    """,
)
def zipf_vocab_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).documents
    tok = docs.select(
        F.explode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
        ).alias("term")
    )
    counts = tok.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq")
    )
    # distributed top-k (freq DESC, term ASC) then rank inside the
    # ≤1000-row survivor frame — no global window over the vocabulary
    vocab = (
        counts.orderBy(F.col("freq").desc(), F.col("term").asc())
        .limit(1000)
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.col("freq").desc(), F.col("term").asc())
            ),
        )
        .withColumn(
            "x", F.round(F.log("rnk"), 6).cast("decimal(18,6)")
        )
        .withColumn(
            "y", F.round(F.log("freq"), 6).cast("decimal(18,6)")
        )
        .localCheckpoint()  # feeds the fit AND the top-20 output
    )
    m = vocab.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy = F.col("sxx"), F.col("sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    fit = m.select(
        round_like_duckdb(slope, 4).alias("zipf_slope"),
        round_like_duckdb((sy - slope * sx) / n, 4).alias("intercept"),
        F.col("n").cast("bigint").alias("n_vocab"),
    )
    return (
        vocab.filter(F.col("rnk") <= 20)
        .crossJoin(F.broadcast(fit))
        .select(
            F.col("rnk").cast("bigint").alias("rank"),
            "term",
            "freq",
            "zipf_slope",
            "intercept",
            "n_vocab",
        )
        .orderBy("rank")
    )


# X109 (retrieval evaluation): rank-biased overlap (Webber et al. 2010)
# between the sparse TF-IDF and dense cosine top-10 rankings — the
# standard top-weighted list-comparison metric a retrieval stack uses
# to quantify how much two rankers agree (where RRF *fuses* the lists,
# RBO *scores* their agreement; both ride the same two legs as
# rrf_fusion_docs). Determinism: RBO@10 = Σ_d (1−p)·p^(d−1)·|∩_d|/d
# re-expressed per common pair — a pair entering at depth g =
# max(rank_a, rank_b) contributes C(g) = Σ_{d=g..10} (1−p)p^(d−1)/d —
# so the whole metric is a sum of TEN PRECOMPUTED LITERALS (identical
# decimal constants inlined in both engines), ROUND(12) each,
# DECIMAL-summed, ROUND(6) last. No pow() at query time, no float-sum
# ordering. Queries with an empty sparse list score 0 (anchored on the
# dense query set).
_RBO_P, _RBO_K = 0.9, 10
_RBO_C = [
    round(
        sum(
            (1 - _RBO_P) * _RBO_P ** (d - 1) / d
            for d in range(g, _RBO_K + 1)
        ),
        12,
    )
    for g in range(1, _RBO_K + 1)
]
_RBO_C_SQL = "[" + ", ".join(repr(c) for c in _RBO_C) + "]"


@query(
    "rbo_sparse_vs_dense",
    oracle=rf"""
    WITH {_sparse_ranked_sql(10)},
    dense AS (
        SELECT query_id, cand_id, rank FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY ROUND(list_dot_product(q.qv, c.cv)
                                      / (sqrt(list_dot_product(q.qv, q.qv))
                                         * sqrt(list_dot_product(c.cv, c.cv))),
                                      6) DESC,
                                c.vec_id ASC) AS rank
            FROM (SELECT vec_id, embedding::DOUBLE[] AS qv FROM embeddings
                  WHERE vec_id % 50 = 0) q,
                 (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings) c
            WHERE c.vec_id <> q.vec_id
        ) WHERE rank <= 10
    ),
    common AS (
        SELECT d.query_id,
               list_extract({_RBO_C_SQL},
                            GREATEST(s.rank, d.rank)) AS coef
        FROM sparse_topk s
        JOIN dense d ON s.id_a = d.query_id AND s.id_b = d.cand_id
    ),
    per_q AS (
        SELECT query_id,
               ROUND(CAST(CAST(SUM(CAST(coef AS DECIMAL(20,12)))
                               AS VARCHAR) AS DOUBLE), 6) AS rbo_10,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM common GROUP BY query_id
    )
    SELECT q.query_id,
           COALESCE(p.rbo_10, 0.0) AS rbo_10,
           CAST(COALESCE(p.n_common, 0) AS BIGINT) AS n_common
    FROM (SELECT DISTINCT query_id FROM dense) q
    LEFT JOIN per_q p USING (query_id)
    ORDER BY query_id
    """,
)
def rbo_sparse_vs_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    sparse = ir.sparse_cosine_topk(
        cat.documents,
        k=10,
        rare_features=5,
        query_filter=F.col("doc_id") % 50 == 0,
    ).select("query_id", "cand_id", F.col("rank").alias("_ra"))
    emb = cat.embeddings
    dense = similarity.brute_force_topk(
        emb, emb.filter(F.col("vec_id") % 50 == 0), 10
    ).select("query_id", "cand_id", F.col("rank").alias("_rb"))
    coef = F.element_at(
        F.array(*[F.lit(c) for c in _RBO_C]),
        F.greatest(F.col("_ra"), F.col("_rb")).cast("int"),
    )
    per_q = (
        sparse.join(dense, ["query_id", "cand_id"])
        .select("query_id", coef.alias("_coef"))
        .groupBy("query_id")
        .agg(
            round_like_duckdb(
                F.sum(F.col("_coef").cast("decimal(20,12)")).cast("double"),
                6,
            ).alias("rbo_10"),
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
        )
    )
    return (
        dense.select("query_id")
        .distinct()
        .join(per_q, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("rbo_10", F.lit(0.0)).alias("rbo_10"),
            F.coalesce("n_common", F.lit(0)).cast("bigint").alias("n_common"),
        )
        .orderBy("query_id")
    )
