"""Prefix-filtered set-similarity join invariants: completeness vs a
naive all-pairs reference on randomized zipfian-ish corpora — the
guarantee the DuckDB oracle checks on one fixture, probed here across
seeds, thresholds and degenerate shapes."""

from __future__ import annotations

import re

import numpy as np

from spark_ml_showcase_spark.functions import partitioning
from spark_ml_showcase_spark.operators.dedup import set_similarity_join


def _naive(texts: dict[int, str], t: float):
    toks = {i: set(s.lower().split()) for i, s in texts.items() if s.split()}
    out = {}
    ids = sorted(toks)
    for i in ids:
        for j in ids:
            if i >= j:
                continue
            inter = len(toks[i] & toks[j])
            union = len(toks[i] | toks[j])
            jac = round(inter / union, 6)
            if jac >= t:
                out[(i, j)] = jac
    return out


def _run(spark, texts: dict[int, str], t: float):
    df = spark.createDataFrame(
        list(texts.items()), "doc_id bigint, text string"
    )
    return {
        (r.id_a, r.id_b): r.jaccard
        for r in set_similarity_join(df, threshold=t).collect()
    }


def test_randomized_zipfian_vs_naive(spark):
    rng = np.random.default_rng(3)
    # zipf-ish vocabulary: token k drawn with weight 1/(k+1)
    vocab = [f"w{k}" for k in range(60)]
    w = 1.0 / np.arange(1, 61)
    w /= w.sum()
    texts = {}
    for i in range(120):
        n = int(rng.integers(5, 15))
        texts[i] = " ".join(rng.choice(vocab, size=n, p=w))
    for t in (0.6, 0.8):
        assert _run(spark, texts, t) == _naive(texts, t)


def test_exact_duplicates_and_disjoint(spark):
    texts = {1: "alpha beta gamma", 2: "alpha beta gamma",
             3: "delta epsilon zeta", 4: "alpha beta"}
    got = _run(spark, texts, 0.9)
    # only the exact duplicate qualifies at 0.9 (J(1,4)=2/3)
    assert got == {(1, 2): 1.0}


def test_threshold_boundary_pair_included(spark):
    # J = 9/10 = 0.9 exactly: >= must keep it
    a = " ".join(f"t{k}" for k in range(10))
    b = " ".join(f"t{k}" for k in range(9)) + " other"
    got = _run(spark, {1: a, 2: b}, 0.9)
    assert (1, 2) not in got  # J = 9/11 < 0.9 — sanity of the setup
    c = " ".join(f"t{k}" for k in range(9))
    got = _run(spark, {1: a, 3: c}, 0.9)
    assert got == {(1, 3): 0.9}


def test_integral_threshold_product_prefix_complete(spark):
    # ADVICE r9: ceil(0.7 * 10) computed in doubles can exceed 7 and
    # shorten the prefix by one token. Docs of exactly 10 tokens at
    # t=0.7 sharing 7 tokens sit right on that boundary — the join
    # must still find every qualifying pair vs the naive reference.
    base = [f"t{k}" for k in range(10)]
    texts = {}
    for i in range(8):
        # 7 shared + 3 distinct tokens -> 10 tokens, pairwise overlap
        # 7/13 < 0.7 except for crafted exact-duplicate pairs below
        texts[i] = " ".join(base[:7] + [f"u{i}a", f"u{i}b", f"u{i}c"])
    texts[100] = " ".join(base)          # exact 10-token doc
    texts[101] = " ".join(base)          # duplicate: jaccard 1.0
    texts[102] = " ".join(base[:7] + ["z1", "z2", "z3"])
    for t in (0.5, 0.7, 1.0):
        assert _run(spark, texts, t) == _naive(texts, t)


def test_verify_width_survives_when_it_equals_the_shuffle_width(spark, monkeypatch):
    """A verify width equal to spark.sql.shuffle.partitions still runs as
    its own exchange: one hashed on (id_a, id_b) equalled the dedup's
    and was dropped, and AQE then coalesced the verify stage."""
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert width == partitioning.width(spark) > 1
    monkeypatch.setattr(partitioning, "VERIFY_ROWS_PER_TASK", 1)
    rng = np.random.default_rng(5)
    vocab = [f"w{k}" for k in range(12)]
    texts = {i: " ".join(rng.choice(vocab, size=6)) for i in range(60)}
    df = spark.createDataFrame(list(texts.items()), "doc_id bigint, text string")
    out = set_similarity_join(df, threshold=0.6)
    got = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
    assert got == _naive(texts, 0.6) and got
    final = out._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    verify = re.findall(r"Exchange hashpartitioning\(id_a#\d+L, (\d+)\), REPARTITION_BY_NUM", final)
    assert verify == [str(width)]
