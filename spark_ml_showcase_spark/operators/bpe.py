"""BPE merge-rule learning: the iterative tokenizer-vocabulary
induction loop (Sennrich et al., "Neural Machine Translation of Rare
Words with Subword Units", ACL 2016 — the algorithm behind GPT/BERT
vocabularies).

Extends the engine's single-round pair count
(``bpe_pair_counts_top20``, plans/extensions.py) to the full loop:
count adjacent symbol pairs, merge the most frequent pair everywhere,
repeat. Not SQL-expressible (each round reshapes the symbol arrays),
so the registered query is rows-only; the loop is pinned against a
pure-Python reference implementation in ``tests/test_bpe.py``.

Scale posture (100 TB corpus):

- The corpus is touched ONCE — the word-frequency shuffle. Every
  round after that runs on the DISTINCT-WORD vocabulary (orders of
  magnitude smaller; the classic BPE trick), so per-round cost is
  O(vocab), not O(corpus).
- Per round: one exploded pair count (map-side combined — the pair
  space is tiny) + one argmax ``limit(1).collect()`` — a bounded
  driver sink, one row per round. Pending merges apply as nested JVM
  ``aggregate`` HOFs (no Python boundary in the learn loop at all);
  every few rounds they fold into a fresh ``localCheckpoint`` base so
  lineage stays bounded.
- Determinism: ties in pair frequency break by (left, right) symbol
  order, so the learned merge table is a pure function of the corpus.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_ml_showcase_spark.functions import partitioning

# adjacent symbol pairs of one word: slice(syms, 1, n-1) is the
# 1-based prefix syms[0..n-2]; transform's lambda index i is 0-based
# and the [] subscript is 0-based too, so the partner of slice
# element i (= syms[i]) is syms[i + 1]
_PAIRS = (
    "transform(slice(syms, 1, size(syms) - 1),"
    " (s, i) -> struct(s AS l, syms[i + 1] AS r))"
)


def _word_vocab(docs: DataFrame, text_col: str) -> DataFrame:
    """(syms: array<string>, freq: bigint) per DISTINCT word — the one
    corpus-sized shuffle of the whole algorithm."""
    words = docs.select(
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w")
    ).filter(F.length("w") > 0)
    return (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .select(F.split("w", "").alias("syms"), "freq")
    )


def _merge_col(col, rules: list[tuple[str, str]]):
    """JVM-expression merge application: apply a LIST of merge rules in
    learning order, each replacing every adjacent (left, right) with
    the concatenated symbol. The greedy left-to-right scan (a merged
    token never re-matches as the LEFT of the same rule — the reference
    loop advances past it) is a left fold: carry the last unmerged
    symbol; on (carry=left, next=right) emit the merged token and clear
    the carry. One ``aggregate`` HOF per pending rule, nested ≤
    ``checkpoint_every`` deep — no Python crossing at all, where the
    r15 shape paid one ArrowEvalPython round trip (worker attach +
    Arrow serialization of every symbol array) per learning round
    (guide §4.1: the win is eliminating the boundary, not speeding the
    Python). Symbols ride as Column literals, so no SQL-string
    escaping. Out-degree of the fold state is O(word length) — array
    appends on ≤ word-length accumulators, vocab-scale rows."""
    def one_rule(left: str, right: str):
        # closure factory — binds the rule by value (pyspark inspects
        # the lambda arity, so the bindings cannot ride default args).
        # State is the output stack itself: the top of the stack is the
        # only symbol still eligible to merge (a merged token is
        # left+right, strictly longer than left, so it can never
        # re-match as the LEFT of its own rule — exactly the reference
        # loop's skip past a merge).
        _l, _r = F.lit(left), F.lit(right)
        _m = F.lit(left + right)

        def step(acc, s):
            # try_element_at: NULL (not an ANSI error) on the empty
            # stack — NULL == left is NULL, so the first symbol appends
            return F.when(
                (F.try_element_at(acc, F.lit(-1)) == _l) & (s == _r),
                F.concat(
                    F.slice(acc, F.lit(1), F.size(acc) - F.lit(1)),
                    F.array(_m),
                ),
            ).otherwise(F.concat(acc, F.array(s)))

        return step

    out = col
    init = F.array().cast("array<string>")
    for left, right in rules:
        out = F.aggregate(out, init, one_rule(left, right))
    return out


def learn_bpe_merges(
    docs: DataFrame,
    *,
    text_col: str = "text",
    n_merges: int = 10,
) -> DataFrame:
    """Learn ``n_merges`` BPE merge rules from a document corpus.
    Returns one row per learned rule:
    ``(rank, left, right, merged, freq)`` in learning order."""
    spark: SparkSession = docs.sparkSession
    vocab = _word_vocab(docs, text_col).localCheckpoint()
    # size the ITERATION to the vocab, not the corpus: at distinct-word
    # scale (thousands at test SFs) task-launch overhead dominates a
    # session-wide layout 8 rounds deep
    parts = partitioning.width(
        spark, vocab.count(), partitioning.VOCAB_WORDS_PER_TASK
    )
    if partitioning.plan_width(vocab) > parts:
        vocab = vocab.coalesce(parts).localCheckpoint()

    # the loop keeps a CHECKPOINTED base vocabulary plus the list of
    # merges learned since the last checkpoint: each round's pair count
    # re-applies the pending merges as nested JVM aggregate-HOFs on top
    # of the base (vocab-scale work, zero Python crossings), so a round
    # costs exactly one job — the bounded argmax collect — instead of
    # the former collect + per-round checkpoint materialization pair.
    # Every `checkpoint_every` rounds the pending merges are folded
    # into a new base so lineage (and re-applied work) stays bounded.
    checkpoint_every = 4
    rules: list[tuple[int, str, str, str, int]] = []
    pending: list[tuple[str, str]] = []
    for rank in range(1, n_merges + 1):
        cur = (
            vocab.select(
                _merge_col(F.col("syms"), pending).alias("syms"), "freq"
            )
            if pending
            else vocab
        )
        counts = (
            cur.filter(F.size("syms") >= 2)
            .select(F.explode(F.expr(_PAIRS)).alias("p"), "freq")
            .groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("n"))
        )
        # bounded driver sink: exactly ONE row per round (the argmax),
        # mirroring the scd2-style limit(1) guards
        top = counts.orderBy(
            F.desc("n"), F.asc("l"), F.asc("r")
        ).limit(1).collect()
        if not top:
            break
        left, right, freq = top[0].l, top[0].r, int(top[0].n)
        rules.append((rank, left, right, left + right, freq))
        pending.append((left, right))
        if len(pending) >= checkpoint_every:
            vocab = vocab.select(
                _merge_col(F.col("syms"), pending).alias("syms"), "freq"
            ).localCheckpoint()
            pending = []

    return spark.createDataFrame(
        rules, "rank bigint, left string, right string, merged string, freq bigint"
    )


def encode_token_counts(
    docs: DataFrame,
    rules: list[tuple[str, str]],
    *,
    text_col: str = "text",
    id_cols: list[str] | None = None,
) -> DataFrame:
    """ENCODE with a learned merge table: apply the rules in learning
    order to every word and count the resulting subword tokens per
    document — the apply-side of :func:`learn_bpe_merges`, i.e. the
    token-budget accounting a training pipeline runs with the final
    vocabulary.

    One Arrow-batched pass over the corpus (the rule table rides the
    closure — merge tables are KBs); no shuffle at all unless the
    caller aggregates afterwards. Output: input id columns +
    ``n_words`` + ``n_tokens``.
    """
    id_cols = id_cols or []
    ordered = list(rules)

    def encode(col: pd.Series) -> pd.Series:
        import re

        ws = re.compile(r"\s+")  # mirror the JVM-side \s+ word split
        # distinct-word memo (the classic BPE corpus trick applied to
        # the encode side): token count is a pure function of the word,
        # and corpora repeat words Zipf-style, so each batch encodes a
        # word once instead of once per occurrence (guide §4.2 — do
        # less work per batch, not just faster work)
        memo: dict[str, int] = {}

        def word_tokens(w: str) -> int:
            n_t = memo.get(w)
            if n_t is not None:
                return n_t
            syms = list(w)
            for left, right in ordered:
                merged, out, i, n = left + right, [], 0, len(syms)
                while i < n:
                    if (
                        i + 1 < n
                        and syms[i] == left
                        and syms[i + 1] == right
                    ):
                        out.append(merged)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            memo[w] = len(syms)
            return memo[w]

        def count_tokens(text: str) -> int:
            return sum(
                word_tokens(w) for w in ws.split(text.lower()) if w
            )

        return col.map(count_tokens)

    n_tokens = F.pandas_udf(encode, "long")

    def n_words(col):
        return F.size(
            F.filter(
                F.split(F.lower(col), r"\s+"), lambda x: x != F.lit("")
            )
        ).cast("bigint")

    return docs.select(
        *id_cols,
        n_words(F.col(text_col)).alias("n_words"),
        n_tokens(F.col(text_col)).alias("n_tokens"),
    )
