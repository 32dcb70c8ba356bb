"""Model-based corpus quality filtering (weak supervision → classifier).

The heuristic quality gates (``functions.text.quality_score``, the
Gopher flags) are the first pass of a real pipeline; the second is a
LEARNED filter — CCNet's fasttext LM-vs-crawl classifier, LLaMA's
"references-Wikipedia" classifier — that generalizes beyond hand rules.
This module reproduces that shape on MLlib, keeping everything inside
the engine:

1. **Weak labels from the heuristic**: docs in the top tercile of
   ``quality_score`` are positives, bottom tercile negatives, the
   ambiguous middle is DROPPED from training (standard weak-supervision
   hygiene — don't train on labels you don't trust).
2. **Features**: the numeric text statistics (token count, mean word
   length, punctuation/stopword ratios — JVM expressions) plus a hashed
   lexical bag (RegexTokenizer → HashingTF → IDF), assembled into one
   vector.
3. **LogisticRegression** fit on the confident extremes (deterministic:
   L-BFGS over deterministic features — ``seed`` governs only the
   optional training subsample), then scored over the FULL corpus — the
   filter's output is a calibrated ``quality_prob``, thresholded by the
   caller per use-case (pretrain vs fine-tune corpora want different
   purity). NULL text scores like an empty string; rows are never
   dropped by the scorer.

Scale posture: labeling and featurization are narrow column work; the
LR fit is MLlib's distributed L-BFGS over the (subsampled) training
extremes; scoring is one model broadcast + a map — no shuffle beyond
the fit itself. At 100 TB you fit on a sample (set ``train_fraction``)
and score everything, exactly like the published pipelines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_ml_showcase_spark.functions import text as TX

_NUMERIC_FEATS = ["n_tok", "mean_wlen", "punct_r", "stop_r"]
_SAFE_TEXT = "_qf_text"


def _with_text_stats(docs: DataFrame, text_col: str) -> DataFrame:
    # NULL text → empty string: the row stays scoreable (gets a low
    # probability) instead of crashing the tokenizer/assembler —
    # score_quality's contract is one score per input row
    safe = F.coalesce(F.col(text_col), F.lit(""))
    return (
        docs.withColumn(_SAFE_TEXT, safe)
        .withColumn("n_tok", TX.whitespace_token_count(_SAFE_TEXT).cast("double"))
        .withColumn("mean_wlen", TX.mean_word_length(_SAFE_TEXT))
        .withColumn("punct_r", TX.punct_ratio(_SAFE_TEXT))
        .withColumn("stop_r", TX.stopword_ratio(_SAFE_TEXT))
    )


def train_quality_filter(
    docs: DataFrame,
    *,
    text_col: str = "text",
    seed: int = 40,
    train_fraction: float | None = None,
    max_iter: int = 25,
):
    """Fit the weak-supervision quality classifier; returns a
    PipelineModel whose ``transform`` adds ``probability``/``prediction``
    (use :func:`score_quality` for the tidy (doc_id, quality_prob)
    surface). ``train_fraction`` subsamples the labeled extremes before
    the fit — the 100 TB path; ``seed`` governs ONLY that subsample
    (refits are reproducible regardless: deterministic featurization +
    deterministic L-BFGS, which is what the determinism test pins).

    Raises ``ValueError`` on a corpus with no labelable rows — callers
    composing pipelines should guard the empty case (the
    ``model_quality`` stage passes empties through untouched).
    """
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import (
        IDF,
        HashingTF,
        RegexTokenizer,
        VectorAssembler,
    )

    stats = _with_text_stats(docs, text_col).withColumn(
        "_q", TX.quality_score(_SAFE_TEXT)
    )
    quantiles = stats.approxQuantile("_q", [1 / 3, 2 / 3], 0.001)
    if not quantiles:
        raise ValueError(
            "cannot train a quality filter on an empty corpus "
            "(no rows to derive weak labels from)"
        )
    lo, hi = quantiles
    labeled = stats.filter((F.col("_q") <= lo) | (F.col("_q") >= hi)).withColumn(
        "label", (F.col("_q") >= hi).cast("double")
    )
    if train_fraction is not None:
        labeled = labeled.sample(fraction=train_fraction, seed=seed)
    # the fit is several actions (IDF fit, L-BFGS iterations) over the
    # same labeled frame — cache it so the text-stats/labeling lineage
    # computes once, not per action
    labeled = labeled.cache()
    try:
        pipe = Pipeline(
            stages=[
                RegexTokenizer(
                    inputCol=_SAFE_TEXT, outputCol="_tok", pattern=r"\s+"
                ),
                HashingTF(inputCol="_tok", outputCol="_tf", numFeatures=128),
                IDF(inputCol="_tf", outputCol="_tfidf"),
                VectorAssembler(
                    inputCols=[*_NUMERIC_FEATS, "_tfidf"], outputCol="features"
                ),
                LogisticRegression(
                    maxIter=max_iter, regParam=0.01, standardization=True
                ),
            ]
        )
        return pipe.fit(labeled)
    finally:
        labeled.unpersist()


def score_quality(
    model,
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score the FULL corpus with a trained filter: (id_col,
    quality_prob) where quality_prob is P(high-quality)."""
    from pyspark.ml.functions import vector_to_array

    scored = model.transform(_with_text_stats(docs, text_col))
    return scored.select(
        F.col(id_col),
        F.round(vector_to_array("probability")[1], 6).alias("quality_prob"),
    )
