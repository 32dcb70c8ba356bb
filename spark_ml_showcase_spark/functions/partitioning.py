"""The engine's one width policy: every explicit repartition width in
the package comes from :func:`width`, and every "how wide is this frame
now" question from :func:`plan_width`.

Why fan out. Work done in a SCAN stage — regex split, gram explode,
Arrow UDFs, brute-force scoring — runs at the scan's file-split count,
and a small single-file parquet source is ONE split: the whole pass
serializes onto one core. AQE cannot help (coalescing only resizes
post-shuffle stages), so the fix is an explicit repartition BEFORE the
expensive projection. An explicit width is also exempt from AQE
coalescing, which is why a post-shuffle stage whose work is far larger
than its input bytes (wedge generation, pair verification) sets one.

Why work-derived. More tasks is not free: r15's triangle verdict and
an r16 A/B both showed fixture-scale stages losing the parallelism win
to per-task launch overhead when tasks got too small (tf micro at
sf0.1: 0.74 s serial, 0.63-0.74 s at 32 tasks, 0.37 s at 8). Where an
operator knows its work up front — a bounded agg it runs anyway, a
scan's size statistics, a list's length — the width is one task per
``per_task`` units of that work. The quanta below are measured points:

- ``SCAN_BYTES_PER_TASK``: raw-text explode work per parquet byte
  (npmi's tokenize legs);
- ``VERIFY_ROWS_PER_TASK``: set-similarity verify incidences — swept
  at sf0.1, width 1/5/9/18 gave 2.9/1.4/1.0/1.0 s at stage CPU
  3.7/4.0/4.2/5.5 s, so ~0.5 s tasks take the wall win before extra
  tasks buy nothing;
- ``WEDGES_PER_TASK``: triangle wedges per task;
- ``VOCAB_WORDS_PER_TASK``: BPE vocabulary words per partition — each
  merge round re-materializes the symbol arrays, so the loop is sized
  to the vocab, not the corpus.

Why capped. The cap is the session's parallelism
(``spark.default.parallelism``): more tasks than slots only queue. At
cluster scale the cap is what engages, so that one conf is the whole
sizing input; sites with no work estimate take it directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

SCAN_BYTES_PER_TASK = 32 << 10
VERIFY_ROWS_PER_TASK = 100_000
WEDGES_PER_TASK = 1_000_000
VOCAB_WORDS_PER_TASK = 50_000


def width(spark: SparkSession, work: int | None = None, per_task: int = 1) -> int:
    """Tasks for a stage doing ``work`` units at ``per_task`` units per
    task, capped at the session's parallelism; the parallelism itself
    when the work is unknown."""
    par = spark.sparkContext.defaultParallelism
    if work is None:
        return par
    return max(1, min(par, -(-int(work) // max(1, per_task))))


def plan_width(df: DataFrame) -> int:
    """``df``'s partition count as its physical plan states it, with no
    Spark job. An exchange-free plan is built into its RDD — lazily, so
    a scan reports its file splits and a checkpoint its partitions. An
    adaptive plan reports its root's stated output partitioning, before
    any AQE coalescing; 0 when the root stage is not an exchange's
    output (only running the upstream stages, as ``.rdd`` does, would
    tell)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        return plan.inputPlan().outputPartitioning().numPartitions()
    return plan.execute().getNumPartitions()


def fan_out(df: DataFrame, n: int) -> DataFrame:
    """Round-robin ``df`` to ``n`` partitions only if its plan states
    fewer; at scale a real scan already has enough splits and this is
    a no-op, never a payload reshuffle."""
    return df.repartition(n) if plan_width(df) < n else df


def widen_narrow_scan(df: DataFrame) -> DataFrame:
    """Fan ``df`` out to one task per ``SCAN_BYTES_PER_TASK`` of its
    size statistics, for explode-heavy downstream work. Identical
    frames widened this way share ONE exchange at runtime (reuse
    dedupes the scan+tokenize map across consumer legs)."""
    try:
        in_bytes = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # stats unavailable — leave the frame alone
        return df
    return fan_out(df, width(df.sparkSession, in_bytes, SCAN_BYTES_PER_TASK))
