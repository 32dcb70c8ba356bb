"""Train/test splits (SURVEY.md §2.8 R1-R3).

Reference citations: R1 seeded ``randomSplit([0.01,0.99], 40)``
(``Higgs Ensemble Analysis/higgs_ensemble_analysis.py:69-70,157``); R2
stratified split as an O(strata)-jobs driver loop of filter + randomSplit +
unionAll (``Insurance Claim Predictions/Claims_Prediction.py:43-54``); R3
temporal prefix split via sort+limit+subtract
(``Collaborative Filtering Analysis/als_clustering_analysis.py:47-49``).

Scale posture:

- ``random_split`` wraps Spark's native ``randomSplit`` — correct
  proportions, but the row→split assignment depends on partitioning
  (per-partition RNG streams), so it is *not* stable across cluster
  layouts.
- ``hash_split`` / ``stratified_split`` assign each row by
  ``xxhash64(key, seed) mod 10_000`` against a fraction threshold: a pure
  narrow projection — **no shuffle, no driver loop, no partition
  dependence**. The same row lands in the same split on 1 executor or
  1000. This replaces the reference's per-stratum driver loop
  (``Claims_Prediction.py:43-54``) with a single pass.
- ``temporal_split`` offers the exact path (global ``row_number`` with a
  deterministic tie-break — fixes the tie nondeterminism of
  ``als_clustering_analysis.py:48``) and a cutoff path
  (``approxQuantile`` on the time column + filter) that needs no global
  sort and is the one to use at 100 TB.

The reference's ``subtract`` complement (``als_clustering_analysis.py:49``)
silently deduplicates (EXCEPT DISTINCT); we complement by key anti-join
instead, which preserves duplicates and is broadcast-able.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_BUCKETS = 10_000


def random_split(
    df: DataFrame, weights: list[float], seed: int = 40
) -> list[DataFrame]:
    """R1: Spark-native seeded random split (reference semantics,
    ``higgs_ensemble_analysis.py:69-70``). Proportions are exact in
    expectation; assignment is partitioning-dependent."""
    return df.randomSplit(weights, seed)


def _bucket(key_cols: list[str | Column], seed: int) -> Column:
    cols = [F.col(c) if isinstance(c, str) else c for c in key_cols]
    return F.pmod(F.xxhash64(*cols, F.lit(seed)), F.lit(_BUCKETS))


def hash_split(
    df: DataFrame,
    key_cols: list[str | Column],
    train_frac: float,
    seed: int = 40,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic split on a hash of ``key_cols``: same row → same side
    regardless of partitioning or cluster size. Narrow (no shuffle)."""
    b = _bucket(key_cols, seed)
    thresh = int(round(train_frac * _BUCKETS))
    return df.filter(b < thresh), df.filter(b >= thresh)


def portable_split(
    df: DataFrame, key_cols: list[str], train_frac: float
) -> tuple[DataFrame, DataFrame]:
    """ENGINE-portable deterministic split: side = [md5 of the dashed
    key string < hex(train_frac · 2³²)] — the two-sided sibling of
    :func:`portable_sample_by` (same X56 md5-threshold trick). Unlike
    :func:`hash_split` (xxhash64 — Spark-only) any engine with md5
    reproduces the membership bit-for-bit, which is what lets the
    DuckDB oracle replay split SIZES exactly instead of settling for a
    rows-only invariant. Narrow plan: one filter, no shuffle, no RNG.

    Seeded ``randomSplit`` (R1 reference parity) stays available as
    :func:`random_split`; this is the membership-deterministic form a
    100 TB pipeline wants anyway (re-runs and late-arriving executors
    cannot flip a row's side)."""
    if not 0.0 <= train_frac <= 1.0:
        raise ValueError(f"train_frac must be in [0,1], got {train_frac}")
    u = F.substring(
        F.md5(
            F.concat_ws("-", *[F.col(c).cast("string") for c in key_cols])
        ),
        1,
        8,
    )
    thresh = F.lit(
        "g" if train_frac >= 1.0 else format(int(train_frac * 2**32), "08x")
    )
    return df.filter(u < thresh), df.filter(u >= thresh)


def stratified_split(
    df: DataFrame,
    strata_col: str,
    key_cols: list[str | Column],
    train_frac: float | dict[object, float],
    seed: int = 40,
) -> tuple[DataFrame, DataFrame]:
    """R2: per-stratum split in ONE narrow pass (vs the reference's
    O(strata) jobs, ``Claims_Prediction.py:43-54``).

    ``train_frac`` may be a scalar (same fraction per stratum) or a
    dict {stratum_value: fraction} like ``sampleBy``. Salting the hash
    with the stratum value decorrelates assignments across strata.
    """
    b = F.pmod(
        F.xxhash64(
            *[F.col(c) if isinstance(c, str) else c for c in key_cols],
            F.col(strata_col).cast("string"),
            F.lit(seed),
        ),
        F.lit(_BUCKETS),
    )
    if isinstance(train_frac, dict):
        thresh: Column = F.lit(0)
        for value, frac in sorted(train_frac.items(), key=lambda kv: str(kv[0])):
            thresh = F.when(
                F.col(strata_col) == F.lit(value), F.lit(int(round(frac * _BUCKETS)))
            ).otherwise(thresh)
    else:
        thresh = F.lit(int(round(train_frac * _BUCKETS)))
    return df.filter(b < thresh), df.filter(b >= thresh)


def portable_sample_by(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    fractions: dict[object, float],
    default: float = 0.0,
) -> DataFrame:
    """Deterministic, engine-portable stratified sampling — the domain-
    mixing step of corpus assembly ("keep 75% of src0, 25% of src2, 10%
    of the rest"). Each row's inclusion depends ONLY on
    ``md5(key)``, so the sample is identical on any partitioning, any
    cluster size, and any SQL engine with md5 (which is how the
    DuckDB oracle checks it bit-for-bit — unlike ``sampleBy``, whose
    per-partition RNG streams no other engine can reproduce).

    A row is kept iff the first 8 hex chars of ``md5(CAST(key AS
    STRING))`` compare lexicographically below ``hex(frac · 2^32)`` for
    its stratum — uniform because md5 nibbles are uniform and the hex
    alphabet is ordered. Fractions must be in [0, 1]; 1.0 keeps all rows.
    Narrow plan: a filter, no shuffle, no RNG state.
    """
    for v, frac in fractions.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction for {v!r} must be in [0,1], got {frac}")
    if not 0.0 <= default <= 1.0:
        raise ValueError(f"default fraction must be in [0,1], got {default}")

    def thresh_lit(frac: float) -> Column:
        # 'g' sorts above every hex char => keep-all sentinel for 1.0
        return F.lit("g" if frac >= 1.0 else format(int(frac * 2**32), "08x"))

    thresh = thresh_lit(default)
    for value, frac in sorted(fractions.items(), key=lambda kv: str(kv[0])):
        thresh = F.when(
            F.col(strata_col) == F.lit(value), thresh_lit(frac)
        ).otherwise(thresh)
    u = F.substring(F.md5(F.col(key_col).cast("string")), 1, 8)
    return df.filter(u < thresh)


def weighted_sample_topk(
    df: DataFrame,
    weight_col: str,
    k: int,
    *,
    key_col: str,
    priority_decimals: int = 6,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis/
    Spirakis A-ES): each row gets priority ``ln(u) / w`` for a uniform
    ``u`` ∈ (0, 1); the ``k`` LARGEST priorities are the sample, and the
    inclusion probabilities are exactly those of sequential weighted
    draws without replacement. Rows with ``w <= 0`` are excluded.

    Engine-portable like :func:`portable_sample_by`: ``u`` derives from
    the first 8 hex chars of ``md5(key)`` (+0.5 to dodge u = 0), so any
    engine with md5 reproduces the sample bit-for-bit — no RNG streams,
    no partitioning sensitivity. Priorities are ROUNDed (ties broken by
    key) so a 1-ulp ``ln`` divergence between engines cannot flip the
    cut. Plan: narrow projection + global top-k (TakeOrdered — no sort
    of the full table), the same shape at any scale.
    """
    u = (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10)
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(float(2**32))
    w = F.col(weight_col).cast("double")
    pri = F.round(F.log(u) / w, priority_decimals)
    return (
        df.filter(w > 0)
        .withColumn("priority", pri)
        .orderBy(F.desc("priority"), F.col(key_col).asc())
        .limit(k)
    )


def weighted_sample_per_stratum(
    df: DataFrame,
    strata_col: str,
    weight_col: str,
    k: int,
    *,
    key_col: str,
    priority_decimals: int = 6,
) -> DataFrame:
    """Per-stratum A-ES weighted sampling without replacement: the same
    md5-uniform priorities as :func:`weighted_sample_topk`, ranked
    INSIDE each stratum with a window — the shape that scales when the
    stratum count is large (a global TakeOrdered can't return k rows per
    each of millions of domains; a partitioned window ranks them all in
    one shuffle on the stratum key). Rows with ``w <= 0`` are excluded.
    Adds ``priority`` and ``sample_rank`` (1-based within stratum)."""
    u = (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10)
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(float(2**32))
    w = F.col(weight_col).cast("double")
    win = Window.partitionBy(strata_col).orderBy(
        F.desc("priority"), F.col(key_col).asc()
    )
    return (
        df.filter(w > 0)
        .withColumn("priority", F.round(F.log(u) / w, priority_decimals))
        .withColumn("sample_rank", F.row_number().over(win))
        .filter(F.col("sample_rank") <= k)
    )


def token_budget_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    token_col: str,
    budgets: dict[object, int],
) -> DataFrame:
    """Per-stratum TOKEN-budget sampling — the unit a training-mixture
    spec is actually written in ("200 B tokens of web, 30 B of code"),
    as opposed to ``portable_sample_by``'s row fractions.

    Rows in each stratum are ordered by ``md5(key)`` (engine-portable
    uniform shuffle, same contract as ``portable_sample_by``; ``key`` as
    tie-break) and kept while the INCLUSIVE running ``token_col`` total
    stays within the stratum's budget. The running sum is monotone, so
    "keep while ≤ budget" is an exact prefix — deterministic on any
    partitioning, any cluster size, and reproducible by any SQL engine
    with md5 + window sums (the DuckDB oracle). Strata without a budget
    are dropped (a mixture spec enumerates its domains).

    Adds ``cum_tokens`` (the running total) to the output. Plan: one
    shuffle on ``strata_col`` for the window sum — at 100 TB that is a
    per-domain sort; domains far larger than their budget should be
    pre-filtered with a cheap fraction cap (budget / est. total tokens,
    with slack) via ``portable_sample_by`` before the exact pass, which
    keeps the sorted set near the budget size instead of domain size.
    """
    if not budgets:
        raise ValueError("budgets must name at least one stratum")
    for v, b in budgets.items():
        if b < 0:
            raise ValueError(f"budget for {v!r} must be ≥ 0, got {b}")
    h = F.substring(F.md5(F.col(key_col).cast("string")), 1, 16)
    w = (
        Window.partitionBy(strata_col)
        .orderBy(h, F.col(key_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    budget = None
    for value, b in sorted(budgets.items(), key=lambda kv: str(kv[0])):
        clause = (F.col(strata_col) == F.lit(value), F.lit(int(b)))
        budget = F.when(*clause) if budget is None else budget.when(*clause)
    return (
        df.filter(F.col(strata_col).isin(list(budgets)))
        .withColumn(
            "cum_tokens", F.sum(F.col(token_col).cast("bigint")).over(w)
        )
        .filter(F.col("cum_tokens") <= budget.cast("bigint"))
    )


def class_balance_cap(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    cap: int,
    caps: dict[object, int] | None = None,
) -> DataFrame:
    """Per-class ROW cap — the majority-class downsampling step of
    training-set balancing ("at most N examples per label/language/
    domain"). Every class keeps its ``cap`` (or ``caps[class]``
    override) rows with the smallest ``md5(key)`` — an engine-portable
    uniform draw with the same determinism contract as
    ``portable_sample_by``: identical on any partitioning, cluster
    size, or SQL engine with md5, so the DuckDB oracle replays it
    bit-for-bit (``QUALIFY row_number() OVER (PARTITION BY class
    ORDER BY md5, key) <= cap``). Classes at-or-under their cap pass
    through whole.

    Plan: one shuffle on ``strata_col`` for the per-class rank window.
    At 100 TB the same pre-filter posture as ``token_budget_sample``
    applies: a class orders of magnitude above its cap should be cut
    down first with ``portable_sample_by`` (fraction ≈ cap / est. class
    rows, with slack) so the per-class sort ranks ~cap rows, not the
    raw class.
    """
    if cap < 0:
        raise ValueError(f"cap must be ≥ 0, got {cap}")
    for v, c in (caps or {}).items():
        if c < 0:
            raise ValueError(f"cap for {v!r} must be ≥ 0, got {c}")
    h = F.substring(F.md5(F.col(key_col).cast("string")), 1, 16)
    w = Window.partitionBy(strata_col).orderBy(h, F.col(key_col))
    limit = F.lit(int(cap))
    for value, c in sorted((caps or {}).items(), key=lambda kv: str(kv[0])):
        limit = F.when(
            F.col(strata_col) == F.lit(value), F.lit(int(c))
        ).otherwise(limit)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= limit)
        .drop("_rn")
    )


# Routing ceiling for temporal_split's exact path: above this row count
# the global single-partition row_number window is the wrong plan (one
# task sorts everything), so exact=None auto-routes to the cutoff path.
# SCALE_PROBE.json `window_budget_20m` measures the window family at
# ~1.8 M rows/s on ONE core — 10^7 rows ≈ 6 s, acceptable; 10^9 would
# serialize ~10 minutes onto a single task.
EXACT_MAX_ROWS = 10_000_000


def temporal_split(
    df: DataFrame,
    time_col: str,
    tie_break: str,
    train_frac: float,
    *,
    exact: bool | None = None,
) -> tuple[DataFrame, DataFrame]:
    """R3: earliest ``train_frac`` of rows → train, rest → test
    (``als_clustering_analysis.py:47-49`` sort+limit+subtract, minus its
    tie nondeterminism and its subtract-dedups-the-test-set bug).

    ``exact=True``: global ``row_number`` over (time, tie_break) —
    bit-deterministic, but a single-partition window; fine to ~10^7 rows.
    ``exact=False``: cutoff = approxQuantile(time, train_frac) and a plain
    filter — a narrow plan that scales to any size, approximate at the
    boundary. At 100 TB use the cutoff path.
    ``exact=None`` (default) routes on a row count: exact up to
    ``EXACT_MAX_ROWS``, cutoff above — callers who don't pick a path can
    never accidentally funnel a 100 TB table through one task (the count
    is reused by the exact path, so auto costs nothing extra there).
    """
    n = None
    if exact is None:
        n = df.count()
        exact = n <= EXACT_MAX_ROWS
    if exact:
        w = Window.orderBy(F.col(time_col).asc(), F.col(tie_break).asc())
        if n is None:  # routed explicitly — the count wasn't paid yet
            n = df.count()
        k = int(n * train_frac)
        ranked = df.withColumn("_rn", F.row_number().over(w))
        train = ranked.filter(F.col("_rn") <= k).drop("_rn")
        test = ranked.filter(F.col("_rn") > k).drop("_rn")
        return train, test
    # approxQuantile needs a numeric column; cast timestamps to epoch seconds.
    numeric = df.select(F.col(time_col).cast("double").alias("_t"))
    cutoff = numeric.approxQuantile("_t", [train_frac], 0.001)[0]
    t = F.col(time_col).cast("double")
    return df.filter(t <= cutoff), df.filter(t > cutoff)


def mixture_waterfill(
    df: DataFrame,
    strata_col: str,
    size_col: str,
    weights_bp: dict[object, int],
    *,
    default_bp: int = 0,
    budget_num: int,
    budget_den: int,
    rounds: int = 3,
    round_decimals: int = 6,
) -> DataFrame:
    """Domain-mixture solver for corpus assembly: given a token budget
    B = total · budget_num/budget_den and target mixture weights (basis
    points), compute each source's sampling fill-rate by WATERFILLING —
    a source whose target share exceeds its supply saturates at 1.0 and
    its unserved budget redistributes to the unsaturated sources in
    weight proportion. ``rounds`` fixed redistribution rounds, unrolled
    (deterministic plan, ANSI-SQL replayable — the oracle unrolls the
    same rounds); each round is one global agg over the SOURCE-level
    frame (already reduced from the corpus) + a single-row broadcast
    cross, so the solver costs O(sources), never O(corpus).

    Cross-engine determinism: weights are integer basis points and the
    budget is an integer floor-division of the exact BIGINT total, so
    every global sum is exact; per-source demand is one multiply + one
    divide on exact integers (identical IEEE everywhere); saturation
    compares that double against an exact integer.

    Output: ``(strata, t_units, weight_bp, saturated_round, fill_rate,
    alloc_units)`` — fill_rate = 1.0 for saturated sources, else the
    final round's demand/supply ROUNDed; alloc = floor(demand) capped
    at supply.
    """
    sizes = df.groupBy(F.col(strata_col).alias("_s")).agg(
        F.sum(size_col).cast("bigint").alias("t_units")
    )
    w = F.lit(int(default_bp))
    for value, bp in sorted(weights_bp.items(), key=lambda kv: str(kv[0])):
        w = F.when(F.col("_s") == F.lit(value), F.lit(int(bp))).otherwise(w)
    sized = sizes.withColumn("w_bp", w.cast("bigint"))
    total = sized.agg(F.sum("t_units").alias("_tot"))
    cur = (
        sized.crossJoin(F.broadcast(total))
        # SQL DIV: exact BIGINT floor-division (a double `/` would lose
        # exactness once total·num exceeds 2^53)
        .withColumn(
            "_B",
            F.expr(
                f"_tot * CAST({int(budget_num)} AS BIGINT) "
                f"DIV CAST({int(budget_den)} AS BIGINT)"
            ).cast("bigint"),
        )
        .drop("_tot")
        .withColumn("_sat", F.lit(False))
        .withColumn("saturated_round", F.lit(0))
        .withColumn("_demand", F.lit(0.0))
    )
    for r in range(1, rounds + 1):
        rem = cur.agg(
            (
                F.max("_B")
                - F.coalesce(
                    F.sum(F.when(F.col("_sat"), F.col("t_units"))), F.lit(0)
                )
            ).alias("_B_rem"),
            F.coalesce(
                F.sum(F.when(~F.col("_sat"), F.col("w_bp"))), F.lit(0)
            ).alias("_W_rem"),
        )
        cur = cur.crossJoin(F.broadcast(rem))
        demand = F.when(
            F.col("_W_rem") > 0,
            F.col("_B_rem").cast("double")
            * F.col("w_bp")
            / F.col("_W_rem"),
        ).otherwise(F.lit(0.0))
        newly = (
            ~F.col("_sat")
            & (demand >= F.col("t_units").cast("double"))
            & (F.col("w_bp") > 0)
        )
        cur = (
            cur.withColumn("_demand", F.when(F.col("_sat"), F.col("_demand")).otherwise(demand))
            .withColumn(
                "saturated_round",
                F.when(newly, F.lit(r)).otherwise(F.col("saturated_round")),
            )
            .withColumn("_sat", F.col("_sat") | newly)
            .drop("_B_rem", "_W_rem")
        )
    # portable half-up rounding (floor(q·10^d + 0.5)/10^d), matching the
    # oracle's chain exactly — F.round is HALF_UP on the exact binary
    # value, which can land one ulp differently than DuckDB's round for
    # a quotient sitting off a .5 boundary (the pool_embeddings lesson)
    _scale = F.lit(float(10**round_decimals))
    fill = F.when(F.col("_sat"), F.lit(1.0)).otherwise(
        F.floor(F.col("_demand") / F.col("t_units") * _scale + F.lit(0.5))
        / _scale
    )
    alloc = F.when(F.col("_sat"), F.col("t_units")).otherwise(
        F.least(F.col("t_units"), F.floor("_demand").cast("bigint"))
    )
    return cur.select(
        F.col("_s").alias(strata_col),
        "t_units",
        "w_bp",
        F.col("saturated_round").cast("bigint").alias("saturated_round"),
        fill.alias("fill_rate"),
        alloc.cast("bigint").alias("alloc_units"),
    ).orderBy(strata_col)
