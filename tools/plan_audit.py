"""Plan-hygiene audit: scan every registered BATCH query's physical plan
for scale anti-patterns and write PLAN_AUDIT.json.

Automates the review a careful reader does by hand: at 100 TB, one
accidental CartesianProduct or non-broadcast nested-loop join is a
dead job, and a scan that stopped pushing filters is a silent 10×. The
audit flags, per query:

- ``cartesian``  — CartesianProduct anywhere in the plan
- ``bnlj``       — BroadcastNestedLoopJoin (legal only against
                   broadcast-small sides; every use needs a justification)
- ``n_exchanges``— shuffle count (tracked, not judged: the oracle of
                   record is bench telemetry round over round)
- ``plan_digest``— sha256 prefix of the NORMALIZED physical plan
                   (see ``normalize_plan``/``plan_digest``): two runs of
                   one commit give identical digests, so a refactor that
                   must not change any plan is checked by diffing two
                   PLAN_AUDIT.json files (``jq -S .queries`` each side)

Uses sf0.001 so queries whose build is eager (layout materialization,
quantizer fits) stay cheap. Streaming (`stream_`) and ML (`ml_`)
queries are skipped: constructing them RUNS a stream / fits a model,
and their plan hygiene is covered by their own tests.

An ALLOWLIST maps each accepted flag to its justification; any flagged
query NOT in the allowlist exits non-zero — so a regression (new
cartesian, lost broadcast) fails loudly in any round that runs this.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SKIP_PREFIXES = ("stream_", "ml_")

# query -> {flag: justification}; a flag on a query absent here FAILS.
ALLOWLIST = {
    "profile_orders_table": {
        "bnlj": "two broadcast SINGLE-ROW aggregate frames cross-joined "
        "(1×1 and 1×1): the three-way agg split that keeps string "
        "min/max off the count-distinct Expand (5× faster, see "
        "operators/profile.py) — no data-sized side exists"
    },
    "cosine_topk_bruteforce": {
        "bnlj": "by design: broadcast(queries) × candidates — the exact "
        "brute-force baseline; candidates stream once past the tiny "
        "broadcast side"
    },
    "ann_recall_report": {
        "bnlj": "crossJoin against a broadcast 1-row scalar (truth size) "
        "plus the brute-force truth computation itself"
    },
    "quantized_ann_recall": {
        "bnlj": "same shape as ann_recall_report: brute-force truth and "
        "quantized rerank are broadcast(queries) crosses, plus the "
        "1-row truth-size scalar"
    },
    "geo_knn_haversine": {
        "bnlj": "brute_force_topk shape on the sphere: suppliers stream "
        "once against the broadcast sampled customer side (c_custkey % "
        "100 — 1% at every SF); corpus×corpus would grid-bucket first"
    },
    "geo_knn_grid": {
        "bnlj": "the exact-FALLBACK leg only: candidates stream once "
        "against the broadcast unresolved residue of the ring ladder "
        "(empty at corpus density; bounded by the 1% query sample here) "
        "— the resolved path is cell equi-joins"
    },
    "mixture_waterfill_sources": {
        "bnlj": "waterfilling rounds: each of the 3 unrolled rounds "
        "crosses the broadcast SINGLE-ROW remaining-budget/weight "
        "aggregate back into the source-level frame (plus the 1-row "
        "total) — event_type_share shape × rounds"
    },
    "maxsim_late_interaction": {
        "bnlj": "token-level broadcast(80 query token vectors) cross "
        "against the candidate token scan — the brute_force_topk shape "
        "at token granularity; at scale the exact pass runs on IVF "
        "candidates only (docstring)"
    },
    "benford_order_totals": {
        "bnlj": "single-row broadcast crosses (tpch_q11 pattern): the "
        "9-digit count frame crosses the 1-row total, then the 1-row "
        "chi2 scalar"
    },
    "key_skew_diagnosis": {
        "bnlj": "the 10-row top-key frame crosses the single-row "
        "corpus-stats scalar (tot/n_keys/HHI) — tpch_q11 pattern"
    },
    "zipf_vocab_slope": {
        "bnlj": "the 20-row top-vocab frame crosses the single-row OLS "
        "fit scalar — tpch_q11 pattern"
    },
    "hard_negative_mining": {
        "bnlj": "cosine_topk_bruteforce shape with a label-inequality "
        "predicate: candidates stream once against the broadcast 1% "
        "anchor sample; at scale the fetch rides the pooled IVF probe "
        "with the label filter on the cell scan (docstring)"
    },
    "maxsim_ivf_rerank": {
        "bnlj": "the TRUTH leg only: same bounded broadcast(query "
        "tokens) cross as maxsim_late_interaction, present to measure "
        "the served path's recall — the SERVED leg itself is equi-joins "
        "(cells probe + candidate semi) with no cross"
    },
    "pca_quantized_regimes": {
        "bnlj": "quantized_ann_recall family ×3 legs: the truth and "
        "each compression point's rerank are broadcast(20-query) "
        "crosses, plus the 1-row truth-size scalar per leg"
    },
    "quantile_sketch_prices": {
        "bnlj": "the sketch-bound rank check crosses the broadcast "
        "SINGLE-ROW stats frame (estimates + exact + count) back into "
        "the orders scan — event_type_share shape"
    },
    "ivf_index_upsert": {
        "bnlj": "same family as ann_recall_report: brute-force truth "
        "(broadcast 20-query cross) + each probe leg's query×centroid "
        "assignment against the broadcast 8-row centroid table + the "
        "1-row truth-size scalar; the cell scoring is an equi-join"
    },
    "ann_multiprobe_curve": {
        "bnlj": "brute-force truth + query×centroid ranking (broadcast "
        "16-row centroid table) + the 1-row truth-size scalar; the "
        "per-probe-level scoring itself is an equi-join on cell id"
    },
    "cached_two_branch_report": {
        "bnlj": "two single-row global aggregates joined to the report "
        "rows — both sides broadcast-tiny"
    },
    "event_type_share": {
        "bnlj": "share-of-total: single-row global total crossed into "
        "the per-type rows"
    },
    "validate_orders_expectations": {
        "bnlj": "the unique/referential check rows cross their "
        "SINGLE-ROW violation aggregate with the SINGLE-ROW total "
        "aggregate — two 1-row frames per check; the row-local checks "
        "share one scan and never cross anything"
    },
    "bm25_rank_docs": {
        "bnlj": "BM25's corpus stats (N, avgdl, per-term df) are ONE "
        "broadcast row crossed into the per-doc tf frame — the "
        "bigram_lm_scores scalar shape; no data-sized side exists"
    },
    "kmv_user_overlap_types": {
        "bnlj": "pairwise set-algebra over the 5 per-type KMV sketch "
        "rows: a broadcast type_a < type_b self-join of a "
        "|event-types|-sized frame — the whole point is that the "
        "event-scale table was already reduced to 5 sketch rows"
    },
    "market_basket_pairs": {
        "bnlj": "lift's denominator: broadcast SINGLE-ROW order count "
        "crossed into the top pair frame — tpch_q11 shape"
    },
    "spend_concentration_deciles": {
        "bnlj": "share-of-total: broadcast SINGLE-ROW grand total "
        "crossed into the 10 decile rows — event_type_share shape"
    },
    "rrf_fusion_ivf": {
        "bnlj": "rrf_fusion_docs family: the exact-fusion baseline leg "
        "keeps the broadcast(queries) brute-force cross and the sparse "
        "leg's single-row corpus-size scalar; the IVF leg and the "
        "overlap join are equi-joins on (cell) / (query, cand)"
    },
    "rbo_sparse_vs_dense": {
        "bnlj": "rrf_fusion_docs family: the exact dense ranking leg is "
        "the bounded broadcast(2% query sample) cross; the sparse leg "
        "and the RBO coefficient join are equi-joins"
    },
    "rrf_fusion_docs": {
        "bnlj": "inherits its two inputs' allowlisted crosses: the dense "
        "list's broadcast(queries) brute-force baseline and the sparse "
        "list's single-row corpus-size scalar; the fusion itself is a "
        "full equi-join on (query, cand)"
    },
    "sparse_cosine_topk_docs": {
        "bnlj": "idf's global corpus size: broadcast SINGLE-ROW "
        "count(documents) crossed into the per-gram weight frame "
        "(tfidf_top_terms_sql shape); candidates themselves come from "
        "a gram equi-join"
    },
    "npmi_collocations": {
        "bnlj": "two broadcast SINGLE-ROW totals (token count, bigram "
        "count) crossed into the filtered collocation frame — no "
        "data-sized side exists"
    },
    "tfidf_top_terms_sql": {
        "bnlj": "global corpus size N for the idf: a broadcast "
        "SINGLE-ROW count(documents) aggregate crossed into the "
        "1024-term vocab frame — tpch_q11 shape, no data-sized side"
    },
    "tpch_q11_important_stock": {
        "bnlj": "Q11's global threshold: a broadcast SINGLE-ROW "
        "(total, n_parts) aggregate crossed into the per-part values "
        "for the exact value*n > total*2 comparison — same shape as "
        "Q22, no data-sized side exists"
    },
    "tpch_q22_global_sales_opportunity": {
        "bnlj": "Q22's global threshold: a broadcast SINGLE-ROW "
        "(n_pos, total_pos) aggregate crossed into customer for the "
        "exact bal*n > total comparison — no data-sized side exists"
    },
    "frame_sample_stats": {
        "bnlj": "per-row fan-out against a broadcast frame-index literal"
    },
    "minhash_skew_stress": {
        "bnlj": "stress harness compares candidate counts against a "
        "broadcast single-row bound"
    },
    "bigram_lm_scores": {
        "bnlj": "crossJoin(broadcast(vocab)) — vocab is a single-row "
        "scalar (vocabulary size for add-k smoothing); "
        "operators/lm_score.py:101"
    },
    "clean_corpus_funnel": {
        "bnlj": "inherits the LM-fluency stage's broadcast-scalar vocab "
        "cross (see bigram_lm_scores)"
    },
    "ngram_jaccard_pairs": {
        "bnlj": "the DOCUMENTED O(n²) exact-verification twin of the "
        "banded path — bounded oracle use only; operators/dedup.py:223"
    },
    "ivf_topk": {
        "bnlj": "query-side probe: crossJoin(broadcast(centroids)) with "
        "n_lists rows; functions/similarity.py:274"
    },
    "profile_drift_orders": {
        "bnlj": "runs the profiler TWICE (yesterday/today) — inherits "
        "profile_orders_table's broadcast SINGLE-ROW aggregate-frame "
        "crosses; no data-sized side exists"
    },
    "dense_hourly_event_counts": {
        "bnlj": "calendar-spine grid: distinct keys × broadcast "
        "sequence() buckets — both sides tiny by construction; the "
        "events table itself joins the grid hash-keyed"
    },
    "xcorr_view_purchase_lags": {
        "bnlj": "7-row broadcast lag spine crossed into the hourly "
        "count series (≤ buckets × 7 rows) — the join to the second "
        "series is hash-keyed on the shifted bucket"
    },
    "gapfill_interpolate_hourly": {
        "bnlj": "same calendar-spine grid as dense_hourly_event_counts: "
        "distinct event types × broadcast sequence() buckets, both "
        "tiny; the observed averages join the grid hash-keyed"
    },
    "triangle_count_suppliers": {
        "bnlj": "two broadcast SINGLE-ROW aggregate frames (edge count, "
        "node count) crossed into the 1-row triangle count — the "
        "profile_orders_table shape"
    },
    "shrunken_value_score_by_type": {
        "bnlj": "single-row broadcast global-prior frame crossed into "
        "the 5 per-type aggregate rows — the event_type_share shape"
    },
    "cusum_changepoint_by_type": {
        "bnlj": "same calendar-spine grid: distinct event types × "
        "broadcast sequence() buckets — the CUSUM series needs the "
        "dense grid; observed counts join it hash-keyed"
    },
    "skyline_parts_price_size": {
        "bnlj": "two-phase skyline refine: the dominance anti-join runs "
        "on the broadcast LOCAL-skyline survivors only (O(log² n) per "
        "partition on random data), never on the input — that bound is "
        "the point of the mapInPandas prune (operators/skyline.py)"
    },
    "decontaminate_embedding": {
        "bnlj": "by design: corpus streams once past "
        "crossJoin(broadcast(benchmark vectors)) — the benchmark side "
        "is eval-set-sized; operators/decontaminate.py"
    },
}


def normalize_plan(plan: str) -> str:
    """The plan text with every per-process token masked: expression
    ids (``#12L``), the suffixes PySpark's per-process counter gives
    lambda variables (``x_461``, shifted by every earlier higher-order
    function), exchange ``plan_id``s, RDD ids, the ids of already
    run AQE query stages (numbered in submission order), paths under
    the per-process ``run_dir`` root (staged-store keys may fold in the
    application id) and paths in the checkout (Spark truncates a long
    location, so where it cuts depends on the checkout's path)."""
    tmp = re.escape(tempfile.gettempdir())
    plan = re.sub(tmp + r"/smss_run_[^\s,\]]*", "<run_dir>", plan)
    plan = re.sub(re.escape(REPO) + r"[^\s,\]]*", "<repo>", plan)
    plan = re.sub(r"(lambda [A-Za-z_]\w*?)_\d+(?=#)", r"\1_", plan)
    plan = re.sub(r"#\d+L?", "#", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=", plan)
    plan = re.sub(r"QueryStage \d+", "QueryStage", plan)
    return re.sub(r"(\w*RDD)\[\d+\]", r"\1[]", plan)


def plan_digest(plan: str) -> str:
    """Digest of the normalized plan, line by line in tree order, each
    line taken as the sorted multiset of its words: Catalyst orders some
    in-line lists (the distinct-aggregate ``Expand`` projections and
    their ``gid`` numbering) by expression-id hash, which varies between
    processes. Every operator, column and width still counts."""
    lines = [
        " ".join(sorted(w for w in re.split(r"[\s,()\[\]]+", line) if w))
        for line in normalize_plan(plan).splitlines()
    ]
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def main() -> int:
    from pyspark.sql import functions as F  # noqa: F401

    import __spark_entry__ as entry
    from spark_ml_showcase_spark.session import get_session

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_session("plan_audit")
    spark.sparkContext.setLogLevel("ERROR")

    results: dict[str, dict] = {}
    violations: list[str] = []
    for name, fn in entry.queries().items():
        if name.startswith(SKIP_PREFIXES):
            continue
        try:
            plan = (
                fn(spark, sf_dir)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        except Exception as e:  # noqa: BLE001 - audit must cover the rest
            results[name] = {"error": str(e)[:200]}
            violations.append(f"{name}: plan build failed: {e}")
            continue
        flags = {
            "cartesian": "CartesianProduct" in plan,
            "bnlj": "BroadcastNestedLoopJoin" in plan,
            # SHUFFLE exchanges only — a bare 'Exchange ' count would also
            # match BroadcastExchange/ReusedExchange and mislabel harmless
            # broadcasts as shuffles
            "n_shuffle_exchanges": plan.count("Exchange hashpartitioning")
            + plan.count("Exchange rangepartitioning")
            + plan.count("Exchange SinglePartition"),
            "plan_digest": plan_digest(plan),
        }
        results[name] = flags
        allowed = ALLOWLIST.get(name, {})
        for flag in ("cartesian", "bnlj"):
            if flags[flag] and flag not in allowed:
                violations.append(f"{name}: unjustified {flag}")

    out = {
        "metric": "plan_audit",
        "n_audited": len(results),
        "n_violations": len(violations),
        "violations": violations,
        "allowlist": {q: list(f) for q, f in ALLOWLIST.items()},
        "queries": results,
    }
    path = os.path.join(REPO, "PLAN_AUDIT.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(
        json.dumps(
            {k: out[k] for k in ("metric", "n_audited", "n_violations", "violations")}
        )
    )
    return 1 if violations else 0


if __name__ == "__main__":
    raise SystemExit(main())
