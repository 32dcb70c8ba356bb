"""The benchmark's workloads: fixed lists of registered queries.

Each list is sized so that a 20-second run measures three passes on a
4-core host after the unreported first pass. Every query here passes its output check on the
seeded inputs, and none writes outside the run directory: the queries that
keep stores under hard-coded ``/tmp/smss_*`` roots
(``plans/pruning_queries.py``, ``ivf_index_upsert``) are left out.
"""

from __future__ import annotations

WORKLOADS = {
    # many short star-schema queries: table resolution, construction,
    # Catalyst and scheduling dominate; no Python workers, streams or caches.
    # Every sixth read-only query of plans/tpch_queries.py, relational.py and
    # joins_queries.py in name order, starting with the first: 11 of 61
    "tabular": (
        "tpch_q10_returned_items",
        "tpch_q16_part_supplier_cnt",
        "tpch_q2_min_cost_supplier",
        "avg_price_having",
        "event_type_share",
        "json_get_props",
        "rolling_hour_user_spend",
        "suffix_filter",
        "union_all_orders",
        "asof_join_purchase_click",
        "shipping_priority_top10",
    ),
    # queries over documents and embeddings, one per corpus family (dedup,
    # IR, BPE, multimodal) plus a Python UDTF and a stream; one of the
    # reference's MLlib tasks (T1, RF on higgs) rides here so that the ml
    # layer is measured too
    "corpus": (
        "unicode_dedup_docs",
        "tfidf_top_terms_sql",
        "bpe_pair_counts_top20",
        "multimodal_features",
        "udtf_lateral_chunk_docs",
        "stream_embedding_drift",
        "ml_feature_importances_rf",
    ),
}
