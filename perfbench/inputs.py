"""Seeded benchmark inputs: a star schema plus corpus tables, as parquet.

The base tables are modelled on the engine's sf0.1 fixtures (see
FIXTURES.md), which are not in the repository: the same row counts and
schemas, and per-column distinct counts and means that ``compare_inputs.py``
checks against a fixture directory. A fixed generator draws them, so every
run starts from the same population. The run seed then keeps about 90% of
each fact table's rows, chosen by a seeded hash of the row key; dimension
tables are copied whole. Lineitem is sampled on its order key with the
same hash as orders, so the sample keeps every lineitem of a kept order
and none of a dropped one.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
KEEP_PERCENT = 90

# table -> key column hashed to pick the sample; tables absent here are
# dimensions and are copied whole
FACT_KEYS = {
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}

N_CUSTOMER, N_SUPPLIER, N_PART = 15_000, 1_000, 20_000
N_ORDERS, N_LINEITEM, N_EVENTS = 150_000, 600_000, 100_000
N_DOCS, N_NEAR_DUP_DOCS, N_EXACT_DUP_DOCS = 5_000, 250, 8
N_VECS, EMBED_DIM, N_LABELS = 2_000, 64, 10

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _days(start: str, n_days: int, rng: np.random.Generator, n: int) -> np.ndarray:
    return np.datetime64(start, "us") + rng.integers(0, n_days, n) * np.timedelta64(
        86_400_000_000, "us"
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator) -> pa.Table:
    lengths = rng.integers(10, 100, N_DOCS)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lengths]
    # near duplicates: each a different plain document's text plus one
    # marker token; exact duplicates: a near duplicate's text verbatim
    docs = rng.permutation(N_DOCS)
    near = docs[:N_NEAR_DUP_DOCS]
    exact = docs[N_NEAR_DUP_DOCS : N_NEAR_DUP_DOCS + N_EXACT_DUP_DOCS]
    origins = rng.choice(docs[len(near) + len(exact) :], len(near), replace=False)
    for doc, origin in zip(near, origins):
        texts[doc] = texts[origin] + " dup"
    for doc, origin in zip(exact, rng.choice(near, len(exact), replace=False)):
        texts[doc] = texts[origin]
    ids = np.arange(N_DOCS, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), N_DOCS, p=LANG_P)],
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator) -> pa.Table:
    vecs = rng.standard_normal((N_VECS, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, N_VECS * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": np.arange(N_VECS, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": rng.integers(0, N_LABELS, N_VECS).astype(np.int32),
        }
    )


def base_tables() -> dict[str, pa.Table]:
    """The fixed population every run samples from."""
    rng = np.random.default_rng(BASE_SEED)
    pick = lambda values, n: np.array(values)[rng.integers(0, len(values), n)]  # noqa: E731
    cust = np.arange(N_CUSTOMER, dtype=np.int64)
    supp = np.arange(N_SUPPLIER, dtype=np.int64)
    part = np.arange(N_PART, dtype=np.int64)
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, N_EVENTS))
    return {
        "region": pa.table(
            {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": np.arange(25, dtype=np.int32) % 5,
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": cust,
                "c_name": [f"Customer#{i:09d}" for i in cust],
                "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
                "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
                "c_mktsegment": pick(SEGMENTS, N_CUSTOMER),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": supp,
                "s_name": [f"Supplier#{i:09d}" for i in supp],
                "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
                "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": part,
                "p_name": [
                    f"{a} {b}"
                    for a, b in zip(pick(PART_ADJ, N_PART), pick(PART_NOUN, N_PART))
                ],
                "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
                "p_type": pick(PART_TYPES, N_PART),
                "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
                "p_retailprice": np.round(900.0 + (part % 1000) * 0.1, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
                "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS),
                "o_orderstatus": pick(["F", "O", "P"], N_ORDERS),
                "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
                "o_orderdate": _days("1995-01-01", 2405, rng, N_ORDERS),
                "o_orderpriority": pick(PRIORITIES, N_ORDERS),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM),
                "l_partkey": rng.integers(0, N_PART, N_LINEITEM),
                "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM),
                "l_linenumber": rng.integers(1, 8, N_LINEITEM).astype(np.int32),
                "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, N_LINEITEM),
                "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
                "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
                "l_returnflag": pick(["A", "N", "R"], N_LINEITEM),
                "l_linestatus": pick(["F", "O"], N_LINEITEM),
                "l_shipdate": _days("1995-01-02", 2499, rng, N_LINEITEM),
            }
        ),
        "events": pa.table(
            {
                "event_id": np.arange(N_EVENTS, dtype=np.int64),
                "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                "user_id": rng.integers(0, 1500, N_EVENTS),
                "event_type": pick(EVENT_TYPES, N_EVENTS),
                "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
            }
        ),
        "documents": _documents(rng),
        "embeddings": _embeddings(rng),
    }


def keep_mask(keys: np.ndarray, seed: int) -> np.ndarray:
    """Rows whose seeded splitmix64 hash of the key falls in the kept share."""
    with np.errstate(over="ignore"):
        z = keys.astype(np.uint64) + np.uint64(seed) * np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z ^= z >> np.uint64(31)
    return z % np.uint64(100) < np.uint64(KEEP_PERCENT)


def write_inputs(out_dir: str, seed: int) -> dict[str, int]:
    """Write the seed's sample as ``<out_dir>/<table>.parquet``; returns
    the row count of each table written."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in base_tables().items():
        key = FACT_KEYS.get(name)
        if key is not None:
            table = table.filter(pa.array(keep_mask(table[key].to_numpy(), seed)))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
