"""Seeded generator for the benchmark's input tables.

Writes the ten fixture tables the catalog reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) with the
column names and parquet types of the project's test fixtures, plus a
``ratings`` table with learnable low-rank structure for the recommender.
The same seed and sizes always give the same rows, so every run of a
workload on one seed sees identical inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["blue", "red", "small", "large", "green", "steel"]
PART_NOUNS = ["ring", "widget", "bolt", "anvil", "gear", "valve"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "stream group filter big vector"
).split()
LANGS = ["en", "es", "zh", "de", "fr"]

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _ts(base: np.datetime64, offsets_us: np.ndarray) -> pa.Array:
    return pa.array(base + offsets_us.astype("timedelta64[us]"), type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> str:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(pa.table(cols), path)
    return path


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x * 100.0) / 100.0


def orders_table(rng: np.random.Generator, n_orders: int, n_cust: int) -> pa.Table:
    """The ``orders`` table alone (also the ingest workload's source rows)."""
    days = rng.integers(0, 2400, n_orders)
    return pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders)),
        "o_totalprice": pa.array(_cents(rng.uniform(1000.0, 500000.0, n_orders))),
        "o_orderdate": _ts(_EPOCH_1995, days * _US_PER_DAY),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_orders)),
    })


def _documents(rng: np.random.Generator, n_docs: int) -> dict:
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.15:
            # near-duplicate of an earlier document: a few tokens replaced
            toks = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(toks), int(rng.integers(1, 3))):
                toks[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            toks = list(rng.choice(VOCAB, int(rng.integers(8, 90))))
        texts.append(" ".join(toks))
    return {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=[0.6, 0.1, 0.1, 0.1, 0.1])),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def ratings_table(rng: np.random.Generator, n_users: int, n_items: int,
                  density: float, rank: int = 4) -> pa.Table:
    """MovieLens-shaped ratings with low-rank structure plus bounded noise:
    ``clamp[1,5](3 + 30·(u·v) + uniform(-0.5, 0.5))`` over a random subset
    of (user, item) pairs — the same generative form as
    ``recsys.low_rank_ratings``, drawn from the seed instead of md5."""
    u = rng.uniform(-0.2, 0.2, (n_users, rank))
    v = rng.uniform(-0.2, 0.2, (n_items, rank))
    mask = rng.random((n_users, n_items)) < density
    users, items = np.nonzero(mask)
    noise = rng.uniform(-0.5, 0.5, len(users))
    r = np.clip(3.0 + 30.0 * np.einsum("ij,ij->i", u[users], v[items]) + noise, 1.0, 5.0)
    return pa.table({
        "user_id": pa.array(users.astype(np.int32)),
        "item_id": pa.array(items.astype(np.int32)),
        "rating": pa.array(r.astype(np.float32)),
    })


def write_ratings(out_dir: str, seed: int, n_users: int, n_items: int,
                  density: float) -> int:
    """Write ``ratings.parquet`` under ``out_dir``; return its row count."""
    os.makedirs(out_dir, exist_ok=True)
    rt = ratings_table(np.random.default_rng(seed), n_users, n_items, density)
    pq.write_table(rt, os.path.join(out_dir, "ratings.parquet"))
    return rt.num_rows


def write_fixture(out_dir: str, seed: int, sf: float = 0.01) -> dict[str, int]:
    """Write the ten fixture tables under ``out_dir``; return row counts.

    ``sf`` scales the tables like the project's fixtures (sf0.01: 1,500
    customers, 15,000 orders, ~60,000 lineitems, 10,000 events, 500
    documents, 500 embeddings)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_orders = max(1500, int(1_500_000 * sf))
    n_events = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    counts: dict[str, int] = {}

    def put(name, cols):
        _write(out_dir, name, cols)
        counts[name] = len(next(iter(cols.values())))

    put("region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    put("nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_cents(rng.uniform(-999.99, 9999.99, n_cust))),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_cents(rng.uniform(-999.99, 9999.99, n_supp))),
    })
    put("part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            rng.choice(PART_WORDS, n_part), rng.choice(PART_NOUNS, n_part))]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0),
    })
    orders = orders_table(rng, n_orders, n_cust)
    put("orders", dict(zip(orders.column_names, orders.columns)))

    lines_per = rng.integers(1, 8, n_orders)
    n_lines = int(lines_per.sum())
    l_order = np.repeat(np.arange(n_orders, dtype=np.int64), lines_per)
    l_num = (np.arange(n_lines) - np.repeat(np.cumsum(lines_per) - lines_per, lines_per) + 1)
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    odays = (orders.column("o_orderdate").to_numpy() - _EPOCH_1995).astype("timedelta64[D]").astype(np.int64)
    ship_days = odays[l_order] + rng.integers(1, 122, n_lines)
    put("lineitem", {
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(rng.integers(0, n_part, n_lines).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines).astype(np.int64)),
        "l_linenumber": pa.array(l_num.astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_cents(qty * rng.uniform(900.0, 2100.0, n_lines))),
        "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_lines)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_lines)),
        "l_shipdate": _ts(_EPOCH_1995, ship_days * _US_PER_DAY),
    })
    ev_off = np.sort(rng.integers(0, 30 * _US_PER_DAY, n_events))
    put("events", {
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": _ts(_EPOCH_2024, ev_off),
        "user_id": pa.array(rng.integers(0, n_users, n_events).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events)),
        "value": pa.array(_cents(rng.exponential(50.0, n_events)) + 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    put("documents", _documents(rng, n_docs))
    emb = rng.normal(0.0, 0.12, (n_vecs, 64)).astype(np.float32)
    put("embeddings", {
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
    })
    return counts
