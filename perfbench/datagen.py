"""Deterministic synthetic input tables for the benchmark.

Writes the ten tables the query registry reads (``region nation customer
supplier part orders lineitem events documents embeddings``, one parquet
file each) with the same schemas, value domains and row counts as the
engine's sf0.01 test tables: a TPC-H-like star schema, a month of
``events`` with a JSON ``props`` column, a small-vocabulary text corpus
with ~5% near-duplicate documents, and 64-dim labelled float vectors.

The tables depend only on ``DATA_SEED``; the benchmark's ``--seed`` picks
operation order and predicate constants, never the data, so every seed
runs over byte-identical inputs and the oracles see the same rows.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

# row counts of the sf0.01 test tables
ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
EVENT_USERS = 150
EMBED_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "row the query stream fast spark line small customer group value hash "
    "batch sort data big filter key agg scan slow table part a merge window "
    "order column join vector"
).split()

_DAY_US = 86_400 * 1_000_000


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    cents = rng.integers(round(lo * 100), round(hi * 100) + 1, n)
    return np.round(cents / 100.0, 2)


def _days(start: dt.date, rng, n_days: int, n: int) -> pa.Array:
    base = (start - dt.date(1970, 1, 1)).days
    us = (base + rng.integers(0, n_days, n)).astype(np.int64) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def build_tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n = ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": _names("Customer", n["customer"]),
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": _names("Supplier", n["supplier"]),
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    pk = np.arange(n["part"], dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(PART_ADJ, n["part"]), rng.choice(PART_NOUN, n["part"]))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(PART_TYPES, n["part"]),
        "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 1),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 499999.99, no),
        "o_orderdate": _days(dt.date(1995, 1, 1), rng, 2404, no),
        "o_orderpriority": rng.choice(PRIORITIES, no),
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, n["part"], nl).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 104999.99, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(dt.date(1995, 1, 2), rng, 2499, nl),
    })
    ne = n["events"]
    start_us = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days * _DAY_US
    ts = np.sort(rng.integers(0, 30 * _DAY_US, ne)) + start_us
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, EVENT_USERS, ne).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate: an earlier document plus one or two markers
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    t["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centroids = rng.normal(0.0, 0.1, (10, EMBED_DIM))
    vecs = (centroids[labels] + rng.normal(0.0, 0.1, (nv, EMBED_DIM))).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


def write_tables(out_dir: str) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables().items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
