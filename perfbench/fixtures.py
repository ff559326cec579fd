"""Seeded synthetic fixture tables for the benchmark.

Writes the ten tables the engine's query suite reads (``region nation
customer supplier part orders lineitem events documents embeddings``),
one parquet file each, with the same column names and Arrow types as
the engine's TPC-H-ish test fixtures.  Row counts scale linearly with
``sf`` (sf=0.01 gives 15k orders and ~60k lineitem rows).  The same
``(seed, sf)`` always yields byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
_ADJ = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
_NOUN = ["ring", "widget", "bolt", "gear", "plate", "rod", "nut", "pipe"]


def _ts(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype("int64")
    return pa.array(start + offsets_us.astype("int64"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir``; returns rows per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 20)
    n_ev = max(int(1_000_000 * sf), 20)
    n_user = max(int(15_000 * sf), 5)
    n_doc = max(int(50_000 * sf), 20)
    n_vec = max(int(50_000 * sf), 20)

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [_PTYPES[i] for i in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    day_us = 86_400 * 1_000_000
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts("1995-01-01", rng.integers(0, 2400, n_ord) * day_us),
            "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
        }
    )
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord), lines)
    linenum = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_li).astype(float)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(linenum, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
            "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n_li)],
            "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n_li)],
            "l_shipdate": _ts("1995-01-02", rng.integers(0, 2500, n_li) * day_us),
        }
    )
    ev_ts = np.sort(rng.integers(0, 30 * day_us, n_ev))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts("2024-01-01", ev_ts),
            "user_id": pa.array(rng.integers(0, n_user, n_ev), pa.int64()),
            "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
            "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: a few words swapped
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(len(words) // 20, 1)):
                words[j] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            n_words = int(rng.integers(8, 90))
            texts.append(" ".join(_VOCAB[k] for k in rng.integers(0, len(_VOCAB), n_words)))
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), n_doc)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_vec)
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
