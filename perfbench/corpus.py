"""Deterministic synthetic corpus for the ``catalog`` workload.

The engine's queries read ten parquet tables (a TPC-H-style star
schema, an ``events`` clickstream, ``documents`` and ``embeddings``).
This module writes them with the column names, types and value grains
the engine's oracle SQL is written against: cent-grain money columns,
midnight-aligned business dates, microsecond event times, a 30-word
text vocabulary with 5% near-duplicate documents, and unit-norm
64-dimension float embeddings. Row counts follow scale factor 0.01
(60,000 lineitem rows).

The corpus does not depend on the benchmark's ``--seed``: the catalog
checks compare against precomputed DuckDB hashes (``oracle.json``), so
the tables must be the same on every run. ``CORPUS_SEED`` fixes them.

    python3 perfbench/corpus.py <out_dir>
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42
SCALE = 0.01
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int)) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def build_tables(scale: float = SCALE, seed: int = CORPUS_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_li, n_ev = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)
    n_users = int(15_000 * scale)
    n_docs = n_emb = 500
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    ts = pa.timestamp("us")
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_cents(rng.uniform(-999.99, 9999.99, n_cust)), f64),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_cents(rng.uniform(-999.99, 9999.99, n_supp)), f64),
    })
    keys = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, i64),
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [_PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10, 2), f64),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": pa.array(_cents(rng.uniform(1000, 500_000, n_ord)), f64),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n_ord), ts),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64), f64),
        "l_extendedprice": pa.array(_cents(rng.uniform(900, 105_000, n_li)), f64),
        "l_discount": pa.array(_cents(rng.uniform(0, 0.10, n_li)), f64),
        "l_tax": pa.array(_cents(rng.uniform(0, 0.08, n_li)), f64),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n_li), ts),
    })
    month_us = 30 * 86_400 * 1_000_000
    ev_ts = np.sort(rng.integers(0, month_us, n_ev)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ev_ts.astype("datetime64[us]"), ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": pa.array(np.maximum(_cents(rng.exponential(50.0, n_ev)), 0.01), f64),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), n)))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.choice(5, n_docs, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(s) for s in texts], i64),
    })
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    })
    return t


def digest(tables: dict[str, pa.Table]) -> str:
    """Content digest of the tables (values, not file bytes)."""
    h = hashlib.sha256()
    for name in TABLES:
        tbl = tables[name]
        h.update(name.encode())
        h.update(str(tbl.schema).encode())
        for col in tbl.columns:
            h.update(str(col.to_pylist()).encode())
    return h.hexdigest()[:16]


def ensure_corpus(out_dir: str) -> tuple[str, float]:
    """Write the corpus under ``out_dir`` unless a complete copy is
    there already. Returns (digest, seconds spent building)."""
    marker = os.path.join(out_dir, "DIGEST")
    if os.path.exists(marker):
        with open(marker) as fh:
            return fh.read().strip(), 0.0
    t0 = time.perf_counter()
    tables = build_tables()
    tmp = out_dir.rstrip("/") + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"))
    d = digest(tables)
    with open(os.path.join(tmp, "DIGEST"), "w") as fh:
        fh.write(d + "\n")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return d, time.perf_counter() - t0


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: corpus.py <out_dir>")
    print(ensure_corpus(sys.argv[1]))
