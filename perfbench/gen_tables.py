"""Seeded generator for the query workloads' input tables.

Writes the ten parquet tables the query plans read (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) with the column names, types and value domains of the
project's TPC-H-style test data. Row counts scale with ``sf`` the way
that data does (sf 0.01: 1.5k customers, 15k orders, 60k lineitems).

The same seed and scale give byte-identical files.
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
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.43, 0.15, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMB_DIM = 64
EMB_CLUSTERS = 10

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _days(start: str, end: str) -> tuple[np.datetime64, int]:
    lo = np.datetime64(start, "D")
    return lo, int((np.datetime64(end, "D") - lo).astype(int))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 500)
    n_line = 4 * n_ord
    n_evt = max(int(1_000_000 * sf), 500)
    n_doc = max(int(50_000 * sf), 50)
    n_emb = max(int(50_000 * sf), 50)
    n_users = max(int(15_000 * sf), 20)

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    lo, span = _days("1995-01-01", "2001-08-01")
    odate = lo + rng.integers(0, span + 1, n_ord).astype("timedelta64[D]")
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    lo, span = _days("1995-01-02", "2001-11-04")
    sdate = lo + rng.integers(0, span + 1, n_line).astype("timedelta64[D]")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(sdate.astype("datetime64[us]")),
    })
    gaps = rng.exponential(259.0, n_evt)
    ts_us = (np.cumsum(gaps) * 1e6).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + ts_us.astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.maximum(np.round(rng.exponential(50.0, n_evt), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    words = np.array(WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), int(n))])
        for n in rng.integers(10, 101, n_doc)
    ]
    # a few exact duplicates, as in real crawls
    for i in rng.choice(n_doc, size=max(n_doc // 600, 1), replace=False):
        texts[int(i)] = texts[int(rng.integers(0, n_doc))]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    centers = rng.normal(0.0, 1.0, (EMB_CLUSTERS, EMB_DIM))
    label = rng.integers(0, EMB_CLUSTERS, n_emb)
    vecs = centers[label] * 0.35 + rng.normal(0.0, 1.0, (n_emb, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
    return out


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row
    counts by table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
