"""Seeded star-schema tables for the suite_mix workload.

Writes region, nation, customer, supplier, part, orders, lineitem,
events, documents and embeddings as one parquet file each, in the
column layout the engine's queries read (`Sources.table`), at sf0.01
size (60,000 lineitem rows, 10,000 events over 150 users, 500 documents,
500 embeddings). The same seed gives the same tables.

    python3 exbench/gen_tables.py --out DIR [--seed 42]
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
ADJECTIVES = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
NOUNS = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
WORDS = ["join", "hash", "row", "batch", "scan", "customer", "column", "filter",
         "small", "slow", "merge", "order", "vector", "line", "data", "table",
         "agg", "value", "key", "stream", "window", "spark", "a", "group", "part",
         "big", "sort", "query", "fast", "the"]
N_SUPPLIERS = 100
N_CUSTOMERS = 1500
N_PARTS = 2000
N_ORDERS = 15000
N_LINEITEMS = 60000
N_EVENTS = 10000
N_USERS = 150
N_DOCUMENTS = 500
N_EMBEDDINGS = 500
EMBED_DIM = 64
EMBED_LABELS = 10


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _days(rng, n, start, span_days):
    d = np.datetime64(start, "us") + rng.integers(0, span_days, n) * np.timedelta64(1, "D")
    return pa.array(d, pa.timestamp("us"))


def generate(out, seed=42):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)

    _write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                           "r_name": REGIONS})
    _write(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "supplier", {
        "s_suppkey": np.arange(N_SUPPLIERS, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIERS), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_SUPPLIERS), 2)})
    _write(out, "customer", {
        "c_custkey": np.arange(N_CUSTOMERS, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMERS), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, N_CUSTOMERS)]})
    _write(out, "part", {
        "p_partkey": np.arange(N_PARTS, dtype=np.int64),
        "p_name": [f"{ADJECTIVES[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, N_PARTS), rng.integers(0, 8, N_PARTS))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PARTS)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, N_PARTS)],
        "p_size": pa.array(rng.integers(1, 51, N_PARTS), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(N_PARTS) % 1000) / 10.0, 2)})
    _write(out, "orders", {
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMERS, N_ORDERS),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, N_ORDERS), 2),
        "o_orderdate": _days(rng, N_ORDERS, "1995-01-01", 2404),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, N_ORDERS)]})
    qty = rng.integers(1, 51, N_LINEITEMS).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEMS),
        "l_partkey": rng.integers(0, N_PARTS, N_LINEITEMS),
        "l_suppkey": rng.integers(0, N_SUPPLIERS, N_LINEITEMS),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEMS), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, N_LINEITEMS), 2),
        "l_discount": rng.integers(0, 11, N_LINEITEMS) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEMS) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, N_LINEITEMS)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, N_LINEITEMS)],
        "l_shipdate": _days(rng, N_LINEITEMS, "1995-01-02", 2498)})

    # events: time-ordered ids over 30 days, every user sees every type
    offs = np.sort(rng.integers(0, 30 * 86400 * 1000000, N_EVENTS))
    _write(out, "events", {
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, N_USERS, N_EVENTS),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, N_EVENTS)],
        "value": np.round(rng.exponential(50.0, N_EVENTS) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]})

    # documents: random word runs; about 5% are an earlier document with
    # one or two " dup" tokens appended (the near-duplicate population)
    texts = []
    for i in range(N_DOCUMENTS):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), int(rng.integers(10, 100)))))
    _write(out, "documents", {
        "doc_id": np.arange(N_DOCUMENTS, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, N_DOCUMENTS)],
        "source": [f"src{i}" for i in rng.integers(0, 20, N_DOCUMENTS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    # embeddings: unit vectors around one centre per label
    centres = rng.normal(0, 1, (EMBED_LABELS, EMBED_DIM))
    labels = rng.integers(0, EMBED_LABELS, N_EMBEDDINGS)
    vecs = centres[labels] * 0.3 + rng.normal(0, 1, (N_EMBEDDINGS, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(N_EMBEDDINGS, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, default=42)
    a = ap.parse_args()
    generate(a.out, a.seed)


if __name__ == "__main__":
    main()
