"""Seeded generator for the analytics workload's input tables.

Writes the ten parquet tables the declared queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings)
with the column names, types and value domains of the engine's fixture
tables, at about a tenth of the sf0.1 row counts. The same seed gives
byte-identical tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "events": 10000, "documents": 1000, "embeddings": 500}
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast", "filter",
         "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
         "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
         "vector", "window"]


def _ts(days_from, start, rng_days):
    base = np.datetime64(start, "us")
    return base + (days_from % rng_days).astype("timedelta64[D]").astype("timedelta64[us]")


def tables(seed):
    """The generated tables as pyarrow Tables, keyed by name."""
    rng = np.random.default_rng(seed)
    n = ROWS
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(np.arange(5), pa.int32()),
                            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({"n_nationkey": pa.array(np.arange(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, c), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, c)]})
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, s), 2)})
    p = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10.0, 2)})
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, o)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, o), 2),
        "o_orderdate": pa.array(_ts(rng.integers(0, 2404, o), "1995-01-01", 2404),
                                pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, o)]})
    lines = rng.integers(1, 8, o)
    lk = np.repeat(np.arange(o), lines)
    ln = np.concatenate([np.arange(1, k + 1) for k in lines])
    m = len(lk)
    qty = rng.integers(1, 51, m).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(lk, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, m), pa.int64()),
        "l_linenumber": pa.array(ln, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, m)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, m)],
        "l_shipdate": pa.array(_ts(rng.integers(0, 2500, m), "1995-01-02", 2500),
                               pa.timestamp("us"))})
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    # events span the month of January 2024, as in the fixtures
    gaps = rng.integers(1, 2 * (30 * 86400 * 10**6 // e), e).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(start + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, e), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, e)],
        "value": np.round(rng.exponential(80.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    texts = [" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), k))
             for k in rng.integers(8, 90, d)]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, d, p=[0.15, 0.4, 0.15, 0.15, 0.15])],
        "source": [f"src{i}" for i in rng.integers(0, 20, d)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    v = n["embeddings"]
    labels = rng.integers(0, 10, v)
    centers = rng.normal(0, 1, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.8, (v, 64))).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(v), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def write_tables(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
