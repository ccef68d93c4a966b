"""Seeded generator for the benchmark's input tables.

Writes the same ten parquet tables graft's entries read (`Tables.names`),
with the schemas and value distributions of the shipped sf0.1 test data:
a uniform random star schema (TPC-H-like names and domains), a
time-ordered `events` stream, a word-salad `documents` corpus with 5 %
near-duplicates, and unit-norm 64-d `embeddings`. The same (seed, sf)
always gives byte-identical tables.

    python3 perfbench/datagen.py <out_dir> <seed> [sf] [table ...]
"""
import os
import sys
import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]

EPOCH = dt.datetime(1970, 1, 1)


def _micros(d: dt.datetime) -> int:
    return int((d - EPOCH).total_seconds()) * 1_000_000


def _days(rng, n, start, end):
    """Whole days, uniform in [start, end], as TIMESTAMP(MICROS)."""
    span = (end - start).days
    day = rng.integers(0, span + 1, n)
    return pa.array(_micros(start) + day * 86_400_000_000, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def sizes(sf: float) -> dict:
    """Row counts per table; documents/embeddings follow the shipped data
    (500 of each below sf0.1, 5000/2000 at sf0.1 and above)."""
    big = sf >= 0.1
    return {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "users": max(int(15_000 * sf), 10),
        "documents": 5000 if big else 500, "embeddings": 2000 if big else 500,
    }


def generate(out_dir: str, seed: int, sf: float = 0.1, tables=None) -> dict:
    """Write the requested tables (all by default) as `<name>.parquet` under
    `out_dir`; returns {table: rows}. Each table draws from its own stream
    derived from (seed, table), so a subset is identical to the same
    tables of a full run."""
    os.makedirs(out_dir, exist_ok=True)
    n = sizes(sf)
    out = {}
    for name in tables or TABLES:
        rng = np.random.default_rng([seed, TABLES.index(name)])
        tb = BUILDERS[name](rng, n)
        pq.write_table(tb, os.path.join(out_dir, f"{name}.parquet"))
        out[name] = tb.num_rows
    return out


def _region(rng, n):
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS})


def _nation(rng, n):
    return pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})


def _customer(rng, n):
    k = n["customer"]
    return pa.table({
        "c_custkey": pa.array(np.arange(k), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
        "c_acctbal": _money(rng, k, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, k)]})


def _supplier(rng, n):
    k = n["supplier"]
    return pa.table({
        "s_suppkey": pa.array(np.arange(k), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
        "s_acctbal": _money(rng, k, -999.99, 9999.99)})


def _part(rng, n):
    k = n["part"]
    keys = np.arange(k)
    return pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, k), rng.integers(0, 8, k))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, k)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, k)],
        "p_size": pa.array(rng.integers(1, 51, k), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)})


def _orders(rng, n):
    k = n["orders"]
    return pa.table({
        "o_orderkey": pa.array(np.arange(k), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], k), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, k)],
        "o_totalprice": _money(rng, k, 1000.0, 500000.0),
        "o_orderdate": _days(rng, k, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, k)]})


def _lineitem(rng, n):
    k = n["lineitem"]
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], k), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], k), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(rng, k, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, k)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, k)]),
        "l_shipdate": _days(rng, k, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4))})


def _events(rng, n):
    k = n["events"]
    start = _micros(dt.datetime(2024, 1, 1))
    span = 30 * 86_400_000_000
    # distinct, increasing microsecond stamps over 30 days
    ts = np.sort(rng.choice(span, size=k, replace=False)) + start
    return pa.table({
        "event_id": pa.array(np.arange(k), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], k), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, k)]),
        "value": np.round(rng.exponential(50.0, k), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, k)]})


def _documents(rng, n):
    k = n["documents"]
    vocab = np.array(VOCAB)
    texts = []
    for i in range(k):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate: an earlier document with one word appended
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    p = np.array([0.4, 0.15, 0.15, 0.15, 0.15])
    return pa.table({
        "doc_id": pa.array(np.arange(k), pa.int64()),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.choice(5, size=k, p=p)]),
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def _embeddings(rng, n):
    k = n["embeddings"]
    v = rng.standard_normal((k, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(k), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(v.reshape(-1), pa.float32()), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, k), pa.int32())})


BUILDERS = {"region": _region, "nation": _nation, "customer": _customer,
            "supplier": _supplier, "part": _part, "orders": _orders,
            "lineitem": _lineitem, "events": _events,
            "documents": _documents, "embeddings": _embeddings}


if __name__ == "__main__":
    a = sys.argv[1:]
    print(generate(a[0], int(a[1]), float(a[2]) if len(a) > 2 else 0.1, a[3:] or None))
