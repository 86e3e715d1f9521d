#!/usr/bin/env python3
"""Deterministic input tables for the benchmark.

Writes the ten parquet tables the declared queries read (`Tables(spark,
dir)`: region nation customer supplier part orders lineitem events
documents embeddings) with the same column names, types and value
shapes as the project's TPC-H-like test data, at a chosen scale factor.
The tables depend only on the scale and the fixed data seed below,
never on a workload seed, so every run of every workload reads the same
bytes.

Usage:
    python3 perfbench/gen_data.py tables <out_dir> <scale_factor>
    python3 perfbench/gen_data.py topic <out_dir> <events_rows> <users>

`topic` writes events.parquet: the events the ingest workloads' SPO
topic is made of (see topic() below).
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()


def ts_us(days_from, n, rng, first, last):
    """n timestamps (microseconds since epoch) uniform in [first, last] days."""
    lo = np.datetime64(first, "us").astype(np.int64)
    hi = np.datetime64(last, "us").astype(np.int64)
    if days_from:
        span = (hi - lo) // 86_400_000_000
        return lo + rng.integers(0, span + 1, n) * 86_400_000_000
    return lo + rng.integers(0, hi - lo, n)


def write(out, name, cols):
    tbl = pa.table(cols)
    pq.write_table(tbl, os.path.join(out, f"{name}.parquet"), compression="snappy")


def ts_col(values):
    return pa.array(values, type=pa.int64()).cast(pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def events(rng, n, users):
    ts = np.sort(ts_us(False, n, rng, "2024-01-01", "2024-01-31"))
    ts = ts + np.arange(n) % 2  # strictly increasing: no duplicate ts
    return {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": ts_col(ts),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def topic(out, n_events, users):
    """The events the ingest workloads' SPO topic is made of. The benchmark
    turns them into triples and frames them with the program's own code
    (TripleStore.triplesFromEvents, AvroCodec.encode) at set-up."""
    os.makedirs(out, exist_ok=True)
    write(out, "events", events(np.random.default_rng(DATA_SEED + 1), n_events, users))


def tables(out, sf):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_doc = max(50, int(50_000 * sf))
    n_vec = max(200, int(20_000 * sf))

    write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, n_cust)])})
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(money(rng, -999.99, 9999.99, n_supp))})
    pk = np.arange(n_part, dtype=np.int64)
    write(out, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array([PTYPES[i] for i in rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 2))})
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": ts_col(ts_us(True, n_ord, rng, "1995-01-01", "2001-08-01")),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(0, 5, n_ord)])})
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(money(rng, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, n_line), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n_line), 2)),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array([("F", "O")[i] for i in rng.integers(0, 2, n_line)]),
        "l_shipdate": ts_col(ts_us(True, n_line, rng, "1995-01-02", "2001-11-04"))})
    write(out, "events", events(rng, n_ev, max(15, n_cust // 10)))

    texts = []
    for _ in range(n_doc):
        words = rng.integers(0, len(WORDS), int(rng.integers(10, 101)))
        texts.append(" ".join(WORDS[w] for w in words))
    # about 5 % near-duplicates: an earlier document with one word appended
    for i in rng.choice(np.arange(1, n_doc), n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.choice(5, n_doc, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})

    labels = rng.integers(0, 10, n_vec, dtype=np.int32)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels)})


if __name__ == "__main__":
    if len(sys.argv) == 4 and sys.argv[1] == "tables":
        tables(sys.argv[2], float(sys.argv[3]))
    elif len(sys.argv) == 5 and sys.argv[1] == "topic":
        topic(sys.argv[2], int(sys.argv[3]), int(sys.argv[4]))
    else:
        sys.exit(__doc__)
