"""Deterministic inputs for the benchmark.

Two generators:

* ``tables(out_dir, seed, sf)`` writes the ten TPC-H-ish parquet tables the
  query workloads read (region, nation, customer, supplier, part, orders,
  lineitem, events, documents, embeddings), one single-row-group file each,
  with the column names, types and value domains the query layer expects.
  The logical content is fixed (``BASE_SEED``) so every query's output
  checksum can be recorded once; ``seed`` permutes the physical row order
  of every table, so each run reads different files that must still give
  the recorded checksums.

* The medallion workload's IoT seeds are generated inside the JVM
  (``perfbench.IotSeeds``), from the run seed.

Run ``python3 perfbench/datagen.py <out_dir> <seed> [sf]`` to write tables.
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20240101

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = ("a the row query stream fast spark line small customer group value "
         "hash batch sort data big filter key agg scan slow table part merge "
         "window order column join vector").split()
EMB_DIM = 64


def _days(rng, start, n_days, size):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, size).astype("timedelta64[D]")


def _money(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size), 2)


def build(sf):
    """The logical tables at scale factor ``sf`` as pyarrow Tables."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust, n_supp = int(150000 * sf), max(int(10000 * sf), 10)
    n_part, n_ord = int(200000 * sf), int(1500000 * sf)
    n_li, n_ev, n_doc = int(6000000 * sf), int(1000000 * sf), int(50000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = [f"{a} {n}" for a in ADJ for n in NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": rng.choice(names, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", 2499, n_li)})
    span_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, span_us, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, max(int(15000 * sf), 10), n_ev), i64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": _money(rng, 0.01, 490.02, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # 5 % of documents are near-copies of another document with one or
    # more trailing "dup" tokens, as in the TESTDATA.md corpus.
    texts = [" ".join(rng.choice(VOCAB, rng.integers(10, 100)))
             for _ in range(n_doc)]
    for d in rng.choice(n_doc, n_doc // 20, replace=False):
        src = int(rng.integers(0, n_doc))
        if src != d:
            texts[d] = texts[src] + " dup" * int(rng.integers(1, 3))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], i64)})
    labels = rng.integers(0, 10, n_doc)
    centroids = rng.normal(0.0, 0.02, (10, EMB_DIM))
    vecs = rng.normal(0.0, 0.125, (n_doc, EMB_DIM)) + centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_doc), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    return t


def tables(out_dir, seed, sf):
    """Write every table to ``out_dir`` with rows permuted by ``seed``.

    Returns the total number of bytes written.
    """
    os.makedirs(out_dir, exist_ok=True)
    perm = np.random.default_rng(seed)
    total = 0
    for name, tbl in build(sf).items():
        tbl = tbl.take(perm.permutation(tbl.num_rows))
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path, row_group_size=max(tbl.num_rows, 1))
        total += os.path.getsize(path)
    return total


if __name__ == "__main__":
    out, s = sys.argv[1], int(sys.argv[2])
    print(tables(out, s, float(sys.argv[3]) if len(sys.argv) > 3 else 0.01))
