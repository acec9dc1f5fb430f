#!/usr/bin/env python3
"""Seeded tables for the query_mix workload.

Writes the ten parquet tables the registered queries read (region,
nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings) with the column names, physical types and value domains of
the project's test data, drawn from a numpy generator seeded by --seed.
The "full" scale has the row counts of the sf0.01 test data and is
fitted to its shapes (RECEIPT.md compares the two): foreign keys and
dates drawn independently, one document in twenty a near-duplicate of an
other one with the word "dup" appended), and embeddings
that are random unit vectors with random labels.

Usage: python3 benchmark/gen_tables.py <out_dir> <seed> [full|tiny]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    # orders, customers, parts, suppliers, events, users, documents
    "full": dict(orders=15000, customers=1500, parts=2000, suppliers=100,
                 events=10000, users=150, documents=500),
    "tiny": dict(orders=1500, customers=150, parts=200, suppliers=10,
                 events=1000, users=15, documents=60),
}

WORDS = ("row the query stream fast spark line small customer group value hash "
         "batch sort data big filter key agg scan slow table part a merge "
         "window order column join vector").split()
ADJ = "large red hot cold old new blue small".split()
NOUN = "anvil plate gizmo ring widget gear bolt rod".split()
PART_TYPES = ["PROMO", "ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

TS = pa.timestamp("us")


def days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def documents(rng, n):
    texts = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.05:
            # near-duplicate: a copy of an earlier document with "dup" appended
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(WORDS[j] for j in
                                  rng.integers(0, len(WORDS), int(rng.integers(10, 100)))))
    # document ids do not tell a copy from its original
    return [texts[j] for j in rng.permutation(n)]


def generate(out, seed, scale="full"):
    s = SIZES[scale]
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)

    write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                          "r_name": pa.array(REGIONS)})
    write(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                          "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                          "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = s["customers"]
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2)),
        "c_mktsegment": pa.array([SEGMENTS[j] for j in rng.integers(0, 5, nc)])})
    ns = s["suppliers"]
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, ns), 2))})
    npart = s["parts"]
    write(out, "part", {
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))]),
        "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, npart)]),
        "p_type": pa.array([PART_TYPES[j] for j in rng.integers(0, 6, npart)]),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1))})

    no = s["orders"]
    odate = days(rng, no, "1995-01-01", 2404)
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array([["F", "O", "P"][j] for j in rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, no), 2)),
        "o_orderdate": pa.array(odate, TS),
        "o_orderpriority": pa.array([PRIORITIES[j] for j in rng.integers(0, 5, no)])})
    nl = 4 * no
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(float)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, nl), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, nl) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, nl) / 100.0, 2)),
        "l_returnflag": pa.array([["R", "A", "N"][j] for j in rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array([["F", "O"][j] for j in rng.integers(0, 2, nl)]),
        "l_shipdate": pa.array(days(rng, nl, "1995-01-02", 2499), TS)})

    ne = s["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(start + rng.integers(0, 30 * 86400 * 10**6, ne).astype("timedelta64[us]"))
    write(out, "events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts, TS),
        "user_id": pa.array(rng.integers(0, s["users"], ne), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[j] for j in rng.integers(0, 5, ne)]),
        "value": pa.array(np.round(rng.exponential(50.0, ne) + 0.01, 2)),
        "props": pa.array([f'{{"k": {j}}}' for j in rng.integers(0, 100, ne)])})

    nd = s["documents"]
    texts = documents(rng, nd)
    write(out, "documents", {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), nd)]),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = rng.integers(0, 10, nd)
    vecs = rng.normal(size=(nd, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(nd), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return {"lineitem": nl, "orders": no, "events": ne, "documents": nd}


if __name__ == "__main__":
    print(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3] if len(sys.argv) > 3 else "full"))
