#!/usr/bin/env python3
"""Seeded generator of the engine's star-schema tables (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings).

The shapes and value domains follow the engine's fixture description: key
ranges, two-decimal prices, a 31-word lowercase vocabulary, 5 % planted
near-duplicate documents (a copy of an earlier document plus " dup"), and
unit-norm 64-d embeddings drawn around ten labelled centres. One Parquet file
per table, single row group, snappy, timestamps as naive microseconds.

Usage: gen_sf.py <out_dir> <sf> <seed>
Row counts scale linearly: sf=0.1 gives 600,000 lineitem rows.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("query row stream the spark line small fast group customer batch sort "
         "value hash filter big data part column order scan a slow agg key "
         "window table merge vector join").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en"] * 11 + ["de", "es", "fr", "zh"] * 4


def money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def days(rng, start, end, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy", row_group_size=1 << 30)


def main():
    out, sf, seed = sys.argv[1], float(sys.argv[2]), int(sys.argv[3])
    rng = np.random.default_rng(seed)
    n = lambda base: max(1, int(round(base * sf / 0.1)))
    os.makedirs(out, exist_ok=True)

    write(out, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})

    nc = n(15_000)
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)]})

    ns = n(1_000)
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, ns)})

    npart = n(20_000)
    pk = np.arange(npart)
    write(out, "part", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})

    no = n(150_000)
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": money(rng, 1000.0, 500000.0, no),
        "o_orderdate": days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)]})

    nl = n(600_000)
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": days(rng, "1995-01-02", "2001-11-04", nl)})

    ne = n(100_000)
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400_000_000
    ts = np.sort(rng.choice(span, ne, replace=False)) + start
    write(out, "events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n(1_500), ne), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    nd = n(5_000)
    texts = []
    for i in range(nd):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    write(out, "documents", {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    nv = n(2_000)
    centres = rng.normal(0.0, 1.0, (10, 64))
    label = rng.integers(0, 10, nv)
    v = centres[label] + rng.normal(0.0, 1.2, (nv, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


if __name__ == "__main__":
    main()
