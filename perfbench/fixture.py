"""Seeded fixture for the operator_mix workload.

Usage: python3 perfbench/fixture.py <out_dir> <seed>

Writes region, nation, customer, supplier, part, orders, lineitem,
documents and embeddings as <out_dir>/<table>.parquet, with the column
names, types and value domains of the engine's query fixtures (TPC-H-like
tables, short documents over a small vocabulary, 64-d unit embeddings with
ten labels). A tenth of the documents are edited copies of others, so the
dedup and LSH queries find near-duplicates. The same seed writes the same
bytes.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {"customer": 750, "supplier": 50, "part": 1000, "orders": 5000,
         "documents": 160, "embeddings": 300}
WORDS = ("a the data table row column key value join merge batch stream "
         "window query filter group sort hash scan part line order customer "
         "agg vector spark fast slow big small").split()


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def _timestamps(days):
    base = np.datetime64("1995-01-01", "s")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def generate(out, seed):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    nc, ns, np_, no = (SIZES[t] for t in ("customer", "supplier", "part", "orders"))
    _write(out, "customer", {
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], nc).tolist()})
    _write(out, "supplier", {
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)})
    adjectives = ["small", "red", "blue", "green", "large", "shiny", "matte"]
    nouns = ["ring", "widget", "bolt", "gear", "valve", "panel", "spring"]
    _write(out, "part", {
        "p_partkey": pa.array(range(np_), pa.int64()),
        "p_name": [f"{rng.choice(adjectives)} {rng.choice(nouns)}" for _ in range(np_)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": rng.choice(["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM",
                              "PROMO"], np_).tolist(),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 2)})

    odays = rng.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    _write(out, "orders", {
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _timestamps(odays),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no).tolist()})
    lines = rng.integers(1, 8, no)
    lkey = np.repeat(np.arange(no), lines)
    lnum = np.concatenate([np.arange(1, n + 1) for n in lines])
    nl = len(lkey)
    qty = rng.integers(1, 51, nl).astype(float)
    partkey = rng.integers(0, np_, nl)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(lkey, pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900.0 + (partkey % 1000) / 10.0), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
        "l_shipdate": _timestamps(odays[lkey] + rng.integers(1, 122, nl))})

    nd = SIZES["documents"]
    texts = []
    for i in range(nd):
        if i >= 10 and rng.random() < 0.1:
            words = texts[rng.integers(0, i)].split()
            for _ in range(rng.integers(1, 4)):  # a few word edits
                words[rng.integers(0, len(words))] = str(rng.choice(WORDS))
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(WORDS, rng.integers(10, 100))))
    _write(out, "documents", {
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "zh", "de", "es", "fr"], nd,
                           p=[0.44, 0.14, 0.14, 0.14, 0.14]).tolist(),
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    ne = SIZES["embeddings"]
    v = rng.normal(size=(ne, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(range(ne), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, ne), pa.int32())})


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]))
