#!/usr/bin/env python3
"""Deterministic sf0.1-shaped input tables for the benchmark.

Writes the ten tables the engine reads (`region nation customer supplier
part orders lineitem events documents embeddings`, one parquet file each)
with the schemas, cardinalities and value domains of the engine's sf0.1
test data. The tables come from a fixed generator seed, so every run and
every workload sees the same base data and the stored result fingerprints
stay valid; the run's `--seed` only picks what the workload does with it.

Usage: python3 perfbench/gen_data.py <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
SF = 0.1
VERSION = "1"  # bump when the generated data changes; invalidates caches

WORDS = ("a the data spark stream batch query table row column key value "
         "join group sort filter scan hash agg window order part line "
         "customer vector fast slow big small merge").split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]


def _ts(start, seconds):
    base = np.datetime64(start, "us")
    return base + (seconds * 1_000_000).astype("int64").astype("timedelta64[us]")


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def generate(out):
    rng = np.random.default_rng(DATA_SEED)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * SF), int(10000 * SF), int(200000 * SF)
    n_ord, n_line, n_ev = int(1500000 * SF), int(6000000 * SF), int(1000000 * SF)
    n_doc, n_vec = int(50000 * SF), int(20000 * SF)

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5)})

    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})

    adj = np.array(["large", "hot", "blue", "red", "small", "cold", "green", "old"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "spring"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})

    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    day = 86400.0
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * day),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype("int32")),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_line) * day)})

    secs = np.sort(rng.uniform(0, 30 * day, n_ev))
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts("2024-01-01", secs),
        "user_id": rng.integers(0, 1500, n_ev).astype("int64"),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(np.minimum(rng.exponential(50.0, n_ev), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    words = np.array(WORDS)
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if texts and r < 0.02:  # exact duplicate of an earlier document
            texts.append(texts[rng.integers(0, len(texts))])
        elif texts and r < 0.06:  # near duplicate: one word replaced
            toks = texts[rng.integers(0, len(texts))].split(" ")
            toks[rng.integers(0, len(toks))] = words[rng.integers(0, len(words))]
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(8, 101))]))
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})

    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 1, (10, 64))
    vecs = rng.normal(0, 1, (n_vec, 64)) + 0.3 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    _write(out, "embeddings", {
        "vec_id": np.arange(n_vec, dtype="int64"),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype("int32"))})


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    generate(sys.argv[1])
