"""Seeded generator for the operator-suite tables.

Writes one parquet file per table (region nation customer supplier part
orders lineitem events documents embeddings) with the column names and
types that `graft.SparkEntry.queries` and its DuckDB oracles read.  Row
counts scale with `sf` the way the TPC-H-ish fixtures do (lineitem = 6e6 x
sf); every value is a pure function of (seed, sf).

Usage: python3 perfbench/gen_tables.py <out_dir> <sf> <seed>
"""
import os
import sys
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the data row column table key value part line order customer "
         "query join merge sort hash scan filter group agg window stream "
         "batch spark vector small big fast slow").split()
LANGS = ["en", "zh", "de", "es", "fr"]
NAME_ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
NAME_NOUN = ["bolt", "gear", "anvil", "ring", "rod", "plate", "widget", "gizmo"]
TYPES = ["PROMO", "SMALL", "MEDIUM", "ECONOMY", "STANDARD", "LARGE"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def generate(out_dir, sf, seed):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_line = max(int(6_000_000 * sf), 600)
    n_ord = max(int(1_500_000 * sf), 150)
    n_cust = max(int(150_000 * sf), 15)
    n_part = max(int(200_000 * sf), 20)
    n_supp = max(int(10_000 * sf), 5)
    n_docs = max(int(50_000 * sf), 500)
    n_vec = max(int(20_000 * sf), 500)
    n_ev = max(int(1_000_000 * sf), 1000)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            rng.choice(NAME_ADJ, n_part), rng.choice(NAME_NOUN, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2))})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", 2405)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord))})
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": pa.array(_days(rng, n_line, "1995-01-02", 2498))})
    ev_ts = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(n_ev // 66, 10), n_ev).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.exponential(60.0, n_ev) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    texts, langs, sources, nchars = [], [], [], []
    for i in range(n_docs):
        if i >= 10 and i % 10 == 0:        # exact duplicates for the dedup ops
            t = texts[i - 10]
        elif i >= 10 and i % 10 == 5:      # near duplicates: one word swapped
            w = texts[i - 5].split(" ")
            w[len(w) // 2] = WORDS[int(rng.integers(0, len(WORDS)))]
            t = " ".join(w)
        else:
            t = " ".join(rng.choice(WORDS, int(rng.integers(8, 100))))
        texts.append(t)
        langs.append(LANGS[0] if rng.random() < 0.45 else str(rng.choice(LANGS[1:])))
        sources.append(f"src{int(rng.integers(0, 20))}")
        nchars.append(len(t))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts), "lang": pa.array(langs),
        "source": pa.array(sources), "n_chars": pa.array(np.array(nchars, dtype=np.int64))})
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_vec)
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n_vec, 64))
    dup = np.arange(n_vec) % 50 == 49          # planted near-duplicate vectors
    vecs[dup] = vecs[np.where(dup)[0] - 1] + rng.normal(0.0, 0.01, (int(dup.sum()), 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
