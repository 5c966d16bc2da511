"""Seeded synthetic input tables for the benchmark.

The program reads a scale-factor directory of ten parquet tables (a
TPC-H-like star schema plus `events`, `documents` and `embeddings`). This
module writes a directory of the same shape -- same columns, same parquet
physical types, same row counts per scale factor, similar value
distributions -- from a seed alone, so a run needs nothing outside its
checkout. The same (seed, sf) always yields the same bytes' worth of rows.

    python3 perfbench/gen_data.py <out_dir> <seed> [sf]
"""
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# rows at sf0.1 (the shape of the reference data set)
BASE_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
             "orders": 150000, "lineitem": 600000, "events": 100000,
             "documents": 5000, "embeddings": 2000}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PADJ = ["large", "hot", "small", "cold", "red", "blue", "green", "steel",
        "brass", "tin"]
PNOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "spring", "screw",
         "panel", "wire"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
WORDS = ("key agg row scan slow fast table value part hash merge batch the "
         "a line sort window data column join small customer query order "
         "group spark stream filter big vector").split()
DIM = 64
N_LABELS = 10


def rows(table, sf):
    return max(1, int(round(BASE_ROWS[table] * sf / 0.1)))


def days(rng, n, start, span_days):
    return (np.datetime64(start, "us")
            + rng.integers(0, span_days, n).astype("timedelta64[D]"))


def write(df, out_dir, name, schema=None):
    t = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy")


def generate(out_dir, seed, sf=0.1):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    i32 = lambda a: np.asarray(a, dtype=np.int32)
    n_c, n_s, n_p = rows("customer", sf), rows("supplier", sf), rows("part", sf)
    n_o, n_l, n_e = rows("orders", sf), rows("lineitem", sf), rows("events", sf)

    write(pd.DataFrame({"r_regionkey": i32(range(5)), "r_name": REGIONS}),
          out_dir, "region")
    write(pd.DataFrame({"n_nationkey": i32(range(25)),
                        "n_name": [f"NATION_{i}" for i in range(25)],
                        "n_regionkey": i32([i % 5 for i in range(25)])}),
          out_dir, "nation")
    write(pd.DataFrame({
        "c_custkey": np.arange(n_c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": i32(rng.integers(0, 25, n_c)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_c), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_c)}), out_dir, "customer")
    write(pd.DataFrame({
        "s_suppkey": np.arange(n_s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": i32(rng.integers(0, 25, n_s)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_s), 2)}),
        out_dir, "supplier")
    pk = np.arange(n_p, dtype=np.int64)
    write(pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PADJ, n_p),
                                               rng.choice(PNOUN, n_p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
        "p_type": rng.choice(PTYPES, n_p),
        "p_size": i32(rng.integers(1, 51, n_p)),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)}),
        out_dir, "part")
    write(pd.DataFrame({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, n_c, n_o).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_o),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_o), 2),
        "o_orderdate": days(rng, n_o, "1995-01-01", 2404),
        "o_orderpriority": rng.choice(PRIORITIES, n_o)}), out_dir, "orders")
    write(pd.DataFrame({
        "l_orderkey": rng.integers(0, n_o, n_l).astype(np.int64),
        "l_partkey": rng.integers(0, n_p, n_l).astype(np.int64),
        "l_suppkey": rng.integers(0, n_s, n_l).astype(np.int64),
        "l_linenumber": i32(rng.integers(1, 8, n_l)),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_l), 2),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_l),
        "l_linestatus": rng.choice(["O", "F"], n_l),
        "l_shipdate": days(rng, n_l, "1995-01-02", 2498)}), out_dir, "lineitem")

    # events: a 30-day stream, strictly increasing microsecond stamps
    span_us = 30 * 86400 * 1_000_000
    ts_us = np.sort(rng.choice(span_us, n_e, replace=False))
    write(pd.DataFrame({
        "event_id": np.arange(n_e, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, n_e // 66), n_e).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_e),
        "value": np.round(np.minimum(rng.exponential(40.0, n_e), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]}),
        out_dir, "events")

    n_d = rows("documents", sf)
    texts = []
    for i in range(n_d):
        if i > 10 and rng.random() < 0.02:
            # a near-duplicate of an earlier document: one word swapped
            w = texts[int(rng.integers(0, i))].split()
            w[int(rng.integers(0, len(w)))] = str(rng.choice(WORDS))
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(5, 90)))))
    write(pd.DataFrame({
        "doc_id": np.arange(n_d, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_d, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        out_dir, "documents")

    n_v = rows("embeddings", sf)
    centers = rng.normal(0.0, 1.0, (N_LABELS, DIM))
    labels = rng.integers(0, N_LABELS, n_v)
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n_v, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb_schema = pa.schema([("vec_id", pa.int64()),
                            ("embedding", pa.list_(pa.float32())),
                            ("label", pa.int32())])
    write(pd.DataFrame({
        "vec_id": np.arange(n_v, dtype=np.int64),
        "embedding": list(vecs.astype(np.float32)),
        "label": i32(labels)}), out_dir, "embeddings", emb_schema)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]),
             float(sys.argv[3]) if len(sys.argv) > 3 else 0.1)
