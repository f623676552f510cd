"""Seeded input generator for the benchmark.

Writes the ten tables the program reads (region nation customer supplier part
orders lineitem events documents embeddings), one parquet file each, with the
schemas and value distributions of the project's sf testdata (FIXTURES.md §B):
uniform keys, pt-BR-free TPC-H-ish star columns, a sorted 30-day event stream,
a 31-token synthetic corpus with a 5 % " dup"-suffixed near-duplicate share and
unit-norm 64-d float embeddings.

Same (shape, seed) -> byte-identical files. `corpus_k` scales documents and
embeddings k-fold: every replica is freshly drawn (distinct ids and texts), and
the near-duplicate share stays 5 % of the whole corpus.

    python3 perfbench/gen.py <out_dir> <sf> <seed> [corpus_k]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {  # rows at sf 1.0 for the star tables; events/documents fixed below
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "es", "de", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
DIM = 64
NEAR_DUP_SHARE = 0.05


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def day_ts(rng, n, start, days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def star(out, sf, rng):
    n = {k: max(1, int(round(v * sf))) for k, v in ROWS.items()}
    write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)]})
    ns = n["supplier"]
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": money(rng, ns, -999.99, 9999.99)})
    npart = n["part"]
    write(out, "part", {
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1)})
    no = n["orders"]
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": money(rng, no, 1000.0, 500000.0),
        "o_orderdate": day_ts(rng, no, "1995-01-01", 2404),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)]})
    nl = n["lineitem"]
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(rng, nl, 900.0, 105000.0),
        "l_discount": np.round(rng.uniform(0.0, 0.1, nl), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, nl), 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": day_ts(rng, nl, "1995-01-02", 2498)})
    ne = n["events"]
    span_us = 30 * 86400 * 10**6
    write(out, "events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": np.datetime64("2024-01-01", "us") + np.sort(rng.integers(0, span_us, ne)).astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, max(1, ne * 3 // 200), ne), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})


def corpus(out, n_docs, n_vecs, rng):
    lens = rng.integers(10, 101, n_docs)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    # near duplicates: a copy of an earlier document plus one marker token
    for i in rng.choice(np.arange(1, n_docs), int(n_docs * NEAR_DUP_SHARE), replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    write(out, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    v = rng.standard_normal((n_vecs, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())})


def generate(out, sf, seed, corpus_k=1):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    star(out, sf, rng)
    # documents/embeddings sizes follow the testdata: 500 below sf0.1
    base_docs, base_vecs = (5000, 2000) if sf >= 0.1 else (500, 500)
    corpus(out, base_docs * corpus_k, base_vecs * corpus_k, rng)


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]),
             int(sys.argv[4]) if len(sys.argv) > 4 else 1)
