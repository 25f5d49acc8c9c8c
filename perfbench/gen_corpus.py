"""Deterministic synthetic corpus for the benchmark.

Writes the ten parquet tables graft's loaders read (`graft.Tables`): a
TPC-H-like star schema, an `events` stream, a `documents` text corpus
with planted near-duplicates and an `embeddings` table of 64-d unit
vectors. Row counts and value domains follow the scale-0.1 layout the
query entries were written against. The corpus is fixed (CORPUS_SEED):
the benchmark's --seed picks queries, orders and batches over it, so
every run of every seed answers against the same data.

    python3 gen_corpus.py OUT_DIR
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 20240101
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
# a long tail of rare terms (document frequency mostly <= 20), so the
# corpus has short postings beside the 30 very common ones
RARE = ["".join(w) for w in zip(*[iter("".join(
    np.random.default_rng(7).choice(list("abcdefghijklmnopqrstuvwxyz"), 3000 * 6)))] * 6)]
COLORS = "blue cold hot large new old red small".split()
THINGS = "anvil bolt gear gizmo plate ring rod widget".split()


def days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, name + ".parquet"))


def tpch(rng, out):
    write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    n = 1000
    write(out, "supplier", {
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": money(rng, n, -999.99, 9999.99)})
    n = 15000
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write(out, "customer", {
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": money(rng, n, -999.99, 9999.99),
        "c_mktsegment": segs[rng.integers(0, 5, n)]})
    n = 20000
    names = np.array([f"{c} {t}" for c in COLORS for t in THINGS])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    keys = np.arange(n, dtype=np.int64)
    write(out, "part", {
        "p_partkey": keys,
        "p_name": names[rng.integers(0, len(names), n)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n)],
        "p_type": types[rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)})
    n = 150000
    write(out, "orders", {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, 15000, n),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": money(rng, n, 1000, 500000),
        "o_orderdate": days(rng, n, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n)]})
    n = 600000
    write(out, "lineitem", {
        "l_orderkey": rng.integers(0, 150000, n),
        "l_partkey": rng.integers(0, 20000, n),
        "l_suppkey": rng.integers(0, 1000, n),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": money(rng, n, 900, 105000),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": days(rng, n, "1995-01-02", "2001-11-04")})


def events(rng, out):
    n = 100000
    span = 30 * 86_400_000_000
    ts = np.sort(rng.integers(10_000_000, span, n)) + \
        np.datetime64("2024-01-01", "us").astype(np.int64)
    write(out, "events", {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, 1500, n),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def documents(rng, out):
    n = 5000
    vocab = np.array(VOCAB)
    rare = np.array(RARE)
    zipf = 1.0 / np.arange(1, len(rare) + 1)
    zipf /= zipf.sum()
    texts = []
    for _ in range(n):
        words = list(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
        for w in rare[rng.choice(len(rare), rng.integers(0, 4), p=zipf)]:
            words.insert(int(rng.integers(0, len(words) + 1)), w)
        texts.append(" ".join(words))
    # 5% near-duplicates (a copy of another doc plus one token) and a
    # handful of exact copies, so the dedup families have work to find
    picks = rng.choice(n, 258, replace=False)
    for j, i in enumerate(picks):
        src = int(rng.integers(0, n))
        while src == i or src in picks:
            src = int(rng.integers(0, n))
        texts[i] = texts[src] + ("" if j < 8 else " dup")
    langs = np.array(["en", "de", "es", "fr", "zh"])[
        rng.choice(5, n, p=[0.41, 0.14, 0.15, 0.15, 0.15])]
    ids = np.arange(n, dtype=np.int64)
    write(out, "documents", {
        "doc_id": ids, "text": texts, "lang": langs,
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def embeddings(rng, out):
    n, d = 2000, 64
    v = rng.standard_normal((n, d))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    write(out, "embeddings", {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32))})


def main(out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(CORPUS_SEED)
    tpch(rng, out)
    events(rng, out)
    documents(rng, out)
    embeddings(rng, out)


if __name__ == "__main__":
    main(sys.argv[1])
