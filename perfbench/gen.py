#!/usr/bin/env python3
"""Seeded synthetic input tables for the graft benchmark.

Writes the ten tables the engine's queries read (`region nation customer
supplier part orders lineitem events documents embeddings`, one parquet
file each) with the schemas, key ranges and value domains of the
seed-42 gate data, so every registered query and its DuckDB oracle run
unchanged on them. The same (seed, sf) always gives byte-identical files.

Sizes follow the gate data: `sf` scales the star schema (lineitem is
6M x sf rows) and the corpus tables (documents 50k x sf, embeddings
20k x sf with a floor of 500, events 1M x sf).

Usage: gen.py <outDir> --seed N --sf F
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
P_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
SEGMENTS = ["HOUSEHOLD", "MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
US_PER_DAY = 86_400_000_000


def _days(rng, n, start, end):
    """Midnight timestamps (us since epoch) uniform over [start, end]."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n) * US_PER_DAY


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), n, p=p)].tolist(), pa.string())


def _ts(us):
    return pa.array(us, pa.timestamp("us"))


def star_tables(rng, sf):
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    yield "customer", pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    yield "supplier", pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    keys = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    yield "part", pa.table({
        "p_partkey": keys,
        "p_name": _pick(rng, names, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, P_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)})
    yield "orders", pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000, 500000),
        "o_orderdate": _ts(_days(rng, n_ord, "1995-01-01", "2001-08-01")),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    yield "lineitem", pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(_days(rng, n_line, "1995-01-02", "2001-11-04"))})


def corpus_tables(rng, sf):
    n_docs = int(50_000 * sf)
    n_vecs = int(max(500, 20_000 * sf))
    n_ev = int(1_000_000 * sf)
    # documents: 10-100 words over a 30-word vocabulary; one doc in twenty
    # is a near-duplicate (one or two words changed, " dup" appended) of an
    # earlier doc, so the dedup/LSH family has clusters to find
    texts = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            words = texts[rng.integers(0, i)].split()
            if words[-1] == "dup":
                words.pop()
            for _ in range(rng.integers(1, 3)):
                words[rng.integers(0, len(words))] = VOCAB[rng.integers(30)]
            words.append("dup")
        else:
            words = [VOCAB[j] for j in rng.integers(0, 30, rng.integers(10, 101))]
        texts.append(" ".join(words))
    yield "documents", pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n_docs, LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    # embeddings: 64-dim unit vectors clustered around one centre per label
    labels = rng.integers(0, 10, n_vecs, dtype=np.int32)
    centres = rng.normal(size=(10, 64))
    v = centres[labels] * 0.5 + rng.normal(size=(n_vecs, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    yield "embeddings", pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(v.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": labels})
    # events: time-ordered over 30 days; ~67 events per user
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * US_PER_DAY, n_ev))
    yield "events", pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, max(1, int(n_ev * 0.015)), n_ev,
                                dtype=np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})


def generate(out_dir, seed, sf):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(abs(seed))
    for gen in (star_tables(rng, sf), corpus_tables(rng, sf)):
        for name, table in gen:
            pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, required=True)
    a = ap.parse_args()
    generate(a.out_dir, a.seed, a.sf)


if __name__ == "__main__":
    main()
