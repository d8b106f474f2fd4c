"""Deterministic sf0.1 fixture tables for the benchmark.

Writes the ten tables `graft.Catalog` knows, shaped like the sf0.1 fixture
the program is developed and graded on, which the benchmark cannot read
(it reads nothing outside its checkout). The data seed is fixed, not taken
from the benchmark's --seed: the recorded row counts and fingerprints in
expected.json are tied to these exact tables.

Calibrated against that fixture with perfbench/calibrate.py, which compares
the two table sets fact by fact:
- Physical layout: one parquet file per table with one row group, snappy,
  dictionary encoding, written by pyarrow 16.1 as the fixture was. Bytes per
  row group agree within 1.2% on every table above 100 KB and within 0.1%
  on the three largest: lineitem 10.82 MB in both, the only table above
  graft.Catalog's 4 MB re-split threshold; orders 2.72 MB and events
  2.04-2.05 MB, below it.
- Types: every timestamp is INT64 TIMESTAMP(MICROS, isAdjustedToUTC=false)
  in the fixture at sf0.001, sf0.01 and sf0.1 (FIXTURES.md's nanosecond
  events.ts and millisecond dates describe an earlier generation), so
  Catalog.normalize takes its TIMESTAMP_NTZ path on both.
- Values: row counts; distinct counts of every column (for example
  l_orderkey 147,236 in the fixture and 147,157 here, o_custkey 14,999 in
  both, user_id 1,500 in both); date ranges; category shares (uniform,
  except documents.lang: en 40-41%, the other four about 15% each); key
  fan-out (orders per customer, lines per order, events per user: medians
  10, 4 and 66, maxima 24-26, 17 and 95-99); events.ts sorted by
  event_id over 30 days; the corpus's 31-word vocabulary, 10-100 tokens per
  document (mean 54), and near-duplicates that repeat an earlier document
  plus one token (477 documents share a 10-token prefix with another in
  the fixture, 489 here).
What is left differs by sampling noise only: extremes (events.value max
560 in the fixture, 748 here), exact duplicate texts (8 and 11).

Usage: python3 perfbench/gen_data.py <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240117

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()


def write(out, name, cols):
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   row_group_size=table.num_rows or 1, compression="snappy")


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days(rng, start, span, n):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span, n)).astype("datetime64[us]")


def generate(out):
    rng = np.random.default_rng(DATA_SEED)
    os.makedirs(out, exist_ok=True)
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")

    write(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s)})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})

    n = 1000
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "s_acctbal": pa.array(money(rng, -1000, 10000, n), f64)})

    n = 15000
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "c_acctbal": pa.array(money(rng, -1000, 10000, n), f64),
        "c_mktsegment": pa.array(segments[rng.integers(0, 5, n)], s)})

    n = 20000
    adjs = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
    nouns = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    names = np.char.add(np.char.add(adjs[rng.integers(0, 8, n)], " "), nouns[rng.integers(0, 8, n)])
    write(out, "part", {
        "p_partkey": pa.array(np.arange(n), i64),
        "p_name": pa.array(names, s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)], s),
        "p_type": pa.array(types[rng.integers(0, 6, n)], s),
        "p_size": pa.array(rng.integers(1, 51, n), i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n) % 1000) / 10, 2), f64)})

    n = 150000
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n), i64),
        "o_custkey": pa.array(rng.integers(0, 15000, n), i64),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)], s),
        "o_totalprice": pa.array(money(rng, 1000, 500000, n), f64),
        "o_orderdate": pa.array(days(rng, "1995-01-01", 2405, n), ts),
        "o_orderpriority": pa.array(priorities[rng.integers(0, 5, n)], s)})

    n = 600000
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, 150000, n), i64),
        "l_partkey": pa.array(rng.integers(0, 20000, n), i64),
        "l_suppkey": pa.array(rng.integers(0, 1000, n), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64), f64),
        "l_extendedprice": pa.array(money(rng, 900, 105000, n), f64),
        "l_discount": pa.array(np.round(rng.uniform(0, 0.1, n), 2), f64),
        "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n), 2), f64),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)], s),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)], s),
        "l_shipdate": pa.array(days(rng, "1995-01-02", 2499, n), ts)})

    n = 100000
    start_us = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    kinds = np.array(["click", "error", "purchase", "signup", "view"])
    write(out, "events", {
        "event_id": pa.array(np.arange(n), i64),
        "ts": pa.array((start_us + np.sort(rng.integers(0, 30 * 86400 * 10**6, n))).astype("datetime64[us]"), ts),
        "user_id": pa.array(rng.integers(0, 1500, n), i64),
        "event_type": pa.array(kinds[rng.integers(0, 5, n)], s),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], s)})

    n = 5000
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]) for _ in range(n)]
    # About 5% near-duplicates: an earlier document's text plus one token.
    for i in np.sort(rng.choice(np.arange(n // 2, n), n // 20, replace=False)):
        texts[i] = texts[int(rng.integers(0, n // 2))] + " dup"
    langs = np.array(["en", "de", "es", "fr", "zh"])
    write(out, "documents", {
        "doc_id": pa.array(np.arange(n), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(langs, n, p=[0.4, 0.15, 0.15, 0.15, 0.15]), s),
        "source": pa.array([f"src{i % 20}" for i in range(n)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})

    n, dim = 2000, 64
    vecs = rng.normal(size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), i32)})


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: gen_data.py <out_dir>")
    generate(sys.argv[1])
