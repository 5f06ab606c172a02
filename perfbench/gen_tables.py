#!/usr/bin/env python3
"""Generate the benchmark's table set: the ten tables the engine's queries
read, at the row counts of the sf0.1 fixtures (lineitem 600k, orders 150k,
events 100k, documents 5k, embeddings 2k).

The schemas, value domains and helpers are those of the fixture generator
tools/gen_fixtures.py; this file adds the sf0.1 row counts, planted
near-duplicate documents and a language skew. The tables are drawn from a
fixed seed, so every checkout generates the same bytes and the
expected-results file (expected.json) applies to them. The workload seed
chooses the query order and the ingest dataset, not these tables.

Usage: python3 perfbench/gen_tables.py <out_dir>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from gen_fixtures import (ADJS, ETYPES, LANGS, NOUNS, PRIOS, PTYPES, REGIONS,  # noqa: E402
                          SEGMENTS, VOCAB, days_ts, money, write)

DATA_SEED = 20261017
ROWS = dict(customer=15000, supplier=1000, part=20000, orders=150000,
            lineitem=600000, events=100000, documents=5000, embeddings=2000,
            users=1500)


def tables(rng):
    n = ROWS
    yield "region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    yield "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    c = n["customer"]
    yield "customer", {
        "c_custkey": pa.array(range(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": money(rng, -900, 10000, c),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, c)]}
    s = n["supplier"]
    yield "supplier", {
        "s_suppkey": pa.array(range(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": money(rng, 500, 9000, s)}
    p = n["part"]
    yield "part", {
        "p_partkey": pa.array(range(p), pa.int64()),
        "p_name": [f"{ADJS[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(p) * 0.1, 2)}
    o = n["orders"]
    yield "orders", {
        "o_orderkey": pa.array(range(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, o)],
        "o_totalprice": money(rng, 1000, 500000, o),
        "o_orderdate": pa.array(days_ts(rng, "1995-01-01", "2001-08-01", o)),
        "o_orderpriority": [PRIOS[i] for i in rng.integers(0, 5, o)]}
    li = n["lineitem"]
    yield "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(float),
        "l_extendedprice": money(rng, 900, 105000, li),
        "l_discount": np.round(rng.integers(0, 11, li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, li) / 100.0, 2),
        "l_returnflag": [["N", "A", "R"][i] for i in rng.integers(0, 3, li)],
        "l_linestatus": [["O", "F"][i] for i in rng.integers(0, 2, li)],
        "l_shipdate": pa.array(days_ts(rng, "1995-01-02", "2001-11-04", li))}
    # events: timestamps increase with event_id over about 30 days
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(int)
    gaps = rng.exponential(30 * 86400e6 / e, e).astype(int) + 1
    yield "events", {
        "event_id": pa.array(range(e), pa.int64()),
        "ts": pa.array((start + np.cumsum(gaps)).astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, n["users"], e), pa.int64()),
        "event_type": [ETYPES[i] for i in rng.integers(0, 5, e)],
        "value": np.round(np.maximum(rng.exponential(50, e), 0.01), 2),
        "props": [json.dumps({"k": int(k)}, separators=(", ", ": "))
                  for k in rng.integers(0, 100, e)]}
    # documents: about 5% copy an earlier document with one word dropped
    # from or added at the end (3% of those copy it exactly), so the dedup
    # and similarity queries find real duplicate clusters
    d = n["documents"]
    texts = [" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), rng.integers(10, 100)))
             for _ in range(d)]
    langs = [LANGS[i] for i in rng.choice(5, d, p=[0.15, 0.15, 0.15, 0.15, 0.40])]
    for i in rng.choice(np.arange(d // 10, d), d // 20 + 8, replace=False):
        words = texts[rng.integers(0, i)].split()
        r = rng.random()
        if r < 0.485:
            words = words[:-1]
        elif r < 0.97:
            words = words + [VOCAB[rng.integers(0, len(VOCAB))]]
        texts[i], langs[i] = " ".join(words), "en"
    yield "documents", {
        "doc_id": pa.array(range(d), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}
    m = n["embeddings"]
    v = rng.normal(0, 1, (m, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    yield "embeddings", {
        "vec_id": pa.array(range(m), pa.int64()),
        "embedding": pa.array(v.tolist(), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), pa.int32())}


def main():
    out = sys.argv[1]
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    for name, cols in tables(rng):
        write(out, name, pa.table(cols))


if __name__ == "__main__":
    main()
