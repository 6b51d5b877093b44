"""Seeded tables for the batch-query pass of interactive's traced run.

The `SparkEntry` queries read ten parquet tables (a TPC-H-like star schema, an
`events` table, `documents` and `embeddings`). This module writes tables with
the same names, column names and types, at roughly a hundredth of TPC-H
scale factor 1, from a seed: the same seed gives byte-identical files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
         "events": 10000, "documents": 500, "embeddings": 500}
LINES_PER_ORDER = 4
VOCAB = ("a agg batch big column customer data dup fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the value "
         "vector window").split()
PART_WORDS = ("small red blue hot old large", "ring widget bolt plate rod gear")
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en"] * 3 + ["zh", "es", "de", "fr"]


def _ts(days_from, days_span, rng, n, base="1995-01-01"):
    start = np.datetime64(base, "us")
    micros = rng.integers(0, days_span * 86400 * 10**6, n) + days_from * 86400 * 10**6
    return start + micros.astype("timedelta64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed):
    rng = np.random.default_rng(seed)
    i32, i64 = pa.int32(), pa.int64()
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    nc = SIZES["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc)})
    ns = SIZES["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(ns), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npart = SIZES["part"]
    adj, noun = (w.split() for w in PART_WORDS)
    t["part"] = pa.table({
        "p_partkey": pa.array(range(npart), i64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, len(adj), npart), rng.integers(0, len(noun), npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2)})
    no = SIZES["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": pa.array(_ts(0, 2400, rng, no).astype("datetime64[D]").astype("datetime64[us]")),
        "o_orderpriority": rng.choice(PRIORITIES, no)})
    nl = no * LINES_PER_ORDER
    orderkey = np.sort(rng.integers(0, no, nl))
    linenumber = np.ones(nl, dtype=np.int32)
    for i in range(1, nl):
        if orderkey[i] == orderkey[i - 1]:
            linenumber[i] = linenumber[i - 1] + 1
    perm = rng.permutation(nl)
    qty = rng.integers(1, 51, nl).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(orderkey[perm], i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(linenumber[perm], i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": pa.array(_ts(1, 2500, rng, nl).astype("datetime64[D]").astype("datetime64[us]"))})
    ne = SIZES["events"]
    t["events"] = pa.table({
        "event_id": pa.array(range(ne), i64),
        "ts": pa.array(np.sort(_ts(0, 30, rng, ne, base="2024-01-01"))),
        "user_id": pa.array(rng.integers(0, 150, ne), i64),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.uniform(0.01, 490.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = SIZES["documents"]
    texts = [" ".join(rng.choice(VOCAB, n)) for n in rng.integers(8, 90, nd)]
    t["documents"] = pa.table({
        "doc_id": pa.array(range(nd), i64),
        "text": texts,
        "lang": rng.choice(LANGS, nd),
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(x) for x in texts], i64)})
    nv = SIZES["embeddings"]
    labels = rng.integers(0, 10, nv)
    centroids = rng.normal(0.0, 0.1, (10, 64))
    vecs = (centroids[labels] + rng.normal(0.0, 0.08, (nv, 64))).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    return t


def generate(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
