"""Seeded synthetic corpus for the benchmark.

Writes the ten tables the engine's registered queries read (a TPC-H-like
star schema, an `events` stream, `documents` and `embeddings`) as one
parquet file each, with the column names and types of the engine's
reference corpus. Row counts scale with `sf` the way that corpus does
(sf 0.1 = 600k lineitem rows, 5000 documents, 2000 embeddings).

The same (seed, sf) always yields byte-identical tables.
"""
import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
DIM = 64


def sizes(sf):
    def n(base, floor):
        return max(floor, int(round(base * sf)))
    return {
        "region": 5, "nation": 25,
        "customer": n(150_000, 100), "supplier": n(10_000, 20),
        "part": n(200_000, 100), "orders": n(1_500_000, 500),
        "lineitem": n(6_000_000, 2000), "events": n(1_000_000, 1000),
        "documents": n(50_000, 200), "embeddings": n(20_000, 100),
    }


def _ts(rng, n, lo, hi, whole_days):
    lo_us = int(lo.timestamp() * 1e6)
    hi_us = int(hi.timestamp() * 1e6)
    v = rng.integers(lo_us, hi_us, n)
    if whole_days:
        v -= v % 86_400_000_000
    return pa.array(v, pa.timestamp("us"))


def unit_vectors(rng, n):
    v = rng.standard_normal((n, DIM)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def vector_column(mat):
    flat = pa.array(mat.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, mat.size + 1, DIM, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def doc_texts(rng, n, dup_share=0.05):
    """Word salad over a 31-word vocabulary; a `dup_share` of the
    documents repeat an earlier one with a trailing ` dup` token."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), lens.sum())
    out, at = [], 0
    for i, k in enumerate(lens):
        out.append(" ".join(VOCAB[w] for w in words[at:at + k]))
        at += k
    dups = np.nonzero(rng.random(n) < dup_share)[0]
    for i in dups:
        if i > 0:
            out[i] = out[int(rng.integers(0, i))] + " dup"
    return out


def tables(seed, sf):
    rng = np.random.default_rng(seed)
    s = sizes(sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = s["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc)})
    ns = s["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)})
    npart = s["part"]
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    names = [f"{a} {b}" for a in adj for b in noun]
    keys = np.arange(npart, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": np.array(names)[rng.integers(0, len(names), npart)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) / 10.0, 2)})
    no = s["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": _ts(rng, no, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 2), True),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no)})
    nl = s["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, nl), 2),
        "l_discount": np.round(rng.uniform(0, 0.1, nl), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, nl), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts(rng, nl, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 5), True)})
    ne = s["events"]
    ts = _ts(rng, ne, dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 31), False)
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": ts.take(pa.array(np.argsort(ts.to_numpy(), kind="stable"))),
        "user_id": rng.integers(0, max(10, ne // 66), ne).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = s["documents"]
    text = doc_texts(rng, nd)
    t["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": text,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(x) for x in text], dtype=np.int64)})
    nv = s["embeddings"]
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": vector_column(unit_vectors(rng, nv)),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})
    return t


def write(out_dir, seed, sf):
    import os
    os.makedirs(out_dir, exist_ok=True)
    tabs = tables(seed, sf)
    for name, tab in tabs.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))
    return tabs
