"""Seeded generator for the benchmark's input tables.

Writes the ten parquet tables the program reads (`region nation customer
supplier part orders lineitem events documents embeddings`) with the column
names, types, row counts and value distributions of the reference tables
the engine's gates are written against (compare them with
`compare_inputs.py`). The same (seed, sf) always gives the same files,
byte for byte.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
DAY_US = 86_400_000_000


def _us(date):
    return int(np.datetime64(date, "us").astype(np.int64))


def sizes(sf):
    """Row counts per table at scale factor `sf`."""
    return {
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1500, int(1_500_000 * sf)),
        "lineitem": max(6000, int(6_000_000 * sf)),
        "events": max(1000, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, lo, hi, n):
    """Midnight timestamps uniform over [lo, hi] (inclusive), as micros."""
    d = rng.integers(0, (_us(hi) - _us(lo)) // DAY_US + 1, n)
    return _us(lo) + d * DAY_US


def tables(seed, sf):
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    ts = pa.timestamp("us")
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)]})
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npart = n["part"]
    keys = np.arange(npart)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) * 0.1, 1)})
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000, 500_000, no),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", no), ts),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)]})
    nl = n["lineitem"]
    # uniform (orderkey, linenumber) draws: ~24% of keys repeat with
    # different attributes, which the dedup gates must resolve
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, nl),
        "l_discount": np.round(rng.uniform(0, 0.10, nl), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, nl), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", nl), ts)})
    ne = n["events"]
    users = max(150, nc // 10)
    # Poisson arrivals over 30 days, in event_id order
    arrivals = np.cumsum(rng.exponential(1.0, ne))
    event_us = (arrivals / arrivals[-1] * (30 * DAY_US - 60_000_000)).astype(np.int64)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(_us("2024-01-01") + event_us, ts),
        "user_id": pa.array(rng.integers(0, users, ne), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    texts = [" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)])
             for k in rng.integers(10, 100, nd)]
    # 5% near-duplicates: a copy of another document with one token added
    for i in rng.choice(nd, nd // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, nd))] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, nd, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    nv, dim = n["embeddings"], 64
    # isotropic unit vectors with labels drawn apart from them: the
    # reference tables have no cluster structure (pairwise cosine spread
    # 1/sqrt(dim), labels uncorrelated with position)
    labels = rng.integers(0, 10, nv)
    vecs = rng.normal(0, 1, (nv, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def generate(out_dir, seed, sf):
    """Write every table to `<out_dir>/<name>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
