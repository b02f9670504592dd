"""Seeded fixture generator for the benchmark.

Writes the ten fixture tables (region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings) as one parquet file each,
with the schemas and value distributions of graft's test fixtures (see
FIXTURES.md §3): a TPC-H-like star schema, an `events` stream table whose
`ts` is TIMESTAMP(MICROS, not UTC-adjusted), a text corpus with ~5%
near-duplicate documents, and 64-dimensional unit embeddings with a weak
per-label centroid.

The same (seed, scale) always yields byte-identical tables.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.44, 0.14, 0.14, 0.14]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
DIM = 64
LABELS = 10

# rows per unit of scale factor (sf 0.01 gives the oracle fixture's sizes)
ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
        "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
        "users": 15_000, "documents": 50_000, "embeddings": 50_000}

EPOCH = dt.datetime(1970, 1, 1)


def _micros(d):
    return int((d - EPOCH).total_seconds()) * 1_000_000


def _days_ts(rng, n, start, days):
    day = rng.integers(0, days + 1, n)
    return pa.array(_micros(start) + day * 86_400_000_000, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _n(scale, table):
    return max(1, int(round(ROWS[table] * scale)))


def tables(seed, scale):
    """Return {name: pyarrow.Table} for one seeded fixture at `scale`."""
    rng = np.random.default_rng(seed)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    nc = _n(scale, "customer")
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, nc)})

    ns = _n(scale, "supplier")
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99)})

    np_ = _n(scale, "part")
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_, dtype=np.int64)),
        "p_name": _pick(rng, names, np_),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)]),
        "p_type": _pick(rng, PART_TYPES, np_),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 2)})

    no = _n(scale, "orders")
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": _money(rng, no, 1000.0, 500000.0),
        "o_orderdate": _days_ts(rng, no, dt.datetime(1995, 1, 1), 2404),
        "o_orderpriority": _pick(rng, PRIORITIES, no)})

    nl = _n(scale, "lineitem")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, np_, nl, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _days_ts(rng, nl, dt.datetime(1995, 1, 2), 2498)})

    ne = _n(scale, "events")
    nu = _n(scale, "users")
    span = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, span, ne)) + _micros(dt.datetime(2024, 1, 1))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, nu, ne, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)])})

    nd = _n(scale, "documents")
    texts = []
    for i in range(nd):
        if i > 0 and rng.random() < 0.05:
            # near-duplicate: an earlier document with a marker word appended
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(1, 3)))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), k)]))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, nd, LANG_P),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, nd)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    nv = _n(scale, "embeddings")
    labels = rng.integers(0, LABELS, nv)
    centroids = rng.normal(0.0, 1.0, (LABELS, DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    vecs = rng.normal(0.0, 1.0, (nv, DIM)) / np.sqrt(DIM) + 0.14 * centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write(tbls, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tbls.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
