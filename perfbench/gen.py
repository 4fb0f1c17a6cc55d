"""Seeded input generator for the benchmark.

Writes the ten tables the declared queries read (the TPC-H-like star
schema, `events`, `documents`, `embeddings`) as one parquet file each,
with the schemas and value domains of the shared test data: the same
seed always gives byte-identical tables, and the program under test
sees only these files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["red", "blue", "green", "black", "white", "small", "large"]
NOUNS = ["widget", "bolt", "ring", "gear", "panel", "valve"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a the data spark stream batch table row column key value hash "
         "join merge sort scan filter group agg window query order line "
         "part customer vector small big fast slow").split()
LANGS = ["en", "en", "de", "fr", "es", "zh"]

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400 * 1_000_000   # 1995-01-01 UTC, microseconds
EPOCH_2024 = 1_704_067_200 * 1_000_000  # 2024-01-01 UTC, microseconds


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _documents(rng, n):
    """Documents of 10-99 words; about one in twenty is a near-duplicate
    of an earlier document (its text plus a trailing " dup"), the shape
    the dedup and similarity queries look for."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def _embeddings(rng, n, dims=64):
    """Unit vectors around ten label centroids."""
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, dims))
    x = rng.normal(0, 1, (n, dims)) + 0.15 * centers[labels]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    vecs = pa.array(list(x.astype(np.float32)), type=pa.list_(pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": vecs,
        "label": pa.array(labels.astype(np.int32)),
    })


def tables(seed, sf, n_docs, n_vecs):
    """All ten tables at scale factor `sf` (TPC-H row counts) with
    `n_docs` documents and `n_vecs` embeddings."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_events, n_users = int(1_000_000 * sf), max(10, int(15_000 * sf))
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
            "c_mktsegment": pa.array([SEGMENTS[j] for j in rng.integers(0, 5, n_cust)])}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99))}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array([f"{COLORS[a]} {NOUNS[b]}" for a, b in zip(
                rng.integers(0, len(COLORS), n_part), rng.integers(0, len(NOUNS), n_part))]),
            "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, n_part)]),
            "p_type": pa.array([PART_TYPES[j] for j in rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2))}),
    }
    o_date = EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array([("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500_000.0)),
        "o_orderdate": _ts(o_date),
        "o_orderpriority": pa.array([PRIORITIES[j] for j in rng.integers(0, 5, n_ord)])})
    lines = rng.integers(1, 8, n_ord)
    n_line = int(lines.sum())
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    flags = rng.integers(0, 3, n_line)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(l_num),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2000.0, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[j] for j in flags]),
        "l_linestatus": pa.array([("F", "O")[j] for j in rng.integers(0, 2, n_line)]),
        "l_shipdate": _ts(o_date[l_order] + rng.integers(1, 122, n_line) * DAY_US)})
    ev_ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, n_events))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, n_users, n_events).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[j] for j in rng.integers(0, 5, n_events)]),
        "value": pa.array(_money(rng, n_events, 0.01, 500.0)),
        "props": pa.array([f'{{"k": {j}}}' for j in rng.integers(0, 100, n_events)])})
    out["documents"] = _documents(rng, n_docs)
    out["embeddings"] = _embeddings(rng, n_vecs)
    return out


def write(out_dir, seed, sf, n_docs, n_vecs):
    """Write the tables under `out_dir`; return their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, t in tables(seed, sf, n_docs, n_vecs).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows
