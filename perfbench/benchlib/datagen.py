"""Deterministic generator for the benchmark's input tables.

Writes the star-schema tables the query registry reads (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings), one parquet file each, with the schemas and value
distributions of the engine's sf0.1 test tables. The tables are a fixed
input: every run of every seed reads the same bytes, so the reference
digests in ``reference_digests.json`` hold for all seeds. The seed of a
benchmark run only orders the queries (and seeds gold_serve's raster,
which the JVM side generates).
"""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated bytes change; the runner regenerates on mismatch
# and the reference digests must be re-recorded.
VERSION = 1
DATA_SEED = 42
SF = 0.1

MKT_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00 in micros
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00 in micros


def _write(out_dir, name, table):
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(table, path + ".tmp", compression="snappy")
    os.replace(path + ".tmp", path)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _keyed_names(prefix, n):
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def generate(out_dir):
    """Write every table under ``out_dir``. Same bytes on every call."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_ord, n_line = int(1_500_000 * SF), int(6_000_000 * SF)
    n_events, n_docs, n_vecs = int(1_000_000 * SF), int(50_000 * SF), 2000
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    ts_us = pa.timestamp("us")

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS)}))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}))
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": _keyed_names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(rng.choice(MKT_SEGMENTS, n_cust))}))
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": _keyed_names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64)}))
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array(rng.choice(names, n_part)),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1), f64)}))
    order_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord), f64),
        "o_orderdate": pa.array(EPOCH_1995 + order_days * DAY_US, ts_us),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord))}))
    line_orders = rng.integers(0, n_ord, n_line)
    ship_days = order_days[line_orders] + rng.integers(1, 122, n_line)
    flags = rng.integers(0, 6, n_line)
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(line_orders, i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64), f64),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[flags // 2]),
        "l_linestatus": pa.array(np.array(["F", "O"])[flags % 2]),
        "l_shipdate": pa.array(EPOCH_1995 + ship_days * DAY_US, ts_us)}))
    ev_ts = np.sort(rng.integers(0, 30 * DAY_US, n_events)) + EPOCH_2024
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(n_events), i64),
        "ts": pa.array(ev_ts, ts_us),
        "user_id": pa.array(rng.integers(0, 1500, n_events), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events)),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)])}))
    _write(out_dir, "documents", _documents(rng, n_docs))
    _write(out_dir, "embeddings", _embeddings(rng, n_vecs))


def _documents(rng, n):
    lens = rng.integers(10, 101, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    # a few exact duplicates, as crawled corpora carry
    for src, dst in rng.integers(0, n, (8, 2)):
        texts[max(src, dst)] = texts[min(src, dst)]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def _embeddings(rng, n, dim=64, labels=10):
    centers = rng.normal(0.0, 1.0, (labels, dim))
    label = rng.integers(0, labels, n)
    vecs = centers[label] + rng.normal(0.0, 1.5, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})
