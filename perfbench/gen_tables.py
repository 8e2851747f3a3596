#!/usr/bin/env python3
"""Seeded generator of the TPC-H-shaped corpus the query packs read.

Writes one single-row-group parquet file per table (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) with the schema and value distributions `graft.Tables`
expects. Row counts scale with --scale like the TPC-H scale factor
(lineitem = 6M x scale); documents and embeddings have a floor of 500.

    python3 perfbench/gen_tables.py --out DIR --scale 0.1 --seed 42

The same (scale, seed) always writes the same tables. `--tables
documents` writes only the named tables; each table draws from its own
random stream, so a subset holds the same rows as the full set.
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PART_ADJ = ["small", "new", "red", "blue", "old", "large", "hot", "cold"]
PART_NOUN = ["ring", "gear", "widget", "gizmo", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]

DAY_US = 86_400_000_000


def day_us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def random_days(rng, lo, hi, n):
    """Midnight timestamps (us) uniform over [lo, hi] days."""
    days = rng.integers(0, (hi - lo) // DAY_US + 1, n)
    return pa.array(lo + days * DAY_US, pa.timestamp("us"))


def pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def write(out, name, cols):
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows), compression="snappy")


def documents(rng, n):
    texts = []
    for _ in range(n):
        words = rng.choice(len(VOCAB), rng.integers(10, 101))
        texts.append(" ".join(VOCAB[w] for w in words))
    # 5% near-duplicates: another document's text plus a marker word
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    }


def tables(scale):
    """Table name -> builder(rng); each table draws from its own stream."""
    n_cust = max(1, int(150_000 * scale))
    n_supp = max(1, int(10_000 * scale))
    n_part = max(1, int(200_000 * scale))
    n_ord = max(1, int(1_500_000 * scale))
    n_line = max(1, int(6_000_000 * scale))
    n_evt = max(1, int(1_000_000 * scale))
    n_users = max(1, int(15_000 * scale))

    def part(rng):
        pk = np.arange(n_part)
        adj = rng.integers(0, len(PART_ADJ), n_part)
        noun = rng.integers(0, len(PART_NOUN), n_part)
        return {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
                               pa.string()),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                                pa.string()),
            "p_type": pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)}

    def events(rng):
        gaps = rng.exponential(30 * DAY_US / n_evt, n_evt).astype(np.int64)
        return {
            "event_id": pa.array(np.arange(n_evt), pa.int64()),
            "ts": pa.array(day_us(2024, 1, 1) + np.cumsum(gaps), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
            "event_type": pick(rng, EVENT_TYPES, n_evt),
            "value": np.round(np.minimum(rng.exponential(50.0, n_evt), 560.0), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
                              pa.string())}

    return {
        "region": lambda rng: {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string())},
        "nation": lambda rng: {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())},
        "customer": lambda rng: {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": pick(rng, SEGMENTS, n_cust)},
        "supplier": lambda rng: {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(rng, -999.99, 9999.99, n_supp)},
        "part": part,
        "orders": lambda rng: {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": random_days(rng, day_us(1995, 1, 1), day_us(2001, 8, 1), n_ord),
            "o_orderpriority": pick(rng, PRIORITIES, n_ord)},
        "lineitem": lambda rng: {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": pick(rng, ["N", "A", "R"], n_line),
            "l_linestatus": pick(rng, ["O", "F"], n_line),
            "l_shipdate": random_days(rng, day_us(1995, 1, 2), day_us(2001, 11, 4), n_line)},
        "events": events,
        "documents": lambda rng: documents(rng, max(500, int(50_000 * scale))),
        "embeddings": lambda rng: embeddings(rng, max(500, int(20_000 * scale))),
    }


def generate(out, scale, seed, only=None):
    os.makedirs(out, exist_ok=True)
    for i, (name, build) in enumerate(tables(scale).items()):
        if only is None or name in only:
            write(out, name, build(np.random.default_rng([seed, i])))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--scale", type=float, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--tables", help="comma-separated subset (default: all)")
    a = ap.parse_args()
    generate(a.out, a.scale, a.seed, a.tables.split(",") if a.tables else None)


if __name__ == "__main__":
    main()
