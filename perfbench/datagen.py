"""Seeded generator for the benchmark's input tables.

Writes the ten parquet tables graft's queries read (`graft.core.Tables`):
a TPC-H-like star schema, an `events` stream table, a `documents` corpus
and an `embeddings` table. Column names, types and value domains follow
the synthetic sf0.01 test tables; every value is drawn from `seed`, so
the same seed gives byte-identical inputs.

    python3 perfbench/datagen.py OUT_DIR SEED
"""
import os
import sys

import numpy as np
import pandas as pd

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]

# rows per table (the sf0.01 sizes)
SIZES = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
         "lineitem": 60000, "events": 10000, "documents": 500,
         "embeddings": 500}


def days(rng, lo, hi, n):
    """n midnight timestamps drawn uniformly from [lo, hi]."""
    lo, hi = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    d = rng.integers(0, (hi - lo).astype(int) + 1, n)
    return (lo + d).astype("datetime64[us]")


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed):
    rng = np.random.default_rng(seed)
    n = SIZES
    out = {}
    out["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    out["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    out["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"])})
    out["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": money(rng, -999.99, 9999.99, n["supplier"])})
    keys = np.arange(n["part"], dtype=np.int64)
    out["part"] = pd.DataFrame({
        "p_partkey": keys,
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(PART_ADJ, n["part"]), rng.choice(PART_NOUN, n["part"]))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(PART_TYPES, n["part"]),
        "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)})
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": money(rng, 1000, 500000, n["orders"]),
        "o_orderdate": days(rng, "1995-01-01", "2001-08-01", n["orders"]),
        "o_orderpriority": rng.choice(PRIORITIES, n["orders"])})
    m = n["lineitem"]
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n["orders"], m),
        "l_partkey": rng.integers(0, n["part"], m),
        "l_suppkey": rng.integers(0, n["supplier"], m),
        "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": money(rng, 900, 105000, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], m),
        "l_linestatus": rng.choice(["F", "O"], m),
        "l_shipdate": days(rng, "1995-01-02", "2001-11-04", m)})
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 1_000_000
    out["events"] = pd.DataFrame({
        "event_id": np.arange(e, dtype=np.int64),
        # event time rises with event_id, as in an append-only log
        "ts": start + np.sort(rng.integers(0, span_us, e)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, 150, e),
        "event_type": rng.choice(EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    texts = []
    for _ in range(d):
        words = list(rng.choice(WORDS, rng.integers(8, 101)))
        if rng.random() < 0.05:  # a trailing marker token, as in the corpus
            words += ["dup"] * int(rng.integers(1, 3))
        texts.append(" ".join(words))
    out["documents"] = pd.DataFrame({
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, d, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    v = n["embeddings"]
    labels = rng.integers(0, 10, v).astype(np.int32)
    centroids = rng.normal(size=(10, 64))
    x = rng.normal(size=(v, 64)) + 0.15 * centroids[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(v, dtype=np.int64),
        "embedding": list(x),
        "label": labels})
    return out


def write(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables(seed).items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]))
