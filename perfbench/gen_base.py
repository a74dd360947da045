#!/usr/bin/env python3
"""Write the benchmark's base tier: a deterministic TPC-H-ish star schema
plus the events stream, a text corpus and an embedding table.

The tables have the names, column types and value distributions of the
engine's test tiers (TESTDATA.md), at the sf0.01 size: region, nation,
customer, supplier, part, orders and 60k lineitem rows; 10k events over 30
days; 500 documents drawn from a 31-word vocabulary with 8 planted exact
duplicates and 25 `dup`-tagged near-duplicates; 200 unit-norm 64-d
embeddings with labels. The base tier is fixed (seed 42); the workload seed enters later
through tools/perturb.py, as it does for the engine's own second-seed
checks.

Usage: python3 perfbench/gen_base.py <dst_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
# Row counts are the sf0.1 tier's times SCALE (region and nation excepted):
# the sf0.01 size, which keeps a benchmark run inside its time budget.
SCALE = 0.1
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
DAY_US = 86_400_000_000


def ts_us(values):
    return pa.array(np.asarray(values, dtype=np.int64), type=pa.int64()) \
        .cast(pa.timestamp("us"))


def days_between(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, size=n) * DAY_US


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, size=n), 2)


def rows(n):
    return int(n * SCALE)


def tables(rng):
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    n = rows(15_000)
    seg = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                    "MACHINERY"])
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n),
        "c_mktsegment": seg[rng.integers(0, 5, n)]})

    n = rows(1_000)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n)})

    n = rows(20_000)
    adj = np.array("blue cold hot large new old red small".split())
    noun = np.array("anvil bolt gear gizmo plate ring rod widget".split())
    ptype = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                      "STANDARD"])
    keys = np.arange(n)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n)], " "),
                              noun[rng.integers(0, 8, n)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
        "p_type": ptype[rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1)})

    n = rows(150_000)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, rows(15_000), n), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": money(rng, 1000.0, 500000.0, n),
        "o_orderdate": ts_us(days_between(rng, n, "1995-01-01", "2001-08-01")),
        "o_orderpriority": prio[rng.integers(0, 5, n)]})

    n = rows(600_000)
    qty = rng.integers(1, 51, n).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, rows(150_000), n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, rows(20_000), n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, rows(1_000), n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": ts_us(days_between(rng, n, "1995-01-02", "2001-11-04"))})

    n = rows(100_000)
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    when = np.sort(rng.integers(start, start + 30 * DAY_US, n))
    etype = np.array(["click", "error", "purchase", "signup", "view"])
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": ts_us(when),
        "user_id": pa.array(rng.integers(0, rows(1_500), n), pa.int64()),
        "event_type": etype[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})

    out["documents"] = documents(rng, rows(5_000))

    n = rows(2_000)
    emb = rng.standard_normal((n, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})
    return out


def documents(rng, n):
    vocab = np.array([w for w in VOCAB if w != "dup"])
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(8, 101))])
             for _ in range(n)]
    # near-duplicates: a copy of an earlier document with one token appended
    for i in rng.choice(np.arange(1, n), n // 20, replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    # exact duplicates
    for i in rng.choice(np.arange(n // 2, n), 8, replace=False):
        texts[i] = texts[rng.integers(0, n // 2)]
    langs = np.array(["en", "en", "en", "en", "en", "en", "en", "en",
                      "de", "de", "de", "es", "es", "es", "fr", "fr", "fr",
                      "zh", "zh", "zh"])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n)],
        "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def main():
    dst = sys.argv[1]
    os.makedirs(dst, exist_ok=True)
    for name, table in tables(np.random.default_rng(SEED)).items():
        pq.write_table(table, os.path.join(dst, f"{name}.parquet"))


if __name__ == "__main__":
    main()
