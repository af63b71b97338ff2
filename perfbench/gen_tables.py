#!/usr/bin/env python3
"""Seeded gate-query tables for the gate_queries_mix workload.

Usage: python3 perfbench/gen_tables.py --seed <n> --scale <f> --out <dir>

Writes region, nation, customer, supplier, part, orders, lineitem, events,
documents and embeddings as one parquet file each under <dir>, with the
schemas of FIXTURES.md section 4 and `scale` times their sf0.1 row counts.
The same seed and scale always give the same files. Prints the row count of
every table as one JSON object.
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ["a", "the", "data", "spark", "stream", "batch", "query", "table",
         "row", "column", "key", "value", "join", "group", "agg", "filter",
         "sort", "scan", "hash", "merge", "window", "part", "line", "order",
         "customer", "vector", "fast", "slow", "big", "small"]


def tables(seed, scale):
    rng = np.random.default_rng(seed)

    def n(base):
        return max(10, int(round(base * scale)))

    def pick(options, size):
        return np.asarray(options, dtype=object)[rng.integers(0, len(options), size)]

    def days(size, span):
        return (np.datetime64("1995-01-01", "us")
                + rng.integers(0, span, size).astype("timedelta64[D]"))

    customers, suppliers, parts = n(15000), n(1000), n(20000)
    orders, events, users = n(150000), n(100000), n(1500)
    docs, vecs = n(5000), n(2000)
    out = {}
    out["region"] = {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    out["nation"] = {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}
    out["customer"] = {
        "c_custkey": np.arange(customers, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(customers)],
        "c_nationkey": pa.array(rng.integers(0, 25, customers, dtype=np.int32)),
        "c_acctbal": np.round(rng.uniform(-999, 9999, customers), 2),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                              "HOUSEHOLD", "MACHINERY"], customers)}
    out["supplier"] = {
        "s_suppkey": np.arange(suppliers, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(suppliers)],
        "s_nationkey": pa.array(rng.integers(0, 25, suppliers, dtype=np.int32)),
        "s_acctbal": np.round(rng.uniform(-999, 9999, suppliers), 2)}
    out["part"] = {
        "p_partkey": np.arange(parts, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(pick(WORDS, parts), pick(WORDS, parts))],
        "p_brand": [f"Brand#{a}{b}" for a, b in
                    zip(rng.integers(1, 6, parts), rng.integers(1, 6, parts))],
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                        "STANDARD"], parts),
        "p_size": pa.array(rng.integers(1, 51, parts, dtype=np.int32)),
        "p_retailprice": np.round(rng.uniform(900, 2000, parts), 2)}
    out["orders"] = {
        "o_orderkey": np.arange(orders, dtype=np.int64),
        "o_custkey": rng.integers(0, customers, orders, dtype=np.int64),
        "o_orderstatus": pick(["F", "O", "P"], orders),
        "o_totalprice": np.round(rng.uniform(800, 500800, orders), 2),
        "o_orderdate": days(orders, 2404),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW"], orders)}
    lines = rng.integers(1, 8, orders)
    li = int(lines.sum())
    out["lineitem"] = {
        "l_orderkey": np.repeat(np.arange(orders, dtype=np.int64), lines),
        "l_partkey": rng.integers(0, parts, li, dtype=np.int64),
        "l_suppkey": rng.integers(0, suppliers, li, dtype=np.int64),
        "l_linenumber": pa.array(np.concatenate(
            [np.arange(1, k + 1, dtype=np.int32) for k in lines])),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100900, li), 2),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], li),
        "l_linestatus": pick(["F", "O"], li),
        "l_shipdate": days(li, 2500)}
    # strictly increasing, distinct stamps over 30 days: `ts` and
    # (user_id, ts) are unique, as the declared query orderings require
    step_us = 30 * 86400 * 1_000_000 // events
    ts = (np.arange(events, dtype=np.int64) * step_us
          + rng.integers(0, step_us, events))
    out["events"] = {
        "event_id": np.arange(events, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, users, events, dtype=np.int64),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], events),
        "value": np.round(rng.exponential(50.0, events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, events)]}
    # every 25th document near-duplicates its predecessor (its last word
    # replaced), so the dedup operators have clusters to find
    texts = []
    for i in range(docs):
        if i % 25 == 24:
            words = texts[-1].split(" ")[:-1] + [WORDS[rng.integers(len(WORDS))]]
        else:
            words = list(pick(WORDS, int(rng.integers(6, 76))))
        texts.append(" ".join(words))
    out["documents"] = {
        "doc_id": np.arange(docs, dtype=np.int64),
        "text": texts,
        "lang": pick(["de", "en", "es", "fr", "zh"], docs),
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}
    emb = ((rng.random((vecs, 64)) - 0.5) * 0.6).astype(np.float32)
    out["embeddings"] = {
        "vec_id": np.arange(vecs, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, vecs, dtype=np.int32))}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    rows = {}
    for name, cols in tables(args.seed, args.scale).items():
        t = pa.table(cols)
        pq.write_table(t, os.path.join(args.out, f"{name}.parquet"))
        rows[name] = t.num_rows
    print(json.dumps(rows))


if __name__ == "__main__":
    main()
