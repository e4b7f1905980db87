#!/usr/bin/env python3
"""Deterministic synthetic input tables for the benchmark.

Writes the two tables the workloads read, `orders` (load) and
`embeddings` (store), one parquet file each, with the schemas
`graft.sources.Tables` expects. The same (sf, seed) pair always yields
the same content.

Run:  python3 perfbench/gen_data.py <out_dir> [--sf 0.01] [--seed 42]
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DAY_US = 86_400_000_000


def ts_us(days_from_epoch):
    return pa.array(np.asarray(days_from_epoch, dtype=np.int64) * DAY_US,
                    type=pa.timestamp("us"))


def days(y, m, d):
    return int((np.datetime64(f"{y:04d}-{m:02d}-{d:02d}") -
                np.datetime64("1970-01-01")).astype(np.int64))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf, seed):
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 100)
    n_emb = 2000 if sf >= 0.1 else 500

    d0, d1 = days(1995, 1, 1), days(2001, 8, 1)
    out = {}
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(rng, 1000, 500_000, n_ord),
        "o_orderdate": ts_us(rng.integers(d0, d1 + 1, n_ord)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})

    # clustered unit vectors: ten centres plus noise
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vec = centers[labels] + rng.normal(0, 1.5, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--seed", type=int, default=42)
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    for name, t in tables(a.sf, a.seed).items():
        pq.write_table(t, os.path.join(a.out, f"{name}.parquet"))


if __name__ == "__main__":
    main()
