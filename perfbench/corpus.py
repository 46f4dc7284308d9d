"""Seeded synthetic corpus for the benchmark.

Writes the tables the benchmark's workloads read (nation, customer, orders,
lineitem) as one parquet file each, with the schemas of the engine's test
corpus (FIXTURES.md, section B). The corpus is fixed: it depends only on
CORPUS_SEED and SCALE, never on a run's --seed, so the expected row count
in the benchmark stays valid. Row counts follow the TPC-H ratios at SCALE,
the scale of the engine's benchmark corpus (0.1: 600,000 lineitem and
150,000 orders rows).

    python3 perfbench/corpus.py <out-dir>
"""
import datetime
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42
SCALE = 0.1
VERSION = f"corpus-v2-scale{SCALE}"  # names the generated bytes

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def _days(rng, n, start, end):
    """`n` midnight timestamps (ms) uniform in [start, end]."""
    lo = (start - datetime.date(1970, 1, 1)).days
    hi = (end - datetime.date(1970, 1, 1)).days
    return pa.array(rng.integers(lo, hi + 1, n) * 86_400_000,
                    type=pa.timestamp("ms"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(scale=SCALE, seed=CORPUS_SEED):
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = int(6_000_000 * scale)
    n_part = int(200_000 * scale)
    n_supp = int(10_000 * scale)

    out = {}
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, n_ord, 850.0, 560_000.0),
        "o_orderdate": _days(rng, n_ord, datetime.date(1995, 1, 1),
                             datetime.date(2001, 8, 1)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), n_line),
        "l_linestatus": rng.choice(("F", "O"), n_line),
        "l_shipdate": _days(rng, n_line, datetime.date(1995, 1, 2),
                            datetime.date(2001, 11, 4))})

    return out


def main(dst):
    stamp = os.path.join(dst, "_VERSION")
    if os.path.exists(stamp) and open(stamp).read() == VERSION:
        return
    os.makedirs(dst, exist_ok=True)
    for name, table in tables().items():
        pq.write_table(table, os.path.join(dst, f"{name}.parquet"))
    with open(stamp, "w") as f:
        f.write(VERSION)


if __name__ == "__main__":
    main(sys.argv[1])
