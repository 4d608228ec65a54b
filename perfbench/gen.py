"""Seeded generator for the benchmark's input table.

Writes `lineitem.parquet`, one row group, with the columns, types and
value distributions of the TPC-H-like `lineitem` test table the engine's
queries were written against. It is the only table the workloads read.
The same (sf, seed) always gives the same file.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)


def sizes(sf):
    """Row counts at scale factor `sf`: lineitem, and the key ranges of
    the orders, part and supplier tables it refers to."""
    return {"lineitem": int(6_000_000 * sf), "orders": int(1_500_000 * sf),
            "part": int(200_000 * sf), "supplier": max(10, int(10_000 * sf))}


def generate(out, sf, seed):
    """Write lineitem for scale factor `sf` into directory `out`."""
    os.makedirs(out, exist_ok=True)
    n = sizes(sf)
    li = n["lineitem"]
    rng = np.random.default_rng(seed)
    cols = {
        "l_orderkey": rng.integers(0, n["orders"], li, dtype=np.int64),
        "l_partkey": rng.integers(0, n["part"], li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], li, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, li), 2),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": pa.array(EPOCH_1995 + rng.integers(1, 2500, li) * DAY_US, type=pa.timestamp("us")),
    }
    pq.write_table(pa.table(cols), os.path.join(out, "lineitem.parquet"), row_group_size=1 << 30)
    return n
