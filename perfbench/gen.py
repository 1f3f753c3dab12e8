"""Seeded input generator.

The committed base tables (perfbench/data/sf0.01, a copy of the seed-42
sf0.01 test tables described in TESTDATA.md) are the one source of every
input. Seed 0 copies them byte for byte. Any other seed rewrites each table
with its rows in a seeded order and seeded parquet row-group boundaries:
every value, row count and literal id a query names is kept, so a query's
result is the same for every seed while the physical layout the program
scans is not.
"""
import hashlib
import os
import shutil

import numpy as np
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _rng(seed, table):
    salt = int.from_bytes(hashlib.sha256(table.encode()).digest()[:4], "little")
    return np.random.default_rng([seed, salt])


def generate(base_dir, out_dir, seed):
    """Write every table of `base_dir` to `out_dir/<table>.parquet`.
    Returns {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for t in TABLES:
        src = os.path.join(base_dir, f"{t}.parquet")
        dst = os.path.join(out_dir, f"{t}.parquet")
        if seed == 0:
            shutil.copyfile(src, dst)
            rows[t] = pq.ParquetFile(src).metadata.num_rows
            continue
        tbl = pq.read_table(src)
        rng = _rng(seed, t)
        n = tbl.num_rows
        tbl = tbl.take(rng.permutation(n))
        group = int(rng.integers(max(1, n // 4), n + 1)) if n else 1
        pq.write_table(tbl, dst, row_group_size=group)
        rows[t] = n
    return rows
