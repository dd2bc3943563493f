"""Seeded input tables for the benchmark.

The inputs are the repository's sf0.001 test tables, committed under
``perfbench/data/sf0.001`` so that a run reads only its checkout.
``copy_tables`` rewrites each table with pyarrow in a row order drawn from
the workload seed; values, schema and parquet column types stay those of
the source, which is checked. A result that depends on physical row order
shows up as an output-check failure.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: The committed copy of the sf0.001 test tables.
DEFAULT_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.001")


def shuffled(table: pa.Table, seed: int, salt: int) -> pa.Table:
    """``table`` with its rows in a seeded order (schema unchanged)."""
    order = np.random.default_rng([seed, salt]).permutation(table.num_rows)
    return table.take(pa.array(order))


def copy_tables(src_dir: str, out_dir: str, seed: int) -> dict[str, dict]:
    """Rewrite every table of ``src_dir`` into ``out_dir`` in seeded row
    order; returns rows and bytes per table."""
    os.makedirs(out_dir, exist_ok=True)
    stats = {}
    for salt, name in enumerate(TABLES):
        src = os.path.join(src_dir, f"{name}.parquet")
        dst = os.path.join(out_dir, f"{name}.parquet")
        table = pq.read_table(src)
        pq.write_table(shuffled(table, seed, salt), dst)
        if not pq.ParquetFile(dst).schema.equals(pq.ParquetFile(src).schema):
            raise ValueError(f"{name}: parquet column types changed in the copy")
        stats[name] = {"rows": table.num_rows, "bytes": os.path.getsize(dst)}
    return stats
