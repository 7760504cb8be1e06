"""Seeded inputs for the catalog workloads, made from the base tables
stored beside the benchmark (``data/sf0.01``, the synthetic TPC-H-ish
tables plus ``events``, ``documents`` and ``embeddings``).

``copies`` > 1 stacks key-shifted copies of the tables that carry keys,
with one offset per copy shared by every shifted key so foreign keys stay
joinable. The seed draws the offsets and the row order of every table.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
SHIFT_KEYS = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
STRIDE = 10**9
ROW_GROUP = 50_000  # several row groups per file, so scans split across cores


def _copies(t: pa.Table, name: str, offsets: list[int]) -> pa.Table:
    keys = SHIFT_KEYS.get(name)
    if not keys or offsets == [0]:
        return t
    parts = []
    for off in offsets:
        c = t
        for k in keys:
            col = c.column(k)
            c = c.set_column(c.schema.get_field_index(k), k, pc.add(col, pa.scalar(off, col.type)))
        parts.append(c)
    return pa.concat_tables(parts)


def build(out_dir: str, seed: int, tables: list[str], copies: int = 1) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for each table; returns row counts."""
    rng = np.random.default_rng(seed)
    if copies == 1:
        offsets = [0]
    else:
        offsets = [i * STRIDE + int(rng.integers(0, 10**8)) for i in range(copies)]
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name in tables:
        t = _copies(pq.read_table(os.path.join(BASE_DIR, f"{name}.parquet")), name, offsets)
        t = t.take(pa.array(rng.permutation(t.num_rows)))
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), row_group_size=ROW_GROUP)
        rows[name] = t.num_rows
    return rows
