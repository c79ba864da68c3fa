"""Seeded input generator.

Reads the read-only sf0.1 star schema (the directory that
``scripts/scale_smoke.py`` names as ``SRC``) and writes a re-laid-out copy
that the program under test reads as its source directory.  The seed
decides the row order of every table and therefore which rows land in
which of the ``FILES_PER_TABLE`` parquet files; the file count and
file sizes stay fixed so that the task count does not vary by seed.

For ``connector_nightly`` the connector's four source tables are
replicated ``REPLICAS`` times with disjoint keys, the way
``scripts/scale_smoke.py`` upscales: replica ``r`` adds
``slot[r] * stride`` to every key column, where the slots are
``REPLICAS`` distinct values drawn by the seed from ``range(SLOTS)``.
Dates are shared, so each night's load grows with the replication
factor.
"""

from __future__ import annotations

import ast
import os
import zlib
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

QUERY_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
CONNECTOR_TABLES = ("nation", "customer", "orders", "lineitem")
FILES_PER_TABLE = 4
REPLICAS = 10
SLOTS = 100
# Key column -> stride between replica slots.  Each stride exceeds the
# column's largest sf0.1 value, so replicas never share a key, and
# SLOTS * stride fits the column's type.
KEY_STRIDES = {
    "n_nationkey": 100,
    "c_nationkey": 100,
    "c_custkey": 1_000_000,
    "o_custkey": 1_000_000,
    "o_orderkey": 10_000_000,
    "l_orderkey": 10_000_000,
}


def source_dir(root: str) -> str:
    """The sf0.1 directory, as ``scripts/scale_smoke.py`` names it."""
    with open(os.path.join(root, "scripts", "scale_smoke.py")) as f:
        for node in ast.parse(f.read()).body:
            if isinstance(node, ast.Assign) and [getattr(t, "id", None) for t in node.targets] == ["SRC"]:
                return ast.literal_eval(node.value)
    raise LookupError("scripts/scale_smoke.py assigns no SRC")


def _rng(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng([seed, zlib.crc32(table.encode())])


def replicate(tbl: pa.Table, slots: list[int]) -> pa.Table:
    """Concatenate one copy of ``tbl`` per slot, shifting every key
    column named in KEY_STRIDES by ``slot * stride``."""
    copies = []
    for slot in slots:
        cols = []
        for name in tbl.column_names:
            col = tbl.column(name)
            if name in KEY_STRIDES:
                shifted = col.to_numpy() + slot * KEY_STRIDES[name]
                col = pa.array(shifted, type=col.type)
            cols.append(col)
        copies.append(pa.table(cols, names=tbl.column_names))
    return pa.concat_tables(copies)


def write_shuffled(tbl: pa.Table, path: str, rng: np.random.Generator) -> int:
    """Write ``tbl`` in a seeded row order as FILES_PER_TABLE equal
    parquet files under directory ``path``; return bytes written."""
    os.makedirs(path, exist_ok=True)
    parts = np.array_split(rng.permutation(tbl.num_rows), FILES_PER_TABLE)

    def write(i: int) -> int:
        f = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(tbl.take(pa.array(parts[i])), f, compression="snappy")
        return os.path.getsize(f)

    with ThreadPoolExecutor(FILES_PER_TABLE) as pool:
        return sum(pool.map(write, range(FILES_PER_TABLE)))


def generate(workload: str, seed: int, out_dir: str, source: str) -> dict:
    """Write the inputs of ``workload`` for ``seed`` into ``out_dir``;
    return ``{table: {"rows": n, "bytes": b}}``."""
    tables = CONNECTOR_TABLES if workload == "connector_nightly" else QUERY_TABLES
    slots = [int(s) for s in _rng(seed, "slots").choice(SLOTS, REPLICAS, replace=False)]
    manifest = {}
    for t in tables:
        tbl = pq.read_table(os.path.join(source, f"{t}.parquet"))
        if workload == "connector_nightly":
            tbl = replicate(tbl, slots)
        size = write_shuffled(tbl, os.path.join(out_dir, f"{t}.parquet"), _rng(seed, t))
        manifest[t] = {"rows": tbl.num_rows, "bytes": size}
    return manifest
