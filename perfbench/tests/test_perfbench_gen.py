"""Seeded input generator: same seed, same files; other seed, same rows
in another layout; replicas with disjoint keys.

Runs on a small synthetic source, so it needs neither Spark nor the
sf0.1 tables.
"""

import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import gen


@pytest.fixture
def source(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    n = 200
    tables = {
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"N{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(1, 51), pa.int64()),
            "c_nationkey": pa.array([i % 25 for i in range(50)], pa.int32()),
            "c_name": [f"C{i}" for i in range(50)],
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(range(1, n + 1), pa.int64()),
            "o_custkey": pa.array([1 + i % 50 for i in range(n)], pa.int64()),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array([1 + i // 3 for i in range(3 * n)], pa.int64()),
            "l_quantity": [float(i) for i in range(3 * n)],
        }),
    }
    for name, tbl in tables.items():
        pq.write_table(tbl, src / f"{name}.parquet")
    return str(src)


def file_hashes(root):
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


def rows(root, table):
    return pq.read_table(os.path.join(root, f"{table}.parquet")).to_pylist()


def test_same_seed_gives_identical_files(source, tmp_path):
    a = gen.generate("connector_nightly", 7, str(tmp_path / "a"), source)
    b = gen.generate("connector_nightly", 7, str(tmp_path / "b"), source)
    assert a == b
    assert file_hashes(tmp_path / "a") == file_hashes(tmp_path / "b")


def test_other_seed_reorders_the_same_rows(source, tmp_path):
    gen.generate("connector_nightly", 7, str(tmp_path / "a"), source)
    gen.generate("connector_nightly", 8, str(tmp_path / "b"), source)
    ra, rb = rows(tmp_path / "a", "lineitem"), rows(tmp_path / "b", "lineitem")
    # the replica offsets are seeded too, so compare the keys modulo
    # the replica stride
    def content(rs):
        return sorted((r["l_orderkey"] % 10_000_000, r["l_quantity"]) for r in rs)

    assert [r["l_quantity"] for r in ra] != [r["l_quantity"] for r in rb]
    assert content(ra) == content(rb)


def test_each_table_is_split_into_equal_files(source, tmp_path):
    manifest = gen.generate("connector_nightly", 3, str(tmp_path / "a"), source)
    files = sorted(os.listdir(tmp_path / "a" / "orders.parquet"))
    assert len(files) == gen.FILES_PER_TABLE
    sizes = [
        pq.ParquetFile(tmp_path / "a" / "orders.parquet" / f).metadata.num_rows for f in files
    ]
    assert max(sizes) - min(sizes) <= 1
    assert manifest["orders"]["rows"] == 200 * gen.REPLICAS
    assert manifest["orders"]["bytes"] > 0


def test_replicas_have_disjoint_keys_and_intact_joins(source, tmp_path):
    gen.generate("connector_nightly", 5, str(tmp_path / "a"), source)
    orders = rows(tmp_path / "a", "orders")
    customers = {r["c_custkey"] for r in rows(tmp_path / "a", "customer")}
    keys = [r["o_orderkey"] for r in orders]
    assert len(set(keys)) == len(keys) == 200 * gen.REPLICAS
    assert {r["o_custkey"] for r in orders} <= customers
    line_keys = {r["l_orderkey"] for r in rows(tmp_path / "a", "lineitem")}
    assert line_keys == set(keys)
    nations = {r["n_nationkey"] for r in rows(tmp_path / "a", "nation")}
    assert {r["c_nationkey"] for r in rows(tmp_path / "a", "customer")} <= nations


def test_replica_offsets_depend_on_the_seed(source, tmp_path):
    def offsets(seed):
        out = str(tmp_path / f"s{seed}")
        gen.generate("connector_nightly", seed, out, source)
        return {r["o_orderkey"] // 10_000_000 for r in rows(out, "orders")}

    a, b = offsets(1), offsets(2)
    assert len(a) == len(b) == gen.REPLICAS
    assert a <= set(range(gen.SLOTS)) and a != b
