"""Output checks, run after the measured process has exited.

Query results are compared with DuckDB running the repository's
``oracle_sql()`` on the same generated directory, through the
canonicalisation in ``tests/oracle_harness.py``.  Queries without an
oracle are checked on row count.  The connector's final sink tables
are compared with a DuckDB recomputation of the loads the stages
should have made.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb

from perfbench.workloads import EXPECTED_ROWS, NIGHTS


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for entry in sorted(os.listdir(data_dir)):
        if entry.endswith(".parquet"):
            glob = os.path.join(data_dir, entry, "*.parquet")
            con.execute(
                f"CREATE VIEW {entry[: -len('.parquet')]} AS SELECT * FROM read_parquet('{glob}')"
            )
    return con


def content_digest(con) -> str:
    """Order-insensitive digest of every input table's rows."""
    h = hashlib.sha256()
    for (t,) in con.execute("SELECT view_name FROM duckdb_views() WHERE NOT internal ORDER BY 1").fetchall():
        row = con.execute(f"SELECT count(*), sum(hash(t)::HUGEINT) FROM {t} t").fetchone()
        h.update(f"{t}:{row[0]}:{row[1]};".encode())
    return h.hexdigest()


def oracle_digest(con, sql: str, cache_dir: str, inputs: str) -> dict:
    """The oracle's result digest.  It depends only on the SQL and the
    input rows, so it is kept under ``cache_dir`` keyed by both."""
    from oracle_harness import canon_frame

    key = hashlib.sha256((inputs + "\0" + sql).encode()).hexdigest()
    path = os.path.join(cache_dir, f"{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    pdf = con.execute(sql).df()
    out = {
        "cols": sorted(pdf.columns),
        "rows": len(pdf),
        "sha": hashlib.sha256("\n".join(canon_frame(pdf)).encode()).hexdigest(),
    }
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)
    return out


def check_queries(data_dir: str, results: dict, names: list[str], cache_dir: str) -> dict[str, str]:
    """Return ``{query: reason}`` for every query whose output did not
    match."""
    import __spark_entry__

    oracle = __spark_entry__.oracle_sql()
    con = connect(data_dir)
    inputs = content_digest(con)
    bad = {}
    for name in dict.fromkeys(names):
        got = results.get(name)
        if got is None:
            bad[name] = "no result captured"
        elif "error" in got:
            bad[name] = got["error"]
        elif name in oracle:
            want = oracle_digest(con, oracle[name], cache_dir, inputs)
            if got != want:
                bad[name] = f"got {got}, oracle {want}"
        elif got["rows"] != EXPECTED_ROWS.get(name):
            bad[name] = f"got {got['rows']} rows, expected {EXPECTED_ROWS.get(name)}"
    return bad


# Sink table -> (stage that writes it, [(column, type)], expected SQL).
# Both sides are projected to the same typed columns before hashing.
SINKS = {
    "users": ("load_users", [
        ("c_custkey", "BIGINT"), ("c_name", "VARCHAR"), ("c_mktsegment", "VARCHAR"),
        ("c_nationkey", "BIGINT"), ("c_acctbal", "DOUBLE"), ("verified", "BOOLEAN"),
    ], "SELECT *, NULL AS verified FROM customer"),
    "groups": ("load_groups", [
        ("group_id", "BIGINT"), ("group_name", "VARCHAR"), ("region_id", "BIGINT"),
    ], "SELECT n_nationkey AS group_id, n_name AS group_name, n_regionkey AS region_id FROM nation"),
    "group_members": ("load_group_members", [
        ("member_id", "BIGINT"), ("group_id", "BIGINT"), ("member_name", "VARCHAR"),
        ("load_source", "VARCHAR"),
    ], "SELECT c_custkey AS member_id, c_nationkey AS group_id, c_name AS member_name, "
       "'connector' AS load_source FROM customer"),
    "meetings": ("load_meetings", [
        ("o_orderkey", "BIGINT"), ("o_custkey", "BIGINT"), ("o_orderstatus", "VARCHAR"),
        ("o_totalprice", "DOUBLE"), ("o_orderdate", "TIMESTAMP"),
        ("o_orderpriority", "VARCHAR"), ("order_date", "DATE"),
    ], "SELECT * FROM loaded"),
    "participants": ("load_participants", [
        ("meeting_key", "BIGINT"), ("participant_id", "BIGINT"), ("duration", "DOUBLE"),
    ], "SELECT l_orderkey AS meeting_key, l_suppkey AS participant_id, l_quantity AS duration "
       "FROM lineitem JOIN loaded ON l_orderkey = o_orderkey"),
    "meeting_settings": ("load_meeting_settings", [
        ("meeting_key", "BIGINT"), ("enforce_login", "BOOLEAN"), ("waiting_room", "BOOLEAN"),
        ("meeting_authentication", "BOOLEAN"),
    ], "SELECT o_orderkey AS meeting_key, o_orderpriority = '1-URGENT' AS enforce_login, "
       "o_orderstatus = 'O' AS waiting_room, NULL AS meeting_authentication FROM loaded"),
}


def loaded_days_sql(nights: int) -> str:
    """Orders the meetings stage should have loaded: the earliest day,
    then each following calendar day, stopping at the first day with
    no orders (the stage's caught-up guard)."""
    return f"""
    WITH d AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS day FROM orders),
    first AS (SELECT min(day) AS d0 FROM d),
    run AS (
      SELECT day FROM d, first
      WHERE day < d0 + {nights}
        AND datediff('day', d0, day) = (
          SELECT count(*) FROM d AS e WHERE e.day > d0 AND e.day <= d.day)
    )
    SELECT *, CAST(o_orderdate AS DATE) AS order_date FROM orders
    WHERE CAST(o_orderdate AS DATE) IN (SELECT day FROM run)
    """


def _row_digest(con, sql: str, cols) -> tuple:
    proj = ", ".join(f"CAST({c} AS {t}) AS {c}" for c, t in cols)
    return con.execute(
        f"SELECT count(*), sum(hash(x)::HUGEINT) FROM (SELECT {proj} FROM ({sql})) x"
    ).fetchone()


def check_connector(data_dir: str, results: dict) -> dict[str, str]:
    """Return ``{stage: reason}`` for every stage whose sink table or
    returned count does not match the recomputed loads."""
    con = connect(data_dir)
    con.execute(f"CREATE VIEW loaded AS {loaded_days_sql(NIGHTS)}")
    bad = {}
    sink = results.get("sink")
    for table, (stage, cols, sql) in SINKS.items():
        path = os.path.join(sink or "", table)
        if not os.path.isdir(path):
            bad[stage] = f"sink table {table} missing"
            continue
        got = _row_digest(
            con,
            f"SELECT * FROM read_parquet('{path}/**/*.parquet', hive_partitioning = true)",
            cols,
        )
        want = _row_digest(con, sql, cols)
        if got != want:
            bad[stage] = f"{table}: got (rows, hash) {got}, expected {want}"
    (accounts,) = con.execute(
        "SELECT count(DISTINCT c_custkey) FROM customer "
        "WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)"
    ).fetchone()
    for name, night, count in results.get("counts", []):
        if name == "create_student_accounts" and count != accounts:
            bad[name] = f"night {night}: {count} accounts, expected {accounts}"
    return bad
