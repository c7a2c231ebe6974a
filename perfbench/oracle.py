"""Correctness gate: digests of the engine's outputs against DuckDB.

The canonical form is tools/check_oracle.py's own `canon` and `kind`
(imported, so this gate and that oracle compare cannot drift apart):
columns sorted by name, every cell rendered with repr() (full round-trip
precision for floats), rows sorted, plus each column's rendering kind,
so a DECIMAL-vs-DOUBLE difference fails as it does in that
compare. A digest is the sha256 of that form.

Expected digests are memoized under perfbench/.oracle_memo, one file per
sha256(oracle SQL + input fingerprint): a repeated input pays the DuckDB
run once per checkout, and a changed query or input is a different key.
"""
import hashlib
import importlib.util
import json
import os
import threading

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
_spec = importlib.util.spec_from_file_location(
    "check_oracle", os.path.join(HERE, "..", "tools", "check_oracle.py"))
check_oracle = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_oracle)

TABLES = check_oracle.TABLES

# A single oracle query may take this long before it is interrupted and
# its job counted as failed; DuckDB also gets a memory cap so a runaway
# oracle cannot exhaust the machine.
QUERY_TIMEOUT_S = 30
MEMORY_LIMIT = "2GB"

MEMO_DIR = os.path.join(HERE, ".oracle_memo")


def digest(rel, con=None):
    """(sha256 hex, row count) of a DuckDB relation's canonical form;
    with `con`, the fetch is interrupted after QUERY_TIMEOUT_S."""
    timer = threading.Timer(QUERY_TIMEOUT_S, con.interrupt) if con else None
    if timer:
        timer.start()
    try:
        fetched = rel.fetchall()
    finally:
        if timer:
            timer.cancel()
    cols, rows = check_oracle.canon(fetched, rel.columns)
    kinds = {c: check_oracle.kind(t) for c, t in zip(rel.columns, rel.types)}
    h = hashlib.sha256()
    h.update(json.dumps([[c, kinds[c]] for c in cols]).encode())
    for r in rows:
        h.update(json.dumps(r).encode())
        h.update(b"\n")
    return h.hexdigest(), len(rows)


def connect(data_dir, temp_dir=None):
    con = duckdb.connect()
    con.execute(f"SET memory_limit = '{MEMORY_LIMIT}'")
    if temp_dir:
        con.execute(f"SET temp_directory = '{temp_dir}'")
        con.execute(f"SET max_temp_directory_size = '{MEMORY_LIMIT}'")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def expected(con, sql, fingerprint):
    """Memoized (digest, rows) of the oracle SQL over the input."""
    key = hashlib.sha256((sql + "\0" + fingerprint).encode()).hexdigest()
    path = os.path.join(MEMO_DIR, key + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return tuple(json.load(f))
    value = digest(con.sql(sql), con)
    os.makedirs(MEMO_DIR, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(list(value), f)
    os.replace(tmp, path)
    return value


def check(data_dir, fingerprint, warm_dir, oracle_sql, jobs,
          temp_dir=None):
    """{job: None if the output matches its oracle, else the reason}."""
    con = connect(data_dir, temp_dir)
    verdict = {}
    for job in jobs:
        sql = oracle_sql.get(job)
        out = os.path.join(warm_dir, job)
        if sql is None:
            verdict[job] = "no oracle SQL"
            continue
        if not os.path.isdir(out):
            verdict[job] = "no output"
            continue
        try:
            want = expected(con, sql, fingerprint)
            got = digest(con.sql(f"SELECT * FROM '{out}/*.parquet'"), con)
        except Exception as e:  # noqa: BLE001 - any failure fails the job
            verdict[job] = f"error: {e}"
            continue
        verdict[job] = None if got == want else (
            f"digest mismatch: {got[1]} rows vs oracle {want[1]}")
    return verdict
