"""Order-insensitive result comparison against the DuckDB oracles.

A query's Spark result and its ``oracle_sql()`` twin (run by DuckDB over
the same parquet files) must agree on column names, row count and an
order-insensitive hash of the values.
"""

from __future__ import annotations

import hashlib
import math

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def _norm(v):
    """Engine-neutral value: Spark Rows and DuckDB dicts both become
    sorted (key, value) tuples, lists become tuples, NaN becomes None."""
    if hasattr(v, "asDict"):
        v = v.asDict()
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, float):
        return None if math.isnan(v) else v + 0.0
    if isinstance(v, bytearray):
        return bytes(v)
    return v


def digest(columns: list[str], rows: list) -> tuple[list[str], int, str]:
    """(sorted column names, row count, order-insensitive value hash)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return [columns[i] for i in order], len(rows), h


def mismatch(
    columns: list[str], rows: list, con: duckdb.DuckDBPyConnection, sql: str
) -> str | None:
    """None when a collected Spark result matches the oracle, else a reason."""
    s_cols, s_n, s_hash = digest(columns, rows)
    res = con.execute(sql)
    d_cols, d_n, d_hash = digest([d[0] for d in res.description], res.fetchall())
    if s_cols != d_cols:
        return f"columns spark={s_cols} oracle={d_cols}"
    if s_n != d_n:
        return f"rows spark={s_n} oracle={d_n}"
    if s_hash != d_hash:
        return "value hash differs"
    return None

