"""Local oracle-parity harness — mimics the driver's correctness gate.

Runs every registered query on Spark AND its DuckDB oracle over the same
parquet tables, then compares: row count, column names, and values
(columns sorted by name, rows sorted by all columns, exact comparison
with a float report). Exact match here ⇒ the driver's order-insensitive
value hash will match.

Usage:  python tools/parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float) and math.isnan(v):
                v = None
            vals.append(v)
        out.append(tuple(vals))
    key = lambda t: tuple((v is None, str(v)) for v in t)
    return sorted(out, key=key), [cols[i] for i in order]


BAD_DUCK_TYPES = {"HUGEINT", "UHUGEINT"}


def compare(name, sdf, con, sql) -> bool:
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns
    # Type-strictness: the driver hashes the oracle-side value
    # REPRESENTATION, so an uncast // or SUM that DuckDB promotes to
    # int128 hash-mismatches Spark's int64 even when values are equal.
    rel = con.sql(sql)
    bad = [
        (c, str(t))
        for c, t in zip(rel.columns, rel.types)
        if str(t) in BAD_DUCK_TYPES
    ]
    if bad:
        print(f"  [{name}] ORACLE TYPE LEAK (int128 output): {bad}")
        return False
    res = con.execute(sql)
    dcols = [d[0] for d in res.description]
    drows = [tuple(r) for r in res.fetchall()]
    ok = True
    if sorted(scols) != sorted(dcols):
        print(f"  [{name}] COLUMN MISMATCH spark={sorted(scols)} duck={sorted(dcols)}")
        return False
    if len(srows) != len(drows):
        print(f"  [{name}] ROWCOUNT MISMATCH spark={len(srows)} duck={len(drows)}")
        ok = False
    sn, cols = normalize(srows, scols)
    dn, _ = normalize(drows, dcols)
    n_diff, max_float_diff = 0, 0.0
    for a, b in zip(sn, dn):
        if a != b:
            exact = True
            for x, y in zip(a, b):
                if x != y:
                    if isinstance(x, float) and isinstance(y, float):
                        max_float_diff = max(max_float_diff, abs(x - y))
                        exact = False
                    else:
                        exact = False
            n_diff += 1
            if n_diff <= 3:
                print(f"  [{name}] row diff:\n    spark={a}\n    duck ={b}")
    if n_diff:
        print(f"  [{name}] {n_diff} differing rows; max float delta={max_float_diff:.3e}")
        ok = False
    return ok


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from data_integration_and_visualization_uc3m_spark.session import get_spark
    import __spark_entry__ as E

    spark = get_spark("parity")
    con = duck_con(sf_dir)
    qs, oracles = E.queries(), E.oracle_sql()

    passed, failed, no_oracle = [], [], []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sql = oracles.get(name)
        if not sql:
            n = fn(spark, sf_dir).count()
            no_oracle.append(name)
            print(f"~ {name}: no oracle (rows={n})")
            continue
        try:
            ok = compare(name, fn(spark, sf_dir), con, sql)
        except Exception as ex:
            print(f"x {name}: ERROR {type(ex).__name__}: {ex}")
            failed.append(name)
            continue
        (passed if ok else failed).append(name)
        print(f"{'.' if ok else 'x'} {name}")
    print(
        f"\n{len(passed)} exact-match, {len(failed)} FAILED, "
        f"{len(no_oracle)} rows-only of {len(qs)} queries @ {sf_dir}"
    )
    if failed:
        print("FAILED:", ", ".join(failed))
        sys.exit(1)


if __name__ == "__main__":
    main()
