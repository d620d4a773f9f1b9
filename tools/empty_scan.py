"""Empty-result scan: flag registered queries returning ZERO rows.

A query whose result is empty at the checked SF passes the oracle
gate vacuously — rowcount 0 == 0, schema matches, hash of nothing
matches hash of nothing. This scan found five such queries in round 5
(predicates tuned to TPC-H assumptions this synthetic data doesn't
satisfy: '%green%' part names, 50% supplier dominance, customers with
no orders at all). Run it whenever queries or testdata change; a
legitimately-empty result (a violation audit on clean data, say)
belongs in ALLOWED_EMPTY with a comment.

Usage: python tools/empty_scan.py [sf_dir]
Exit 1 if any non-allowlisted query is empty.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# Queries that SHOULD be empty on healthy data (audits whose rows are
# violations). Keep this list justified — every entry is a query whose
# empty result is itself the assertion.
ALLOWED_EMPTY: dict[str, str] = {}


def main() -> None:
    from data_integration_and_visualization_uc3m_spark.session import get_spark
    import __spark_entry__ as E

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("empty-scan")
    spark.sparkContext.setLogLevel("ERROR")
    bad = []
    for name, fn in E.queries().items():
        try:
            n = fn(spark, sf_dir).count()
        except Exception as ex:  # noqa: BLE001
            bad.append(f"{name}: ERROR {type(ex).__name__}")
            continue
        if n == 0 and name not in ALLOWED_EMPTY:
            bad.append(f"{name}: 0 rows (vacuous oracle)")
    if bad:
        print("EMPTY-RESULT FLAGS:")
        for b in bad:
            print(" -", b)
        sys.exit(1)
    print(f"empty-result scan clean for {len(E.queries())} queries @ {sf_dir}")


if __name__ == "__main__":
    main()
