"""Pre-commit preflight — the fast gate that would have caught round 7.

Round 7 shipped an edit that broke `import queries` (a decorator
f-string referencing a helper defined 950 lines later); every
downstream harness was itself dark because they all import the same
module, so nothing flagged it until the driver ran. This script is the
cheap, self-contained check to run BEFORE every commit that touches
engine source:

1. cold-import smoke in a SUBPROCESS (so a broken module can't take
   this harness down with it): `__spark_entry__` must import, register
   the same number of queries and oracles, and `entry()` must return
   rows at sf0.001;
2. oracle parity for exactly the queries most likely to be wrong —
   the `_PRIORITY` pins (plan/oracle changed after their last green)
   and `_NEW_PARITY_ONLY` (brand new) — at sf0.01.

Total cost ~2 min. The full sweeps (tools/parity.py over everything,
plan_audit, empty_scan, determinism_probe, bench) remain the per-round
deep verification; this is the per-commit floor.

Usage: python tools/preflight.py            # smoke + focused parity
       python tools/preflight.py --smoke    # smoke only (~30 s)
"""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SMOKE = r"""
from pyspark.sql import SparkSession
spark = SparkSession.builder.master("local[8]").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as E
qs, os_ = E.queries(), E.oracle_sql()
assert len(qs) == len(os_), (len(qs), len(os_))
rows = E.entry(spark).collect()
assert rows, "entry() returned no rows"
print(f"SMOKE OK: {len(qs)} queries, entry rows={len(rows)}")
"""


def main() -> None:
    print("[1/2] cold-import smoke (subprocess)...")
    r = subprocess.run(
        [sys.executable, "-c", SMOKE], capture_output=True, text=True, cwd=ROOT
    )
    tail = (r.stdout.strip().splitlines() or [""])[-1]
    if r.returncode != 0:
        print("SMOKE FAILED:")
        print(r.stderr[-3000:])
        sys.exit(1)
    print(" ", tail)
    if "--smoke" in sys.argv:
        return

    from data_integration_and_visualization_uc3m_spark import queries as q

    focus = [
        n
        for n in (*q._PRIORITY, *q._NEW_PARITY_ONLY)
        if n in q.REGISTRY
    ]
    if not focus:
        print("[2/2] no pinned or new queries — smoke is the whole gate.")
        return
    print(f"[2/2] focused parity on {len(focus)} pinned/new queries...")
    r = subprocess.run(
        [sys.executable, "tools/parity.py", "/root/testdata/sf0.01", *focus],
        cwd=ROOT,
    )
    if r.returncode != 0:
        sys.exit(1)
    print("PREFLIGHT OK")


if __name__ == "__main__":
    main()
