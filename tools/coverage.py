"""Print the operator-coverage report: every registered query with its
SURVEY §2 / extension operator tags, plus which have value oracles.

Usage: python tools/coverage.py
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    from data_integration_and_visualization_uc3m_spark.queries import REGISTRY

    by_op: dict[str, list[str]] = defaultdict(list)
    print(f"{len(REGISTRY)} registered queries "
          f"({sum(1 for q in REGISTRY.values() if q.oracle)} with value oracles):\n")
    for name, q in REGISTRY.items():
        kind = "oracle" if q.oracle else "rows-only"
        print(f"  {name:32s} [{kind}]  ops: {', '.join(q.ops)}")
        for op in q.ops:
            by_op[op].append(name)
    print("\nper-operator index:")
    for op in sorted(by_op):
        print(f"  {op:22s} → {', '.join(by_op[op])}")


if __name__ == "__main__":
    main()
