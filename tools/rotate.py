"""Round-start rotation helper: fold driver verdicts into the registry.

Usage: python tools/rotate.py CORRECTNESS_rNN.json

Reads ALL CORRECTNESS_r*.json records in the repo root (the argument
just names the newest one, and is sanity-checked to be among them) and
prints, ready to paste into queries/_rotation.py:
  1. the updated ``_PRIOR_VERIFIED`` frozenset (union of every green),
  2. the ``_LAST_GREEN`` dict (most recent green round per query) that
     ``_rotated()`` uses to re-verify the stalest greens first,
  3. names that FAILED in the newest record (fix and pin in
     ``_PRIORITY``),
  4. ``_NEW_PARITY_ONLY`` / ``_PRIORITY`` leftovers that did not reach
     the window (keep them queued),
so the start-of-round bookkeeping that round 7 fumbled (stale greens,
unpinned re-plumbs, hand-maintained counts) is mechanical. This tool
only PRINTS — the edit stays a reviewed, committed change.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _passed(v) -> bool:
    # driver record shape (observed r02-r08): {"rows_match": bool,
    # "schema_match": bool, "hash_match": bool, ..., "err": ...}
    if isinstance(v, dict):
        flags = [
            bool(v.get(k))
            for k in ("rows_match", "schema_match", "hash_match",
                      "match", "ok", "passed", "value_match")
            if k in v
        ]
        return bool(flags) and all(flags) and not v.get("err")
    return bool(v)


def main() -> None:
    newest_path = sys.argv[1]
    newest = json.load(open(newest_path))
    from data_integration_and_visualization_uc3m_spark import queries as Q

    # Most-recent green round per query, across every record on disk.
    last: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(
            os.path.dirname(os.path.abspath(newest_path)) or ".",
            "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r0*(\d+)", os.path.basename(path)).group(1))
        for n, v in json.load(open(path)).items():
            if n in Q.REGISTRY and _passed(v):
                last[n] = max(last.get(n, 0), rnd)

    greens = {n for n, v in newest.items() if n in Q.REGISTRY and _passed(v)}
    reds = {n for n, v in newest.items() if n in Q.REGISTRY and not _passed(v)}
    merged = sorted(last)
    never = [n for n in Q.REGISTRY if n not in last]
    print(f"# newest record: {len(greens)} green, {len(reds)} red "
          f"(of {len(newest)} recorded)")
    print(f"# union: {len(merged)} driver-green of {len(Q.REGISTRY)} "
          f"registered; never verified: {len(never)}")
    if reds:
        print("# FAILED — fix and pin in _PRIORITY:")
        for n in sorted(reds):
            print(f"#   {n}")
    leftovers_new = [n for n in Q._NEW_PARITY_ONLY if n not in newest]
    leftovers_pin = [n for n in Q._PRIORITY if n not in newest]
    if leftovers_pin:
        print(f"# _PRIORITY never reached the window (investigate): "
              f"{leftovers_pin}")
    if leftovers_new:
        print(f"# _NEW_PARITY_ONLY still queued ({len(leftovers_new)}): "
              f"{leftovers_new}")

    body = ", ".join(f'"{n}"' for n in merged)
    print("_PRIOR_VERIFIED: frozenset[str] = frozenset({")
    print(textwrap.fill(body, width=72, initial_indent="    ",
                        subsequent_indent="    "))
    print("})")
    print()
    rounds: dict[int, list[str]] = {}
    for n, r in last.items():
        rounds.setdefault(r, []).append(n)
    print("_LAST_GREEN: dict[str, int] = {}")
    for r in sorted(rounds):
        names = sorted(rounds[r])
        body = ", ".join(f'"{n}"' for n in names)
        print(f"_LAST_GREEN.update(dict.fromkeys([  "
              f"# round {r}: {len(names)} greens")
        print(textwrap.fill(body, width=72, initial_indent="    ",
                            subsequent_indent="    "))
        print(f"], {r}))")


if __name__ == "__main__":
    main()
