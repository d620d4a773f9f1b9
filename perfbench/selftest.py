"""Self-test of the benchmark at tiny input sizes.

    python3 perfbench/selftest.py [workload ...]

For every workload in BENCHMARK.json (or the ones named), runs
``run.py --tiny`` three times and checks that:

* ``--trace 0`` reports every end-to-end metric as a number, with the
  operations it attempted and none failed;
* ``--trace 1`` reports every per-layer metric as a number;
* ``--corrupt`` (one checked output deliberately damaged) is reported
  as a failed operation and ``correct: false``.

Exits non-zero on the first workload that fails a check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, *flags: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--tiny", *flags]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def check_metrics(result: dict, names: list[str]) -> None:
    metrics = result["metrics"]
    missing = [n for n in names if n not in metrics]
    assert not missing, f"metrics missing: {missing}"
    bad = [n for n in names if not isinstance(metrics[n]["value"], (int, float))]
    assert not bad, f"non-numeric metrics: {bad}"
    assert result["attempted"] >= 1, result


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = sys.argv[1:] or [w["name"] for w in bench["workloads"]]
    e2e = [m["name"] for m in bench["end_to_end"]]
    layers = [m["name"] for m in bench["per_layer"]]
    for w in workloads:
        clean = run(w, "--trace", "0")
        check_metrics(clean, e2e)
        assert clean["correct"] and clean["failed"] == 0, clean
        check_metrics(run(w, "--trace", "1"), layers)
        broken = run(w, "--trace", "0", "--corrupt")
        assert broken["failed"] >= 1 and not broken["correct"], broken
        print(f"{w}: ok ({clean['attempted']} ops checked, corruption detected)", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
