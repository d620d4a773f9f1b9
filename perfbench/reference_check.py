"""Compare the analytics queries on the generated tables and on reference tables.

    python3 perfbench/reference_check.py <reference_dir>

Generates the ``analytics_mix`` tables for seed 1 and runs every query of
the mix on them and on ``<reference_dir>``, a directory of
``<table>.parquet`` files at the mix's scale (sf0.01). For each query it
prints the result's row count and the median time of five runs into the
``noop`` sink, after one warm-up run, as a markdown table; the timed runs
alternate between the two directories. This checks the generator's
shape; it is not part of a benchmark run.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import time

import run

sys.path.insert(0, run.ROOT)

import datagen  # noqa: E402
import workloads  # noqa: E402

REPEATS = 5


def _profile(spark, fn, dirs: list[str], repeats: int) -> list[tuple[int, float]]:
    """(result rows, median noop-sink seconds) per directory; the timed
    runs alternate between the directories so drift hits both alike."""
    rows = [fn(spark, d).count() for d in dirs]
    for d in dirs:
        workloads.force(fn(spark, d))  # warm-up
    times: list[list[float]] = [[] for _ in dirs]
    for _ in range(repeats):
        for i, d in enumerate(dirs):
            t0 = time.perf_counter()
            workloads.force(fn(spark, d))
            times[i].append(time.perf_counter() - t0)
    return [(n, statistics.median(t)) for n, t in zip(rows, times)]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("reference_dir")
    args = ap.parse_args()
    mix = workloads.make("analytics_mix", tiny=False)

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(run.ROOT, ".perfbench_work", "reference_check")
    shutil.rmtree(work, ignore_errors=True)
    run._sandbox_env(work, cores)
    generated = os.path.join(work, "tables")
    datagen.write_tables(generated, 1, mix.sf)

    from data_integration_and_visualization_uc3m_spark import queries as Q
    from data_integration_and_visualization_uc3m_spark.session import get_spark

    spark = get_spark("perfbench-reference-check")
    spark.sparkContext.setLogLevel("ERROR")
    fns = Q.all_queries()
    print("| query | rows generated | rows reference | s generated | s reference |")
    print("|---|---:|---:|---:|---:|")
    totals = [0.0, 0.0]
    for name in mix.queries:
        (g_rows, g_s), (r_rows, r_s) = _profile(
            spark, fns[name], [generated, args.reference_dir], REPEATS)
        totals[0] += g_s
        totals[1] += r_s
        print(f"| `{name}` | {g_rows} | {r_rows} | {g_s:.3f} | {r_s:.3f} |", flush=True)
    print(f"| total | | | {totals[0]:.2f} | {totals[1]:.2f} |")
    run._stop(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
