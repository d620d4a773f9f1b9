"""Benchmark entry point.

    python3 perfbench/run.py --workload star_etl --seed 1 --seconds 20 --trace 0

Generates the workload's inputs from ``--seed``, sets up the engine
(``get_spark`` + imports + one warmup operation: ``setup_s``), checks
outputs, then drives the workload closed-loop with one client for about
``--seconds`` seconds. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``; with ``--trace 1`` a second, traced loop
follows and the per-layer metrics are reported instead (spans go to
``.perfbench_work/<workload>/spans-seed<seed>.jsonl``). The line before
it is a JSON diagnostic (rounds, wall-clock times, host steal, input
sizes, host-noise yardstick, failure reasons).

All files the run creates live under ``.perfbench_work/`` at the root of
the checkout; every process it starts is stopped before it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _sandbox_env(work: str, cores: int) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TZ": "UTC",
        "TMPDIR": tmp,
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "spark-warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # every JVM, the spark-submit launcher's included
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    time.tzset()
    tempfile.tempdir = tmp


def _yardstick(spark, cores: int) -> float:
    """Host-noise diagnostic: a fixed CPU-bound hash-reduce on all cores,
    median of three (not a gated metric)."""
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 20_000_000, 1, 2 * cores).selectExpr(
            "bit_xor(xxhash64(id)) AS s").collect()
        runs.append(time.perf_counter() - t0)
    return statistics.median(runs)


WALL, CPU = 1, 2  # fields of a round's (label, wall seconds, CPU seconds) entries


def _rounds(wl, spark, tracer, rng, seconds: float, tally) -> list[list[tuple[str, float, float]]]:
    """A fixed number of rounds: as many as fill ``seconds`` at the
    workload's nominal round time (at least one). Fixing the count keeps
    a slow or fast first round from deciding how much is measured."""
    n = max(1, round(seconds / wl.round_s))
    return [wl.round(spark, tracer, rng, tally) for _ in range(n)]


def _per_round(rounds, field: int) -> float:
    """One round's total, summing each operation's median across rounds
    (one slow outlier op does not move it)."""
    by_op: dict[str, list[float]] = {}
    for r in rounds:
        for op in r:
            by_op.setdefault(op[0], []).append(op[field])
    return sum(statistics.median(v) for v in by_op.values())


def _percentiles(rounds, field: int) -> tuple[float, float]:
    p50, p90 = np.percentile([op[field] for r in rounds for op in r], [50, 90])
    return float(p50), float(p90)


def _stop(spark) -> None:
    """Stop Spark and the JVM, then wait for every child process to end."""
    from pyspark import SparkContext
    from spans import process_tree

    children = process_tree(os.getpid())[1:]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    for pid in children:
        while time.time() < deadline:
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)
        else:
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def end_to_end(rounds, setup_s: float) -> dict:
    """Set-up wall time, and the CPU the engine spends per round and per
    operation. Wall-clock figures of the loop go to the diagnostic line:
    on a shared VM, host steal spread them up to 55% (IQR / median)."""
    p50, p90 = _percentiles(rounds, CPU)
    return {
        "setup_s": (setup_s, "s"),
        "cpu_s": (_per_round(rounds, CPU), "s"),
        "op_cpu_p50_s": (p50, "s"),
        "op_cpu_p90_s": (p90, "s"),
    }


def _codegen_compiles(spark) -> int:
    """Whole-stage codegen classes Spark has compiled (Janino) so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def per_layer(wl, tracer, traced, cores: int, get_spark_s: float, yardstick_s: float,
              compiles: int) -> dict:
    from workloads import ANALYTICS

    spans = tracer.spans
    self_t = tracer.self_times()
    ops = [s for s in spans if s.name == "op"]
    n_ops, n_rounds = len(ops), len(traced)

    def per_op(name: str) -> float:
        return sum(self_t[s.id] for s in spans if s.name == name) / n_ops

    def counter(key: str, name: str | None = None) -> float:
        return sum(s.counters.get(key, 0) for s in spans if name in (None, s.name))

    run_ms = counter("executorRunTime")
    op_time = sum(s.duration for s in ops)
    new_rows = sum(wl.new_rows(s.attrs["batch"]) for s in ops if "batch" in s.attrs)
    out = {
        "session.get_spark_s": (get_spark_s, "s"),
        "queries.plan_s": (per_op("queries.plan"), "s"),
        "queries.exec_s": (per_op("queries.exec"), "s"),
        "queries.eager_jobs": (counter("jobs", "queries.plan") / n_ops, "count"),
    }
    for q in ANALYTICS:
        times = [s.duration for s in ops if s.attrs.get("query") == q]
        out[f"queries.{q}.s"] = (statistics.median(times) if times else 0.0, "s")
    out.update({
        "spark.shuffle_write_mb": (counter("shuffleWriteBytes") / 2**20 / n_rounds, "MB"),
        "spark.shuffle_read_mb": (counter("shuffleReadBytes") / 2**20 / n_rounds, "MB"),
        "spark.spill_mb": (counter("diskBytesSpilled") / 2**20 / n_rounds, "MB"),
        "spark.gc_s": (counter("jvmGcTime") / 1e3 / n_rounds, "s"),
        "spark.cpu_per_run": (counter("executorCpuTime") / 1e6 / run_ms if run_ms else 0.0,
                              "ratio"),
        "spark.core_util": (run_ms / 1e3 / (op_time * cores), "ratio"),
        "spark.jobs": (counter("jobs") / n_rounds, "count"),
        "spark.stages": (counter("stages") / n_rounds, "count"),
        "spark.tasks": ((counter("numCompleteTasks") + counter("numFailedTasks")) / n_rounds,
                        "count"),
        "spark.failed_tasks": (counter("numFailedTasks") / n_rounds, "count"),
        "spark.codegen_compiles": (compiles / n_rounds, "count"),
        "sources.ingest_api_s": (per_op("sources.ingest_api"), "s"),
        "sources.read_xlsx_s": (per_op("sources.read_xlsx"), "s"),
        "sources.read_csv_s": (per_op("sources.read_csv"), "s"),
        "plans.transform_s": (per_op("plans.transform"), "s"),
        "plans.validate_star_s": (per_op("plans.validate_star"), "s"),
        "plans.validate_jobs": (counter("jobs", "plans.validate_star") / n_ops, "count"),
        "operators.upsert.write_s": (per_op("operators.upsert.write"), "s"),
        "operators.upsert.vacuum_s": (per_op("operators.upsert.vacuum"), "s"),
        "operators.upsert.rows_written_per_new_row": (
            counter("outputRecords", "operators.upsert.write") / new_rows if new_rows else 0.0,
            "ratio"),
        "operators.upsert.bytes_written_mb": (
            counter("outputBytes", "operators.upsert.write") / 2**20 / n_ops, "MB"),
        "sinks.write_viz_csv_s": (per_op("sinks.write_viz_csv"), "s"),
        "harness.self_s": (per_op("op"), "s"),
        "trace.overhead_s": (tracer.overhead_s / n_rounds, "s"),
        "host.yardstick_s": (yardstick_s, "s"),
    })
    return out


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, HERE)
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test input sizes")
    ap.add_argument("--corrupt", action="store_true",
                    help="corrupt one checked output (self-test: must count as failed)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import data_integration_and_visualization_uc3m_spark  # noqa: F401
    except ImportError as exc:
        print(f"engine package not found next to {HERE}: {exc}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    _sandbox_env(work, cores)

    from spans import RssSampler, Tracer, steal_s

    phases = {}
    t_phase = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = round(now - t_phase, 3)
        t_phase = now

    wl = workloads.make(args.workload, args.tiny)
    wl.prepare(work, args.seed)  # input generation is not part of setup
    phase("generate")
    rng = np.random.default_rng([args.seed, 3])
    tally = workloads.Tally()
    import pyspark.sql  # noqa: F401  (library import, not engine setup)

    with RssSampler() as rss:
        t0 = time.perf_counter()
        from data_integration_and_visualization_uc3m_spark.session import get_spark

        spark = get_spark("perfbench")
        get_spark_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        wl.setup(spark)
        setup_s = time.perf_counter() - t0
        phase("setup")
        yardstick_s = _yardstick(spark, cores)
        wl.check(spark, tally, args.corrupt)
        phase("check")
        steal0 = steal_s()
        untraced = _rounds(wl, spark, Tracer(None, enabled=False), rng, args.seconds, tally)
        loop_steal_s = steal_s() - steal0
        phase("loop")
        if args.trace:
            tracer = Tracer(spark, enabled=True)
            compiles0 = _codegen_compiles(spark)
            traced = _rounds(wl, spark, tracer, rng, args.seconds, tally)
            compiles = _codegen_compiles(spark) - compiles0
            tracer.write(os.path.join(work, f"spans-seed{args.seed}.jsonl"))
            phase("traced_loop")
        _stop(spark)
        phase("stop")

    if args.trace:
        metrics = per_layer(wl, tracer, traced, cores, get_spark_s, yardstick_s, compiles)
    else:
        metrics = end_to_end(untraced, setup_s)
    wall_s = _per_round(untraced, WALL)
    op_p50_s, op_p90_s = _percentiles(untraced, WALL)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "rounds": len(untraced), "ops_per_round": len(untraced[0]),
        "round_walls_s": [sum(op[WALL] for op in r) for r in untraced],
        "round_cpus_s": [sum(op[CPU] for op in r) for r in untraced],
        # wall-clock figures are not gated: host steal (loop_steal_s, summed
        # over the VM's vCPUs) moves them more than it moves CPU time
        "wall_s": wall_s, "op_p50_s": op_p50_s, "op_p90_s": op_p90_s,
        "loop_steal_s": loop_steal_s,
        "input_rows_per_round": wl.input_rows,
        "rows_per_s": wl.input_rows / wall_s,
        "yardstick_s": yardstick_s,
        "peak_rss_mb": rss.peak_mb,
        "phases_s": phases,
        "failures": tally.reasons[:20],
    }))
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
