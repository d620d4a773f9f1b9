"""Streaming STATE-GROWTH probe — the 100 TB question for stateful
streams (VERDICT r11 ask #8): does state-store size track the stream's
LENGTH (fatal — an unbounded stream eventually OOMs every executor) or
only the WATERMARK WINDOW's density (fine — state is a constant the
operator sizes once)?

The oracle-gated e2e queries deliberately run a 30-DAY watermark so a
bounded, unordered file replay keeps every cross-batch match — their
peak state grows with the replay by design and says nothing about
production behavior. This probe runs the PRODUCTION shape instead:
the narrow 45-minute watermark (> the 30-minute join gap / session
gap), with the source staged as one file per 2-day time slice in
strict time order (sequential writes give monotone mtimes, which is
the file source's batch order), so the watermark advances as it would
on a live stream and eviction actually happens.

Protocol: the same generator at two stream lengths — 1× (the sf0.1
events, 100k rows / 30 days) and 10× (ten time-shifted copies, 1M
rows / 300 days, identical per-window density; event_ids uniquified).
A StreamingQueryListener records the peak ``stateOperators`` rows and
bytes across all micro-batches. WATERMARK-BOUNDED verdict = the 10×
peak within ~2× the 1× peak while output rows scale ~10× (state
tracks window density, not length); state growing ~10× would flag a
leak. Results land under ``streaming_state_growth`` in
BENCH_DETAIL.json.

Usage: python tools/streaming_state_probe.py  [$SPARK_GRAFT_SF_DIR]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DETAIL = os.path.join(ROOT, "BENCH_DETAIL.json")
WATERMARK = "45 minutes"
GAP = "30 minutes"
SLICE_DAYS = 2


class _StateCapture:
    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        cap = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                cap.n_batches += 1
                for so in event.progress.stateOperators:
                    cap.rows = max(cap.rows, so.numRowsTotal)
                    cap.bytes = max(cap.bytes, so.memoryUsedBytes)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _L()
        self.reset()

    def reset(self):
        self.rows = 0
        self.bytes = 0
        self.n_batches = 0


def stage_ordered(spark, k: int, work: str) -> str:
    """Stage k time-shifted copies of events as one parquet file per
    2-day slice, written sequentially so mtime order == time order."""
    from pyspark.sql import functions as F

    e = spark.read.parquet(f"{SF_DIR}/events.parquet")
    bounds = e.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).collect()[0]
    span_days = (bounds.hi - bounds.lo).days + 1
    copies = [
        e.select(
            (F.col("event_id") + i * 10_000_000_000).alias("event_id"),
            "user_id",
            "event_type",
            (F.col("ts") + F.expr(f"INTERVAL {i * span_days} DAYS")).alias("ts"),
            "value",
        )
        for i in range(k)
    ]
    big = copies[0]
    for c in copies[1:]:
        big = big.unionByName(c)
    big = big.persist()
    big.count()
    src = f"{work}/src"
    os.makedirs(src, exist_ok=True)
    n_slices = (span_days * k + SLICE_DAYS - 1) // SLICE_DAYS
    for s in range(n_slices):
        lo = F.lit(bounds.lo) + F.expr(f"INTERVAL {s * SLICE_DAYS} DAYS")
        hi = F.lit(bounds.lo) + F.expr(
            f"INTERVAL {(s + 1) * SLICE_DAYS} DAYS"
        )
        tmp = f"{work}/slice{s}"
        (
            big.filter((F.col("ts") >= lo) & (F.col("ts") < hi))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        parts = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
        if parts:
            os.replace(
                os.path.join(tmp, parts[0]),
                os.path.join(src, f"slice-{s:05d}.parquet"),
            )
        shutil.rmtree(tmp)
        time.sleep(0.02)  # distinct mtimes -> deterministic file order
    big.unpersist()
    return src


def run_attribution(spark, src: str, work: str) -> int:
    from data_integration_and_visualization_uc3m_spark.streaming import events

    out = f"{work}/attr_out"
    events.run_stream_attribution_to_parquet(
        spark, src, out, f"{work}/attr_ckpt", max_gap=GAP, watermark=WATERMARK
    )
    return spark.read.parquet(out).count()


def run_sessionize(spark, src: str, work: str) -> int:
    from data_integration_and_visualization_uc3m_spark.streaming import events

    out = f"{work}/sess_out"
    events.run_stream_sessionized_to_parquet(
        spark, src, out, f"{work}/sess_ckpt", gap=GAP, watermark=WATERMARK
    )
    return spark.read.parquet(out).count()


def main() -> None:
    from data_integration_and_visualization_uc3m_spark.session import get_spark, tune

    spark = get_spark("state-probe")
    tune(spark)
    cap = _StateCapture()
    spark.streams.addListener(cap.listener)

    report: dict[str, dict] = {}
    for name, runner in (
        ("attribution_join", run_attribution),
        ("sessionize", run_sessionize),
    ):
        rows = {}
        for k in (1, 10):
            from data_integration_and_visualization_uc3m_spark.scratch import scratch_dir
            work = scratch_dir(f"stateprobe_{name}_{k}x", clean=True)
            src = stage_ordered(spark, k, work)
            cap.reset()
            t0 = time.perf_counter()
            n_out = runner(spark, src, work)
            elapsed = round(time.perf_counter() - t0, 3)
            time.sleep(1.0)  # trailing listener events
            rows[f"{k}x"] = {
                "n_output_rows": n_out,
                "peak_state_rows": cap.rows,
                "peak_state_bytes": cap.bytes,
                "n_batches": cap.n_batches,
                "stream_sec": elapsed,
            }
            shutil.rmtree(work, ignore_errors=True)
        r1, r10 = rows["1x"], rows["10x"]
        ratio = (
            r10["peak_state_rows"] / r1["peak_state_rows"]
            if r1["peak_state_rows"]
            else None
        )
        rows["state_ratio_10x_vs_1x"] = (
            round(ratio, 2) if ratio is not None else None
        )
        rows["watermark_bounded"] = ratio is not None and ratio <= 2.0
        report[name] = rows
        print(json.dumps({name: rows}))

    meta = {
        "watermark": WATERMARK,
        "gap": GAP,
        "protocol": "one file per 2-day slice staged in time order; "
        "10x = ten time-shifted copies (same per-window density, "
        "10x stream length); bounded verdict = 10x peak state <= 2x "
        "the 1x peak",
        "sf_dir": SF_DIR,
        "operators": report,
    }
    try:
        detail = json.load(open(DETAIL))
    except (FileNotFoundError, json.JSONDecodeError):
        detail = {}
    # NOTE: bench.py preserves only a WHITELIST of foreign-owned
    # sections across its rewrites (`foreign_sections` in bench.py) —
    # renaming this key or adding a sibling section requires updating
    # that tuple in the same change.
    detail["streaming_state_growth"] = meta
    with open(DETAIL, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    print(json.dumps({"streaming_state_growth": "written to BENCH_DETAIL"}))


if __name__ == "__main__":
    main()
