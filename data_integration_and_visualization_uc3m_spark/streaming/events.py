"""Structured Streaming over the events table.

Batch/stream parity by construction: the windowed aggregation here is
the same logical plan as the batch ``events_hourly`` query — Spark's
unified DataFrame semantics guarantee the results line up, and the
test drives both and compares.

Scale notes:
- watermark bounds state: late rows beyond 30 min are dropped, so
  state size is O(active windows × event types), not O(stream);
- ``session_window`` (:func:`sessionized_agg`, also the body of the
  sessionize runner) is the streaming twin of the batch lag-gap
  sessionization (queries.sessionize_events);
- custom per-user state is one operator,
  :func:`running_user_totals_exact` on applyInPandasWithState
  (transformWithStateInPandas needs ``protobuf``, which this engine
  does not require);
- sinks: memory (tests), foreachBatch → parquet/upsert (prod), with
  checkpointLocation for exactly-once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import drain, file_stream

# Streaming-side schema: ts arrives as a proper timestamp (streams
# wouldn't carry the testdata's NANOS quirk; the file-source test
# converts first).
EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def hourly_agg(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Tumbling 1-hour window per event_type: count + decimal-exact sum.
    Works on both batch and streaming DataFrames (unified API)."""
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    return (
        src.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.col("win.start").alias("hour_ts"), "event_type", "n_events", "total_value"
        )
    )


def sessionized_agg(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Streaming sessionization via ``session_window`` — the stateful
    twin of the batch lag-gap version. On a stream, a watermark the
    caller already set on ``ts`` is kept; otherwise ``gap`` is the
    watermark delay."""
    src = events
    has_watermark = "spark.watermarkDelayMs" in events.schema["ts"].metadata
    if events.isStreaming and not has_watermark:
        src = events.withWatermark("ts", gap)
    return (
        src.groupBy(F.session_window("ts", gap).alias("sess"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def running_user_totals_exact(events: DataFrame, timeout: str = "NoTimeout") -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running event count + value total carried across micro-batches.

    State is one (count, total) pair per user — O(users), watermark-
    independent, held in the checkpointed state store. The total
    accumulates FIXED-POINT micros (int64 of ``floor(value * 1e6)``)
    instead of floats, so the final state is bit-identical to a batch
    SQL ``SUM(CAST(FLOOR(value*1000000.0) AS BIGINT))`` regardless of
    batch boundaries or arrival order — the determinism convention
    (queries.py header rule 7) applied INSIDE a custom stateful Python
    operator. Emits cumulative totals per user on every batch; a
    replace-upsert sink keeps the latest.
    """
    from pyspark.sql.streaming.state import GroupState

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_micros", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("tot", T.LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        import numpy as np
        import pandas as pd

        n, tot = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # double*1e6 then floor: same IEEE ops as the SQL twin
            tot += int(
                np.floor(pdf["value"].to_numpy() * 1e6).astype("int64").sum()
            )
        state.update((n, tot))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_micros": [tot]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", timeout
    )


def run_stream_stateful_totals(
    spark: SparkSession,
    source_dir: str,
    target_path: str,
    checkpoint_dir: str,
) -> None:
    """Drive the exact stateful running-totals operator over a file
    stream; each micro-batch's cumulative rows REPLACE the per-user row
    in a versioned atomic table (last write wins), so after the stream
    drains the table holds the final per-user totals."""
    from ..operators.upsert import write_upsert_parquet
    from ..session import tune

    tune(spark)

    def sink(batch_df, epoch_id: int) -> None:
        write_upsert_parquet(target_path, batch_df, ["user_id"], mode="replace")

    stream = file_stream(spark, EVENTS_STREAM_SCHEMA, source_dir)
    drain(
        running_user_totals_exact(stream)
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
    )


def sliding_agg(
    events: DataFrame,
    size: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Sliding (hopping) window per event_type — each event lands in
    size/slide overlapping windows. Same unified-API shape as
    hourly_agg; the batch twin is the oracle-checked
    ``events_sliding_windows`` query."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", size, slide).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.col("win.start").alias("win_start"), "event_type", "n_events", "total_value"
        )
    )


def enrich_stream(
    events: DataFrame, dim: DataFrame, on: str = "user_id", how: str = "left"
) -> DataFrame:
    """Stream-static join: enrich each event with a (small) dimension.
    The static side is broadcast — re-read per micro-batch, never
    shuffled with the stream, and requires no state store at all
    (unlike stream-stream joins). This is the streaming twin of the
    reference's lookup-join (J2/J3) and the right plan for dimension
    enrichment at any scale."""
    return events.join(F.broadcast(dim), on, how)


def stream_stream_attribution_join(
    views: DataFrame,
    purchases: DataFrame,
    max_gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join: attribute each purchase to the same
    user's preceding view within ``max_gap``.

    Both sides carry watermarks so the state store evicts rows once
    they can no longer match (state is bounded by watermark + gap, the
    requirement for an unbounded-stream join to run forever). The join
    condition is equi on user_id plus an event-time interval — the
    canonical attribution shape. Works identically on batch frames
    (no watermark applied), which is how the test asserts parity.
    """
    v = views.select(
        F.col("user_id"),
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    )
    p = purchases.select(
        F.col("user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    if views.isStreaming:
        v = v.withWatermark("view_ts", watermark)
    if purchases.isStreaming:
        p = p.withWatermark("purchase_ts", watermark)
    return v.join(
        p,
        (v.user_id == p.user_id)
        & (p.purchase_ts > v.view_ts)
        & (p.purchase_ts <= v.view_ts + F.expr(f"INTERVAL {max_gap}")),
    ).select(
        v.user_id, "view_id", "purchase_id", "view_ts", "purchase_ts", "purchase_value"
    )


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exactly-once event dedup: drop duplicate event_ids
    within the watermark horizon (``dropDuplicatesWithinWatermark`` —
    state is bounded by the horizon, unlike plain dropDuplicates whose
    state grows forever on a stream). The streaming twin of the batch
    exact-dedup operator."""
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            ["event_id"]
        )
    return events.dropDuplicates(["event_id"])


def run_stream_foreach_batch_upsert(
    spark: SparkSession,
    source_dir: str,
    target_path: str,
    checkpoint_dir: str,
    compact_every: int | None = None,
) -> None:
    """Exactly-once-style sink: foreachBatch applies the K2 upsert per
    micro-batch into a parquet target, with a checkpoint so a restarted
    query resumes from the last committed batch instead of reprocessing.

    The upsert inside foreachBatch makes redelivered batches harmless
    (idempotent), which is the standard at-least-once → effectively-once
    recipe when the sink itself isn't transactional. The target is a
    VERSIONED upsert table (operators.upsert manifest-pointer commit):
    each micro-batch commits a fresh snapshot and atomically flips the
    manifest, so a crash mid-batch can never expose a torn table — read
    it back with ``operators.upsert.read_upsert_parquet``.

    ``compact_every=N`` folds snapshot MAINTENANCE into the sink
    cadence (every N-th epoch, after the upsert): compaction rewrites
    the small files that micro-batch commits accumulate, riding the
    same atomic manifest flip (a crash mid-compaction leaves the
    just-upserted snapshot live), and a retention-bounded vacuum
    reclaims snapshots older than the keep window — without it a
    long-running stream's version history grows one snapshot per
    epoch, unbounded.
    """
    from ..operators.upsert import compact_snapshot, vacuum, write_upsert_parquet
    from ..session import tune

    tune(spark)

    def sink(batch_df, epoch_id: int) -> None:
        write_upsert_parquet(target_path, batch_df, ["event_id"])
        if compact_every and epoch_id > 0 and epoch_id % compact_every == 0:
            compact_snapshot(spark, target_path)
            vacuum(target_path, keep_last=max(3, compact_every))

    stream = file_stream(spark, EVENTS_STREAM_SCHEMA, source_dir)
    drain(
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )


def run_stream_dedup_to_parquet(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "30 days",
) -> None:
    """Streaming exact-dedup end-to-end: file stream →
    ``dropDuplicatesWithinWatermark(event_id)`` → append parquet sink
    (exactly-once via checkpoint). Duplicate event deliveries across
    micro-batches land exactly once in the output.

    The wide default watermark keeps EVERY row inside the horizon for
    bounded replay tests (nothing is droppable as late, so the result
    is deterministic regardless of file order). PRECONDITION: that
    determinism holds only while the staged data's event-time span is
    <= the watermark — a wider span with out-of-order file replay can
    evict dedup state and re-emit old duplicates. Callers replaying a
    known slice should pass ``watermark = span + slack`` derived from
    the data (as `streaming_dedup_e2e` does). Production narrows it
    to the real redelivery window so state stays bounded.
    """
    from ..session import tune

    tune(spark)
    stream = file_stream(spark, EVENTS_STREAM_SCHEMA, source_dir)
    drain(
        dedup_stream(stream, watermark)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


def run_stream_attribution_to_parquet(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_gap: str = "30 minutes",
    watermark: str = "30 days",
) -> None:
    """Stream-stream interval join end-to-end: one file stream split
    into views and purchases, inner-joined on user within ``max_gap``,
    matches appended to parquet (exactly-once via checkpoint).

    The wide default watermark keeps both sides' state for the whole
    bounded replay, so every cross-micro-batch match is found no matter
    the file order — deterministic ≡ the batch interval join.
    Production narrows it to the real attribution horizon so state
    stays bounded (the join itself requires watermarks to evict)."""
    from ..session import tune

    tune(spark)
    stream = file_stream(spark, EVENTS_STREAM_SCHEMA, source_dir)
    views = stream.filter(F.col("event_type") == "view")
    purchases = stream.filter(F.col("event_type") == "purchase")
    joined = stream_stream_attribution_join(
        views, purchases, max_gap=max_gap, watermark=watermark
    )
    drain(
        joined.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


def run_stream_to_memory(
    spark: SparkSession,
    source_dir: str,
    query_name: str = "events_hourly_stream",
    agg=hourly_agg,
) -> DataFrame:
    """Drive a file-source stream to completion against a directory of
    parquet events (micro-batch per file), landing in a memory sink.
    Synchronous (:func:`drain`). Returns the result table."""
    from ..session import tune

    tune(spark)
    stream = file_stream(spark, EVENTS_STREAM_SCHEMA, source_dir)
    drain(
        agg(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
    )
    return spark.sql(f"SELECT * FROM {query_name}")


def run_stream_enrich_to_parquet(
    spark: SparkSession,
    source_dir: str,
    dim: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Stream-static enrichment e2e: file-source event stream joined
    per micro-batch against the broadcast static dimension
    (enrich_stream — stateless, no state store), appended to parquet
    through the exactly-once file-sink commit log. Output contents
    equal the batch join's, which is what the oracle asserts."""
    stream = file_stream(spark, EVENTS_STREAM_SCHEMA, source_dir, 2)
    drain(
        enrich_stream(stream, dim)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
    )


def run_stream_sessionized_to_parquet(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    gap: str = "30 minutes",
    watermark: str = "30 days",
) -> None:
    """Streaming sessionization end-to-end: file stream watermarked by
    ``watermark`` → :func:`sessionized_agg` (``session_window(gap)``
    per user) → APPEND-mode parquet sink.
    Append mode only emits a session once the watermark passes its
    end, so a bounded replay must (a) keep the watermark delay ≥ the
    staged span (files replay unordered — a narrower delay would drop
    old files' events as late), and (b) ship sentinel rows with
    event-times far past ``max_ts + gap + watermark`` in the LAST
    files staged, so the final micro-batches advance the watermark
    beyond every real session end and flush the state (callers filter
    the sentinel user back out). `streaming_sessionize_e2e` stages
    exactly this shape. Production instead runs continuously — the
    watermark advances with live data and sessions emit as they close.

    Session merge semantics pinned by test: an event exactly ``gap``
    after the previous one still MERGES (closed end), identical to the
    batch lag-gap rule "new session only when gap is strictly
    greater" — so the batch oracle and this stream agree bit-for-bit.
    """
    from ..session import tune

    tune(spark)
    stream = file_stream(spark, EVENTS_STREAM_SCHEMA, source_dir)
    drain(
        sessionized_agg(stream.withWatermark("ts", watermark), gap)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
