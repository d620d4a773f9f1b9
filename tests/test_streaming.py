"""Structured Streaming: file-source stream → memory sink, compared
against the batch twin (unified-API parity)."""

from __future__ import annotations

import pytest
from pyspark.errors import StreamingQueryException

from data_integration_and_visualization_uc3m_spark.sources.readers import load_table
from data_integration_and_visualization_uc3m_spark.streaming import drain, file_stream
from data_integration_and_visualization_uc3m_spark.streaming import events as se

SF = "/root/testdata/sf0.001"


def _prepare_stream_dir(spark, tmp_path) -> str:
    # materialize events (ts already converted from NANOS) as a stream
    # source directory of several files → several micro-batches
    src = load_table(spark, SF, "events")
    out = str(tmp_path / "events_stream")
    src.repartition(4).write.parquet(out)
    return out


def test_drain_reraises_a_failed_batch_and_stops_the_query(spark, tmp_path):
    src_dir = _prepare_stream_dir(spark, tmp_path)

    def sink(batch_df, epoch_id):
        raise RuntimeError("sink rejected the batch")

    with pytest.raises(StreamingQueryException, match="sink rejected the batch"):
        drain(
            file_stream(spark, se.EVENTS_STREAM_SCHEMA, src_dir)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
        )
    assert spark.streams.active == []


def test_stream_hourly_agg_matches_batch(spark, tmp_path):
    src_dir = _prepare_stream_dir(spark, tmp_path)
    stream_result = se.run_stream_to_memory(spark, src_dir, "t_hourly")
    batch_result = se.hourly_agg(spark.read.parquet(src_dir))
    a = sorted(map(tuple, stream_result.collect()))
    b = sorted(map(tuple, batch_result.collect()))
    assert a == b
    assert len(a) > 0


def test_stateful_running_totals(spark, tmp_path):
    src_dir = _prepare_stream_dir(spark, tmp_path)
    stream = file_stream(spark, se.EVENTS_STREAM_SCHEMA, src_dir, 2)
    drain(
        se.running_user_totals_exact(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("t_state")
    )
    # last update per user must equal the batch ground truth
    from pyspark.sql import functions as F

    got = spark.sql("SELECT * FROM t_state")
    # memory sink in update mode appends each state change; dedup to the
    # final row per user (max n_events is the last state)
    final = got.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("total_micros", "n_events").alias("total_micros"),
    )
    truth = (
        spark.read.parquet(src_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 1e6).cast("long")).alias("total_micros"),
        )
    )
    want = sorted(map(tuple, truth.collect()))
    assert want and sorted(map(tuple, final.collect())) == want


def test_stream_dedup_within_watermark(spark, tmp_path):
    from pyspark.sql import functions as F

    src = str(tmp_path / "dup_src")
    base = load_table(spark, SF, "events").limit(200)
    dupes = base.union(base)  # every event twice
    dupes.repartition(2).write.parquet(src)
    stream = file_stream(spark, se.EVENTS_STREAM_SCHEMA, src)
    drain(
        se.dedup_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_dedup")
    )
    got = spark.sql("SELECT count(DISTINCT event_id) AS d, count(*) AS n FROM t_dedup").first()
    assert got.d == got.n  # no duplicate ids delivered downstream
    assert got.n == base.count()


def test_foreach_batch_upsert_checkpoint_resume(spark, tmp_path):
    from data_integration_and_visualization_uc3m_spark.operators.upsert import (
        read_upsert_parquet,
    )

    src_dir = _prepare_stream_dir(spark, tmp_path)
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    se.run_stream_foreach_batch_upsert(spark, src_dir, target, ckpt)
    n_events = spark.read.parquet(src_dir).count()
    got = read_upsert_parquet(spark, target)
    assert got.count() == n_events
    # restart with the same checkpoint: no new source files ⇒ no new
    # batches replayed, target unchanged (exactly-once effect)
    se.run_stream_foreach_batch_upsert(spark, src_dir, target, ckpt)
    assert read_upsert_parquet(spark, target).count() == n_events


def test_stream_sliding_agg_matches_batch(spark, tmp_path):
    src_dir = _prepare_stream_dir(spark, tmp_path)
    stream_result = se.run_stream_to_memory(spark, src_dir, "t_sliding", agg=se.sliding_agg)
    batch_result = se.sliding_agg(spark.read.parquet(src_dir))
    a = sorted(map(tuple, stream_result.collect()))
    b = sorted(map(tuple, batch_result.collect()))
    assert a == b
    assert len(a) > 0
    # every event lands in exactly size/slide = 4 windows
    n_events = spark.read.parquet(src_dir).count()
    assert sum(r.n_events for r in batch_result.collect()) == 4 * n_events


def test_stream_static_enrich_broadcast(spark, tmp_path):
    from pyspark.sql import functions as F

    src_dir = _prepare_stream_dir(spark, tmp_path)
    users = spark.read.parquet(src_dir).select("user_id").distinct()
    # static dim covering half the users; left join keeps the rest
    dim = users.filter(F.col("user_id") % 2 == 0).withColumn(
        "segment", F.lit("even")
    )
    stream = file_stream(spark, se.EVENTS_STREAM_SCHEMA, src_dir, 2)
    drain(
        se.enrich_stream(stream, dim)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_enrich")
    )
    got = spark.sql("SELECT * FROM t_enrich")
    assert got.count() == spark.read.parquet(src_dir).count()  # left join keeps all
    assert got.filter(
        (F.col("user_id") % 2 == 0) & F.col("segment").isNull()
    ).count() == 0
    assert got.filter(
        (F.col("user_id") % 2 == 1) & F.col("segment").isNotNull()
    ).count() == 0


def test_stream_sessionized_agg_runs(spark, tmp_path):
    src_dir = _prepare_stream_dir(spark, tmp_path)
    result = se.run_stream_to_memory(
        spark, src_dir, "t_sessions", agg=se.sessionized_agg
    )
    rows = result.collect()
    assert len(rows) > 0
    assert all(r.n_events >= 1 for r in rows)


def test_stream_stream_attribution_join_matches_batch(spark, tmp_path):
    from pyspark.sql import functions as F

    src_dir = _prepare_stream_dir(spark, tmp_path)
    schema = load_table(spark, SF, "events").schema

    views_s = spark.readStream.schema(schema).parquet(src_dir).filter(
        F.col("event_type") == "view"
    )
    buys_s = spark.readStream.schema(schema).parquet(src_dir).filter(
        F.col("event_type") == "purchase"
    )
    joined = se.stream_stream_attribution_join(views_s, buys_s)
    q = (
        joined.writeStream.format("memory")
        .queryName("t_attrib")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_rows = sorted(map(tuple, spark.table("t_attrib").collect()))

    batch = spark.read.parquet(src_dir)
    batch_joined = se.stream_stream_attribution_join(
        batch.filter(F.col("event_type") == "view"),
        batch.filter(F.col("event_type") == "purchase"),
    )
    batch_rows = sorted(map(tuple, batch_joined.collect()))
    assert len(batch_rows) > 0
    assert stream_rows == batch_rows


def test_stream_lsh_dedup_index_semantics(spark, tmp_path):
    """Cross-batch near-dup filtering with index-all semantics: a doc
    colliding with ANY earlier doc's bands is dropped, even when that
    earlier doc was itself dropped; novel docs pass through."""
    import os
    import time

    from pyspark.sql import functions as F

    from data_integration_and_visualization_uc3m_spark.streaming.docs import (
        run_stream_lsh_dedup,
    )

    base_text = "the quick brown fox jumps over the lazy dog again and again"
    near = base_text + " extra"          # near-dup of base (shares shingles)
    novel = "completely different words about spark structured streaming state"
    rows = {
        0: [(1, base_text), (2, novel)],            # batch 0: both survive
        1: [(3, near)],                              # dropped vs doc 1
        2: [(4, near + " tail"), (5, "yet another unrelated document body")],
    }                                                # 4 dropped (hits 1 AND 3's
    #                                                  indexed bands), 5 survives
    src = str(tmp_path / "docs_src")
    os.makedirs(src)
    now = time.time()
    for c, docs in rows.items():
        df = spark.createDataFrame(
            [(i, t, "en", "unit", len(t)) for i, t in docs],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).repartition(1)
        tmp = str(tmp_path / f"stage{c}")
        df.write.mode("overwrite").parquet(tmp)
        import glob
        import shutil

        dst = f"{src}/chunk{c}.parquet"
        shutil.copyfile(glob.glob(f"{tmp}/part-*.parquet")[0], dst)
        os.utime(dst, (now + c, now + c))
    run_stream_lsh_dedup(
        spark,
        src,
        str(tmp_path / "out"),
        str(tmp_path / "idx"),
        str(tmp_path / "ckpt"),
    )
    kept = sorted(
        r.doc_id for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    assert kept == [1, 2, 5]
    # the index holds every incoming doc's bands (4 bands x 5 docs)
    idx = spark.read.parquet(str(tmp_path / "idx"))
    assert idx.select("doc_id").distinct().count() == 5
    assert idx.count() == 20


def test_stream_lsh_dedup_crash_replay_idempotent(spark, tmp_path):
    """At-least-once replay safety: crash AFTER an epoch's index write
    but BEFORE its checkpoint commit (simulated by deleting the last
    commit file) must reproduce the same survivor set on restart. The
    failure mode guarded against: an unfiltered index probe would see
    the replayed epoch's own buckets, collide every doc with itself,
    and overwrite that epoch's survivors with an empty set."""
    import glob
    import os
    import shutil
    import time

    from data_integration_and_visualization_uc3m_spark.streaming.docs import (
        read_survivors,
        run_stream_lsh_dedup,
    )

    base_text = "the quick brown fox jumps over the lazy dog again and again"
    near = base_text + " extra"
    novel = "completely different words about spark structured streaming state"
    rows = {
        0: [(1, base_text), (2, novel)],
        1: [(3, near)],
        2: [(4, near + " tail"), (5, "yet another unrelated document body")],
    }
    src = str(tmp_path / "docs_src")
    os.makedirs(src)
    now = time.time()
    for c, docs in rows.items():
        df = spark.createDataFrame(
            [(i, t, "en", "unit", len(t)) for i, t in docs],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).repartition(1)
        tmp = str(tmp_path / f"stage{c}")
        df.write.mode("overwrite").parquet(tmp)
        dst = f"{src}/chunk{c}.parquet"
        shutil.copyfile(glob.glob(f"{tmp}/part-*.parquet")[0], dst)
        os.utime(dst, (now + c, now + c))
    out, idx, ckpt = (str(tmp_path / d) for d in ("out", "idx", "ckpt"))
    run_stream_lsh_dedup(spark, src, out, idx, ckpt)
    kept_before = sorted(r.doc_id for r in read_survivors(spark, out).collect())
    assert kept_before == [1, 2, 5]

    # simulate the crash window: the sink's writes for the final epoch
    # are on disk, but the epoch never committed to the checkpoint
    commits = sorted(
        f
        for f in glob.glob(f"{ckpt}/commits/*")
        if os.path.basename(f).isdigit()
    )
    os.remove(commits[-1])
    crc = os.path.join(
        os.path.dirname(commits[-1]), f".{os.path.basename(commits[-1])}.crc"
    )
    if os.path.exists(crc):  # local ChecksumFileSystem sidecar
        os.remove(crc)

    run_stream_lsh_dedup(spark, src, out, idx, ckpt)  # restart → replay
    survivors = read_survivors(spark, out)
    kept_after = sorted(r.doc_id for r in survivors.collect())
    assert kept_after == [1, 2, 5]
    # schema seen by downstream readers: payload only, no epoch column
    assert survivors.columns == ["doc_id", "text", "lang", "source", "n_chars"]
    # index re-written idempotently: still 4 bands x 5 docs, no dupes
    idx_df = spark.read.parquet(idx)
    assert idx_df.count() == 20
    assert idx_df.select("doc_id").distinct().count() == 5


def test_foreach_batch_upsert_with_compaction(spark, tmp_path):
    """Compaction folded into the sink cadence: result identical, live
    snapshot file count reduced, crash-safety inherited from the
    manifest flip."""
    import glob
    import os

    from data_integration_and_visualization_uc3m_spark.operators import upsert

    src_dir = _prepare_stream_dir(spark, tmp_path)
    target = str(tmp_path / "tbl")
    os.makedirs(target)
    se.run_stream_foreach_batch_upsert(
        spark, src_dir, target, str(tmp_path / "ckpt"), compact_every=1
    )
    live = upsert.read_upsert_parquet(spark, target)
    batch = spark.read.parquet(src_dir)
    assert live.count() == batch.select("event_id").distinct().count()
    cur = upsert.current_snapshot(target)
    # compacted live snapshot: bounded file count (one per 128MB)
    assert len(glob.glob(f"{target}/{cur}/*.parquet")) == 1
    # maintenance cadence also vacuums: version history stays bounded
    n_versions = len(
        [d for d in os.listdir(target) if d.startswith("v-")]
    )
    assert n_versions <= 4  # keep_last=max(3, compact_every=1) + live


def test_watermark_drops_late_data_e2e(spark, tmp_path):
    """Watermark semantics proven end-to-end, not just API presence:
    a 30-minute watermark must (a) close and emit a window only once
    the watermark passes its end, and (b) silently DROP an event that
    arrives behind the watermark — the late row must not reopen or
    revise the closed window.

    Micro-batch nuance this test pins (measured, Spark 4.x): eviction
    happens at END of a batch, after that batch's input merges — so a
    late row arriving in the SAME batch where the watermark first
    crosses its window end still counts. Only a row arriving after its
    window's state was evicted in a PRIOR batch is dropped
    (numRowsDroppedByWatermark). Hence the spacer batch below."""
    import glob
    import os
    import shutil
    import time

    from pyspark.sql import functions as F

    def ev(eid, hhmm, value):
        return (eid, f"2024-03-01 {hhmm}:00", 1, "view", float(value), "{}")

    batches = {
        0: [ev(1, "10:00", 5.0), ev(2, "10:10", 7.0)],   # window [10,11)
        1: [ev(3, "13:00", 1.0)],   # → watermark 12:30 from next batch on
        2: [ev(4, "13:01", 2.0)],   # spacer: [10,11) evicted+emitted here
        3: [ev(5, "10:20", 100.0)],  # LATE (10:20 < 12:30, state gone) → dropped
    }
    src = str(tmp_path / "late_src")
    os.makedirs(src)
    now = time.time()
    for c, rows in batches.items():
        df = (
            spark.createDataFrame(
                rows, "event_id long, ts_s string, user_id long, "
                      "event_type string, value double, props string"
            )
            .select(
                "event_id",
                F.to_timestamp("ts_s").alias("ts"),
                "user_id", "event_type", "value", "props",
            )
            .repartition(1)
        )
        tmp = str(tmp_path / f"late_stage{c}")
        df.write.mode("overwrite").parquet(tmp)
        dst = f"{src}/chunk{c}.parquet"
        shutil.copyfile(glob.glob(f"{tmp}/part-*.parquet")[0], dst)
        os.utime(dst, (now + c, now + c))

    stream = file_stream(spark, se.EVENTS_STREAM_SCHEMA, src)
    out = str(tmp_path / "late_out")
    # started by hand, not through drain: the assertions below read the
    # query's progress
    q = (
        se.hourly_agg(stream)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "late_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.read.parquet(out).collect()
    # only the closed [10:00, 11:00) window is emitted; the 13:00 window
    # stays open (watermark never passes 14:00) and the late event is
    # gone — it neither revised the closed window nor re-opened it as a
    # fresh (wrong) second output row for the same window
    assert len(rows) == 1
    r = rows[0]
    assert r.hour_ts.hour == 10 and r.n_events == 2
    assert abs(r.total_value - 12.0) < 1e-9  # late 100.0 NOT included
    prog = [p for p in q.recentProgress if p["stateOperators"]]
    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0) for p in prog
    )
    assert dropped == 1  # the late row was dropped BY THE WATERMARK


def test_curate_stream_batch_parity_and_gate(spark):
    from pyspark.sql import functions as F

    from data_integration_and_visualization_uc3m_spark.operators.sampling import (
        HASH_SPACE,
        hash_bucket,
    )
    from data_integration_and_visualization_uc3m_spark.streaming.docs import (
        curate_stream,
    )

    rows = [
        (i, "the and of to in is a that words more filler " * 3, "en", "s0", 100)
        for i in range(20)
    ] + [
        # degenerate repetition: ttr → 1/30, no stopwords → z < 0
        (99, ("zz " * 30).strip(), "en", "s0", 89)
    ]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = curate_stream(d, keep_frac=0.5, seed="scur", tau=0.25).collect()
    ids = {r.doc_id for r in out}
    # every kept row passed the hash sampler
    thr = int(0.5 * HASH_SPACE)
    sampled = {
        r.doc_id
        for r in d.select(
            "doc_id", hash_bucket(F.col("doc_id"), "scur").alias("b")
        ).collect()
        if r.b < thr
    }
    assert ids <= sampled
    assert 99 not in ids  # quality gate
    assert all(r.score >= 0.25 for r in out)
    # stateless: applying twice is identical (deterministic)
    again = {r.doc_id for r in curate_stream(d, 0.5, "scur", 0.25).collect()}
    assert ids == again


def test_ann_index_sink_replay_idempotent(spark, tmp_path):
    # foreachBatch is at-least-once: redelivering an epoch (crash after
    # the state write, before the checkpoint commit) must leave the
    # index byte-identical to a single delivery — the epoch-scoped
    # overwrite + strictly-earlier-epoch reads make the replay pure.
    import random

    from pyspark.sql import functions as F

    from data_integration_and_visualization_uc3m_spark.streaming.ann import (
        make_index_sink,
        read_index_edges,
    )

    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)], i % 3)
            for i in range(40)]
    e = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    b0 = e.filter(F.col("vec_id") < 20)
    b1 = e.filter(F.col("vec_id") >= 20)

    state = str(tmp_path / "state")
    sink = make_index_sink(spark, state, k=3, cell_cap=64)
    sink(b0, 0)
    sink(b1, 1)
    once = sorted(map(tuple, read_index_edges(spark, state).collect()))

    state2 = str(tmp_path / "state2")
    sink2 = make_index_sink(spark, state2, k=3, cell_cap=64)
    sink2(b0, 0)
    sink2(b0, 0)  # replayed epoch 0
    sink2(b1, 1)
    sink2(b1, 1)  # replayed epoch 1
    twice = sorted(map(tuple, read_index_edges(spark, state2).collect()))
    assert once == twice and len(once) > 0
