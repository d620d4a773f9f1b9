"""V1-V5 validators and the K2 idempotent upsert (FIXTURES §F6.1-F6.3:
dup keys in batch, exact re-run, FK orphans)."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_integration_and_visualization_uc3m_spark.operators import upsert, validate


def test_not_null_violations_tags_columns(spark):
    df = spark.createDataFrame(
        [(1, "a"), (None, "b"), (None, None)], "k int, name string"
    )
    got = validate.not_null_violations(df, ["k", "name"]).collect()
    tags = sorted(tuple(r.null_columns) for r in got)
    assert tags == [("k",), ("k", "name")]


def test_uniqueness_violations(spark):
    df = spark.createDataFrame(
        [("ESP", 2019), ("ESP", 2019), ("FRA", 2019)], "k string, y int"
    )
    got = validate.uniqueness_violations(df, ["k", "y"]).collect()
    assert [(r.k, r.y, r.n_rows) for r in got] == [("ESP", 2019, 2)]


def test_fk_violations(spark):
    fact = spark.createDataFrame([("ESP",), ("XXX",)], "k string")
    dim = spark.createDataFrame([("ESP",), ("FRA",)], "k string")
    got = validate.fk_violations(fact, dim, ["k"]).collect()
    assert [r.k for r in got] == ["XXX"]


def test_range_violations_null_counts_as_violation(spark):
    df = spark.createDataFrame([(5.0,), (-1.0,), (None,)], "v double")
    got = validate.range_violations(df, F.col("v") >= 0).collect()
    assert sorted([r.v for r in got], key=lambda x: (x is None, x)) == [-1.0, None]


def test_upsert_conflict_ignore_semantics(spark):
    target = spark.createDataFrame(
        [("ESP", 2019, 100), ("FRA", 2019, 200)], "k string, y int, v long"
    )
    batch = spark.createDataFrame(
        [
            ("ESP", 2019, 999),  # conflict → ignored, old value kept
            ("DEU", 2019, 300),  # fresh → appended
            ("DEU", 2019, 301),  # within-batch dup → first-wins
        ],
        "k string, y int, v long",
    )
    out = upsert.upsert_ignore(target, batch, keys=["k", "y"], order_by=["v"])
    got = {(r.k, r.y): r.v for r in out.collect()}
    assert got == {("ESP", 2019): 100, ("FRA", 2019): 200, ("DEU", 2019): 300}


def test_upsert_idempotent_double_run(spark):
    # SURVEY §5.4: run the load twice ⇒ identical table
    target = spark.createDataFrame([("A", 1)], "k string, v int")
    batch = spark.createDataFrame([("A", 9), ("B", 2)], "k string, v int")
    once = upsert.upsert_ignore(target, batch, ["k"])
    twice = upsert.upsert_ignore(once, batch, ["k"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_write_upsert_parquet_double_run_idempotent(spark, tmp_path):
    # SURVEY §5.4 on the MATERIALIZED path: two commits of the same
    # batch ⇒ identical live contents (and two distinct snapshots).
    root = str(tmp_path / "tbl")
    batch = spark.createDataFrame(
        [("A", 1, 10), ("A", 1, 11), ("B", 2, 20)], "k string, y int, v long"
    )
    s1 = upsert.write_upsert_parquet(root, batch, ["k", "y"], order_by=["v"])
    first = sorted(map(tuple, upsert.read_upsert_parquet(spark, root).collect()))
    s2 = upsert.write_upsert_parquet(root, batch, ["k", "y"], order_by=["v"])
    second = sorted(map(tuple, upsert.read_upsert_parquet(spark, root).collect()))
    assert s1 != s2
    assert first == second == [("A", 1, 10), ("B", 2, 20)]


def test_merged_plans_against_live_snapshot_without_a_job(spark, tmp_path):
    # the live snapshot is read with the batch's schema: planning the
    # next snapshot infers nothing, so it launches no Spark job
    root = str(tmp_path / "tbl")
    batch = spark.createDataFrame([("A", 1, 10), ("B", 2, 20)], "k string, y int, v long")
    upsert.write_upsert_parquet(root, batch, ["k", "y"], order_by=["v"])
    fresh = spark.createDataFrame([("A", 1, 5), ("C", 3, 30)], "k string, y int, v long")
    sc = spark.sparkContext
    sc.setJobGroup("merged_plan", "plan the next snapshot")
    try:
        merged, live = upsert._merged(root, fresh, ["k", "y"], ["v"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup("merged_plan")) == []
    assert live == upsert.current_snapshot(root)
    assert sorted(map(tuple, merged.collect())) == [
        ("A", 1, 10), ("B", 2, 20), ("C", 3, 30)
    ]


def test_write_upsert_parquet_crash_mid_write_leaves_old_snapshot(spark, tmp_path):
    # A half-written snapshot dir that the manifest never references
    # must be invisible to readers; the next successful commit flips
    # past it. Simulates a crash between snapshot write and manifest
    # flip by planting a garbage dir with no manifest update.
    root = str(tmp_path / "tbl")
    b1 = spark.createDataFrame([("A", 1)], "k string, v int")
    upsert.write_upsert_parquet(root, b1, ["k"])
    live_before = upsert.current_snapshot(root)

    import os

    orphan = os.path.join(root, "v-deadbeef0000")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-00000.parquet"), "wb") as fh:
        fh.write(b"\x00partial")  # torn write — not valid parquet

    # readers still see the committed snapshot
    assert upsert.current_snapshot(root) == live_before
    got = sorted(map(tuple, upsert.read_upsert_parquet(spark, root).collect()))
    assert got == [("A", 1)]

    # the next commit succeeds and ignores the orphan
    b2 = spark.createDataFrame([("B", 2)], "k string, v int")
    upsert.write_upsert_parquet(root, b2, ["k"])
    got2 = sorted(map(tuple, upsert.read_upsert_parquet(spark, root).collect()))
    assert got2 == [("A", 1), ("B", 2)]


def test_write_upsert_parquet_empty_table_read_raises(spark, tmp_path):
    import pytest

    with pytest.raises(FileNotFoundError):
        upsert.read_upsert_parquet(spark, str(tmp_path / "missing"))


def test_dedup_first_wins_deterministic(spark):
    df = spark.createDataFrame(
        [("A", 2, "second"), ("A", 1, "first"), ("B", 5, "only")],
        "k string, ord int, tag string",
    )
    out = upsert.dedup_batch_first_wins(df, ["k"], order_by=["ord"])
    got = {r.k: r.tag for r in out.collect()}
    assert got == {"A": "first", "B": "only"}


def test_upsert_replace_last_write_wins(spark):
    target = spark.createDataFrame(
        [("A", 1, 100), ("B", 1, 200)], "k string, y int, v long"
    )
    batch = spark.createDataFrame(
        [
            ("A", 1, 999),  # conflict → REPLACES old value
            ("A", 1, 998),  # within-batch dup → first-wins by order_by
            ("C", 1, 300),  # fresh → appended
        ],
        "k string, y int, v long",
    )
    out = upsert.upsert_replace(target, batch, keys=["k", "y"], order_by=["v"])
    got = {(r.k, r.y): r.v for r in out.collect()}
    assert got == {("A", 1): 998, ("B", 1): 200, ("C", 1): 300}


def test_compact_snapshot_preserves_data_and_history(spark, tmp_path):
    import glob
    import os

    from data_integration_and_visualization_uc3m_spark.operators import upsert

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    df = spark.createDataFrame([(i, i * 1.0) for i in range(1000)], "k long, v double")
    # stage a fragmented snapshot by hand (what many tiny foreachBatch
    # commits produce; a single upsert write would be AQE-coalesced)
    v1 = "v-fragmented0001"
    for part in range(16):
        df.filter((F.col("k") % 16) == part).coalesce(1).write.mode(
            "append"
        ).parquet(f"{root}/{v1}")
    with open(f"{root}/_CURRENT", "w") as fh:
        fh.write(v1)
    n_before = len(glob.glob(f"{root}/{v1}/*.parquet"))
    assert n_before >= 16
    v2 = upsert.compact_snapshot(spark, root, target_bytes=1 << 30)
    # live snapshot: same rows, one file
    live = upsert.read_upsert_parquet(spark, root)
    assert live.count() == 1000
    assert len(glob.glob(f"{root}/{v2}/*.parquet")) == 1
    assert upsert.current_snapshot(root) == v2
    # time travel: the pre-compaction snapshot is untouched
    old = spark.read.parquet(f"{root}/{v1}")
    assert old.count() == 1000
    assert len(glob.glob(f"{root}/{v1}/*.parquet")) == n_before


def test_commit_manifest_detects_concurrent_flip(spark, tmp_path):
    import os

    import pytest

    from data_integration_and_visualization_uc3m_spark.operators import upsert

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    df = spark.createDataFrame([(1, 1.0)], "k long, v double")
    v1 = upsert.write_upsert_parquet(root, df, ["k"])
    # simulate a concurrent writer flipping the manifest mid-compaction
    v_stale = upsert._commit_manifest(root, "v-concurrent", expect=v1)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        upsert._commit_manifest(root, "v-late", expect=v1)
    assert upsert.current_snapshot(root) == v_stale


def test_vacuum_keeps_live_and_recent_snapshots(spark, tmp_path):
    import os
    import time

    from data_integration_and_visualization_uc3m_spark.operators import upsert

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    df = spark.createDataFrame([(1, 1.0)], "k long, v double")
    versions = []
    for i in range(5):
        v = upsert.write_upsert_parquet(
            root, df.withColumn("v", df.v + i), ["k"], mode="replace"
        )
        os.utime(os.path.join(root, v), (time.time() + i, time.time() + i))
        versions.append(v)
    # stranded manifest temp from a "crashed" flip
    open(os.path.join(root, "_CURRENT.tmp-dead1234"), "w").write("x")
    deleted = upsert.vacuum(root, keep_last=2)
    assert set(deleted) == set(versions[:3])  # three oldest reclaimed
    assert not os.path.exists(os.path.join(root, "_CURRENT.tmp-dead1234"))
    # live snapshot still reads
    assert upsert.read_upsert_parquet(spark, root).count() == 1
    # recent history still time-travels
    assert spark.read.parquet(os.path.join(root, versions[-2])).count() == 1
    # aged-out history is gone
    assert not os.path.exists(os.path.join(root, versions[0]))


def test_vacuum_commit_order_survives_shuffled_mtimes(spark, tmp_path):
    # Retention must follow the manifest's commit history, not directory
    # mtimes — object stores and restores don't preserve them. Scramble
    # every snapshot's mtime and assert vacuum still keeps exactly the
    # newest committed versions.
    import os
    import random

    from data_integration_and_visualization_uc3m_spark.operators import upsert

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    df = spark.createDataFrame([(1, 1.0)], "k long, v double")
    versions = [
        upsert.write_upsert_parquet(
            root, df.withColumn("v", df.v + i), ["k"], mode="replace"
        )
        for i in range(6)
    ]
    rng = random.Random(7)
    times = [1_000_000_000 + 86400 * i for i in range(6)]
    rng.shuffle(times)  # oldest commit can look newest on disk
    for v, t in zip(versions, times):
        os.utime(os.path.join(root, v), (t, t))
    deleted = upsert.vacuum(root, keep_last=3)
    assert set(deleted) == set(versions[:3])
    for v in versions[3:]:
        assert spark.read.parquet(os.path.join(root, v)).count() == 1
    assert upsert.current_snapshot(root) == versions[-1]
    # history pruned to the survivors, order preserved
    assert upsert._read_history(root) == versions[3:]


def test_vacuum_orphans_cannot_displace_committed_versions(spark, tmp_path):
    # The ADVICE round-4 scenario: freshly-aborted commits leave orphan
    # dirs that LOOK newest; they must be reclaimed without consuming
    # keep_last slots that belong to committed versions.
    import os

    from data_integration_and_visualization_uc3m_spark.operators import upsert

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    df = spark.createDataFrame([(1, 1.0)], "k long, v double")
    versions = [
        upsert.write_upsert_parquet(
            root, df.withColumn("v", df.v + i), ["k"], mode="replace"
        )
        for i in range(4)
    ]
    # three orphans from "aborted commits", committed-counter or older
    # (reclaimable), plus one legacy-named torn dir
    live_seq = upsert._snapshot_seq(versions[-1])
    orphans = [
        f"v-{live_seq:08d}-aaaaaaaaaaaa",
        f"v-{max(0, live_seq - 1):08d}-bbbbbbbbbbbb",
        "v-deadbeef0000",
    ]
    for o in orphans:
        os.makedirs(os.path.join(root, o))
    # and one counter-AHEAD orphan: indistinguishable from an in-flight
    # write, must survive this vacuum pass
    inflight = f"v-{live_seq + 1:08d}-cccccccccccc"
    os.makedirs(os.path.join(root, inflight))

    deleted = upsert.vacuum(root, keep_last=3)
    # all three committed-retention versions survive (orphans consumed
    # no slots); only the oldest committed version + the orphans go
    assert set(deleted) == {versions[0], *orphans}
    for v in versions[1:]:
        assert spark.read.parquet(os.path.join(root, v)).count() == 1
    assert os.path.isdir(os.path.join(root, inflight))
    # a later commit supersedes the in-flight counter; next pass reaps it
    upsert.write_upsert_parquet(root, df, ["k"], mode="replace")
    deleted2 = upsert.vacuum(root, keep_last=3)
    assert inflight in deleted2


def test_expectation_report_single_pass_rules(spark):
    from pyspark.sql import functions as F

    from data_integration_and_visualization_uc3m_spark.operators import validate

    df = spark.createDataFrame(
        [(1, 10.0, "A"), (2, -5.0, "B"), (2, 20.0, "A"), (None, 7.0, "C")],
        "k int, v double, s string",
    )
    rep = {
        r.rule: r
        for r in validate.expectation_report(
            df,
            row_rules={
                "k_not_null": F.col("k").isNull(),
                "v_non_negative": F.col("v") < 0,
                "s_accepted": ~F.col("s").isin("A", "B"),
            },
            unique={"k_unique": ["k"]},
        ).collect()
    }
    assert rep["k_not_null"].n_violations == 1 and not rep["k_not_null"].passed
    assert rep["v_non_negative"].n_violations == 1
    assert rep["s_accepted"].n_violations == 1
    # count_distinct ignores NULL keys: 4 rows - 2 distinct non-null = 2
    assert rep["k_unique"].n_violations == 2
    assert all(r.n_rows == 4 for r in rep.values())


def test_delete_keys_idempotent_and_history_preserving(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    from data_integration_and_visualization_uc3m_spark.operators import upsert

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    df = spark.createDataFrame([(i, i * 10) for i in range(10)], "k int, v int")
    v1 = upsert.write_upsert_parquet(root, df, ["k"])
    tomb = spark.createDataFrame([(2,), (5,), (7,)], "k int")
    v2 = upsert.delete_keys_parquet(root, tomb, ["k"])
    live = upsert.read_upsert_parquet(spark, root)
    assert sorted(r.k for r in live.collect()) == [0, 1, 3, 4, 6, 8, 9]
    # time travel: pre-delete snapshot unchanged
    old = spark.read.parquet(os.path.join(root, v1))
    assert old.count() == 10
    # idempotent: re-deleting the same keys commits identical contents
    upsert.delete_keys_parquet(root, tomb, ["k"])
    again = upsert.read_upsert_parquet(spark, root)
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, live.collect()))


def test_merge_full_three_clauses(spark):
    from pyspark.sql import functions as F

    from data_integration_and_visualization_uc3m_spark.operators import upsert

    tgt = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "c")],
        "k long, v double, tag string",
    )
    src = spark.createDataFrame(
        [
            (2, 99.0, "ZZ", "U"),   # matched → update v only
            (3, 0.0, "ZZ", "D"),    # matched + D → delete
            (4, 40.0, "d", "U"),    # unmatched → insert
        ],
        "k long, v double, tag string, flag string",
    )
    out = {
        r.k: r
        for r in upsert.merge_full(
            tgt, src, keys=["k"], update_cols=["v"],
            delete_condition=F.col("src_flag") == "D",
        ).collect()
    }
    assert set(out) == {1, 2, 4}          # 3 deleted
    assert out[1].v == 10.0 and out[1].tag == "a"   # untouched
    assert out[2].v == 99.0 and out[2].tag == "b"   # v updated, tag kept
    assert out[4].v == 40.0 and out[4].tag == "d"   # full insert
