"""Unit tests for operators.zorder (Morton clustering keys)."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_integration_and_visualization_uc3m_spark.operators import zorder


def _py_spread16(x: int) -> int:
    x &= 0xFFFF
    for shift, mask in [
        (8, 0x00FF00FF00FF00FF),
        (4, 0x0F0F0F0F0F0F0F0F),
        (2, 0x3333333333333333),
        (1, 0x5555555555555555),
    ]:
        x = (x | (x << shift)) & mask
    return x


def _py_morton(a: int, b: int) -> int:
    return _py_spread16(a) | (_py_spread16(b) << 1)


def test_morton_key_matches_reference_bit_math(spark):
    vals = [(0, 0), (3, 1), (1, 3), (65535, 0), (0, 65535), (12345, 54321)]
    df = spark.createDataFrame(vals, "a long, b long")
    got = {
        (r.a, r.b): r.z
        for r in df.select(
            "a", "b", zorder.morton_key16(F.col("a"), F.col("b")).alias("z")
        ).collect()
    }
    for a, b in vals:
        assert got[(a, b)] == _py_morton(a, b)
    # hand value: a=0b11 → 0b0101; b=0b01 → 0b0010 → z=0b0111
    assert got[(3, 1)] == 7


def test_morton_locality_beats_linear_sort(spark):
    # uniform grid: z-buckets must bound BOTH dims far tighter than a
    # one-dimensional sort's buckets bound the second dim
    rows = [(x, y) for x in range(0, 256, 4) for y in range(0, 256, 4)]
    df = spark.createDataFrame(rows, "a long, b long")
    stats = zorder.zorder_bucket_stats(df, "a", "b", bucket_shift=10).collect()
    assert len(stats) > 8
    # every z-bucket is a small rectangle: spans ≪ the 0..255 extents
    assert max(r.span_a for r in stats) <= 64
    assert max(r.span_b for r in stats) <= 64
    assert sum(r.n_rows for r in stats) == len(rows)


def test_zone_map_skipping_known_answers(spark, tmp_path):
    """Three synthetic files with hand-placed min/max: file 0 (all $50)
    is skippable for every predicate, file 1 (all $400k) only for the
    $500k predicate, file 2 (all $600k) never."""
    import datetime

    from data_integration_and_visualization_uc3m_spark import queries as Q

    d0 = datetime.datetime(2021, 1, 1)
    rows = (
        [(k, 1, "O", 50.0, d0, "1-X") for k in (10, 20)]
        + [(4096 + k, 1, "O", 400_000.0, d0, "1-X") for k in (1, 2)]
        + [(8192 + 5, 1, "O", 600_000.0, d0, "1-X")]
    )
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    ).write.parquet(f"{str(tmp_path)}/orders.parquet")
    out = {r.predicate: r for r in
           Q.REGISTRY["zone_map_skipping_report"].fn(
               spark, str(tmp_path)).collect()}
    assert set(out) == {"cents_gt_10000000", "cents_gt_30000000",
                        "cents_gt_50000000"}
    p1 = out["cents_gt_10000000"]   # > $100k: files {1,2} match
    assert (p1.n_files, p1.n_rows) == (3, 5)
    assert (p1.n_files_skipped, p1.n_rows_skipped) == (1, 2)
    assert p1.n_rows_matching == 3
    assert p1.skip_files_micro == 333_333
    p2 = out["cents_gt_30000000"]   # > $300k: same matches, same skips
    assert (p2.n_files_skipped, p2.n_rows_matching) == (1, 3)
    p3 = out["cents_gt_50000000"]   # > $500k: only file 2 matches
    assert (p3.n_files_skipped, p3.n_rows_skipped) == (2, 4)
    assert p3.n_rows_matching == 1
    assert p3.skip_files_micro == 666_666
