"""Z-order (Morton) clustering keys for multi-dimensional data skipping.

A 100 TB table queried by BOTH customer and date cannot sort by either
alone: linear sort on one key scatters the other, so min/max file
statistics prune only one dimension. Interleaving the bits of the two
keys (the Morton / Z-order curve) gives one sort key whose contiguous
ranges are small rectangles in (a, b) space — files written in z-key
order carry tight min/max bounds on BOTH columns, which is exactly
what Delta/Iceberg `OPTIMIZE ZORDER BY` exploits.

Everything here is exact 64-bit integer arithmetic (the classic
parallel-prefix bit-spread: 5 shift-or-mask steps per dimension), JVM
codegen'd end to end — no UDF — and bit-reproducible by the oracle's
identical shift/mask SQL.

Scale: computing the key is map-side; clustering a table is then
``df.repartitionByRange(F.col("zkey")).sortWithinPartitions("zkey")``
followed by the normal parquet write — each task covers one z-range.

No counterpart in the reference (its Postgres tables are a few
thousand rows with btree PKs, schema.sql:20-40 — physical layout is
irrelevant at that size); this is a SURVEY §7 phase-E extension for
the 100 TB warehouse the engine targets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# parallel-prefix spread masks for 16→32-bit interleave (public-domain
# "Interleave bits by Binary Magic Numbers" construction)
_SPREAD_STEPS = [
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
]


def spread_bits16(col: F.Column) -> F.Column:
    """Spread the low 16 bits of ``col`` so bit i lands at bit 2i.
    Pure shift/and/or chain — whole-stage-codegen'd, branch-free."""
    x = col.bitwiseAND(F.lit(0xFFFF))
    for shift, mask in _SPREAD_STEPS:
        x = (x.bitwiseOR(F.shiftleft(x, shift))).bitwiseAND(F.lit(mask))
    return x


def morton_key16(col_a: F.Column, col_b: F.Column) -> F.Column:
    """32-bit Morton key from the low 16 bits of two non-negative
    integer columns: a's bits at even positions, b's at odd."""
    return spread_bits16(col_a).bitwiseOR(F.shiftleft(spread_bits16(col_b), 1))


def zorder_bucket_stats(
    df: DataFrame,
    col_a: str,
    col_b: str,
    bucket_shift: int = 24,
) -> DataFrame:
    """Clustering-quality report: bucket rows by the top bits of their
    Morton key (each bucket ≈ one output file under a z-ordered
    write) and measure the min/max span of BOTH source dimensions per
    bucket — the exact statistics a reader's skipping logic would use.
    Tight per-bucket spans on both columns = effective 2-D pruning."""
    zk = morton_key16(F.col(col_a), F.col(col_b)).alias("zkey")
    keyed = df.select(F.col(col_a).alias("a"), F.col(col_b).alias("b"), zk)
    return (
        keyed.groupBy(F.shiftright(F.col("zkey"), bucket_shift).alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("a").alias("min_a"),
            F.max("a").alias("max_a"),
            F.min("b").alias("min_b"),
            F.max("b").alias("max_b"),
            (F.max("a") - F.min("a")).alias("span_a"),
            (F.max("b") - F.min("b")).alias("span_b"),
        )
    )
