"""Deterministic mergeable frequency/membership sketches.

Completes the sketch family (HLL distinct counts and KLL quantiles via
Spark built-ins in `approx_sketches`; MinHash/SimHash in
operators/dedup.py) with the two classic stream-summary structures a
100 TB pipeline runs map-side:

* Count-Min sketch — fixed-size (depth × width) frequency summary;
  point estimates overcount but never undercount. Mergeable by cell
  addition, so partial sketches combine map-side exactly like any
  hash aggregation.
* Bloom filter — fixed-size membership summary with one-sided error
  (no false negatives); the standard build-side prefilter that prunes
  a big probe table BEFORE the real join shuffle.

Both are built from the repo's portable hash primitive (first 8 md5
hex chars as uint32 — operators/sampling.py:35), so every cell, bit,
estimate, and false-positive count is bit-reproducible on any engine:
unlike library sketches, these are oracle-checkable EXACTLY, not just
within error bounds.

Scale notes: a CMS is depth·width cells and a Bloom filter n_bits
rows regardless of input size — both broadcast; the input-side work
is a bounded-fanout explode (depth, resp. k, rows per input row) that
pre-combines map-side before the cell/bit aggregation. No counterpart
in the reference (it profiles eagerly in pandas,
crime_immigration_etl.py:255-275).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sampling import hash_bucket


def _cell(col: F.Column, row: int, width: int, seed: str) -> F.Column:
    """Deterministic CMS/Bloom cell index for hash row ``row``."""
    return hash_bucket(col, seed=f"{seed}{row}") % width


def cms_build(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    seed: str = "cms",
) -> DataFrame:
    """(r, col, c): Count-Min sketch of ``key_col`` frequencies.

    One bounded explode (depth rows per input row) feeding one hash
    aggregation over depth·width cells — partial aggregation collapses
    each task's contribution to ≤ depth·width rows before the shuffle,
    which is the map-side-mergeable property that makes CMS a
    streaming/scale structure."""
    cells = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        _cell(F.col(key_col), r, width, seed).alias("col"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("rc")
    )
    return cells.groupBy("rc.r", "rc.col").agg(F.count(F.lit(1)).alias("c"))


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    seed: str = "cms",
) -> DataFrame:
    """Point-estimate each key in ``keys``: min over the key's depth
    cells. The sketch side is depth·width rows — broadcast; the probe
    explodes each key into depth rows and re-collapses with a min, so
    estimation is map-side at any probe cardinality."""
    probes = keys.select(
        F.col(key_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        _cell(F.col(key_col), r, width, seed).alias("col"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("rc"),
    ).select(key_col, "rc.r", "rc.col")
    return (
        probes.join(F.broadcast(sketch), ["r", "col"])
        .groupBy(key_col)
        .agg(F.min("c").alias("cms_est"))
    )


def bloom_build(
    df: DataFrame,
    key_col: str,
    n_bits: int = 4096,
    k: int = 3,
    seed: str = "bloom",
) -> DataFrame:
    """(bit,): the set bits of a Bloom filter over the distinct keys.

    k bounded hash rows per key, then DISTINCT — at most n_bits rows
    regardless of input size, so the result always broadcasts."""
    return (
        df.select(
            F.explode(
                F.array(
                    *[
                        _cell(F.col(key_col), r, n_bits, seed).alias("bit")
                        for r in range(k)
                    ]
                )
            ).alias("bit")
        )
        .distinct()
    )


def bloom_pass_keys(
    probe: DataFrame,
    probe_col: str,
    bits: DataFrame,
    n_bits: int = 4096,
    k: int = 3,
    seed: str = "bloom",
) -> DataFrame:
    """Distinct probe keys that PASS the Bloom filter (all k bits set).

    The bits table broadcasts; each distinct probe key explodes into k
    bit probes, joins the broadcast bit set, and survives iff all k
    hit. One-sided: every true member passes (no false negatives); a
    bounded false-positive fraction also passes, which the downstream
    real join then discards — the point is pruning the probe table
    BEFORE its shuffle. Probing distinct KEYS (not rows) keeps the
    bounded explode proportional to the key cardinality."""
    return (
        probe.select(F.col(probe_col)).distinct()
        .select(
            F.col(probe_col),
            F.explode(
                F.array(
                    *[
                        _cell(F.col(probe_col), r, n_bits, seed)
                        for r in range(k)
                    ]
                )
            ).alias("bit"),
        )
        .join(F.broadcast(bits), "bit")
        .groupBy(probe_col)
        .agg(F.count(F.lit(1)).alias("__nhit"))
        .filter(F.col("__nhit") == k)
        .select(probe_col)
    )
