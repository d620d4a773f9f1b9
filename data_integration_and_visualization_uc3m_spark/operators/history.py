"""Slowly-changing-dimension (SCD2) history tracking — MERGE emulation.

The reference's load is insert-only (ON CONFLICT DO NOTHING); real
warehouses also need "what changed" history. With no Delta/Iceberg jars
in this image, SCD2 is emulated relationally (the guide's documented
pattern: anti-join + union + window):

- rows are compared by a content hash of the tracked columns;
- a changed natural key closes the current version (valid_to set) and
  opens a new one;
- unchanged keys pass through untouched — no rewrite amplification
  beyond the changed partitions at scale.

With a transactional table format this whole module becomes
``MERGE INTO ... WHEN MATCHED AND hash<>hash THEN UPDATE/INSERT``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def snapshot_to_scd2(
    snapshot: DataFrame, keys: list[str], tracked: list[str], version: int
) -> DataFrame:
    """Bootstrap: turn a snapshot into an SCD2 table (all rows current)."""
    return snapshot.select(
        *keys,
        *tracked,
        F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in tracked])).alias(
            "row_hash"
        ),
        F.lit(version).alias("valid_from"),
        F.lit(None).cast("int").alias("valid_to"),
    )


def apply_changes(
    history: DataFrame,
    snapshot: DataFrame,
    keys: list[str],
    tracked: list[str],
    version: int,
) -> DataFrame:
    """Merge a new snapshot into the SCD2 history at ``version``.

    Decomposition (each step one relational op):
      changed   = current ⋈ snapshot where row_hash differs
      closed    = current versions of changed/deleted keys → valid_to=version
      new_rows  = snapshot rows whose (key, hash) isn't current → open version
      untouched = everything else, unchanged
    """
    incoming = snapshot_to_scd2(snapshot, keys, tracked, version)
    current = history.filter(F.col("valid_to").isNull())
    closed_hist = history.filter(F.col("valid_to").isNotNull())

    cur_keyed = current.select(
        *[F.col(k) for k in keys], F.col("row_hash").alias("cur_hash")
    )
    inc_keyed = incoming.select(
        *[F.col(k) for k in keys], F.col("row_hash").alias("inc_hash")
    )

    # keys whose content changed, plus keys absent from the snapshot
    changed_keys = (
        cur_keyed.join(inc_keyed, on=keys, how="left")
        .filter(
            F.col("inc_hash").isNull() | (F.col("inc_hash") != F.col("cur_hash"))
        )
        .select(*keys)
    )
    to_close = current.join(changed_keys, on=keys, how="left_semi").withColumn(
        "valid_to", F.lit(version)
    )
    still_open = current.join(changed_keys, on=keys, how="left_anti")

    # snapshot rows that are genuinely new content (new key OR new hash)
    new_rows = incoming.join(
        current.select(*keys, F.col("row_hash")), on=[*keys, "row_hash"], how="left_anti"
    )
    return closed_hist.unionByName(to_close).unionByName(still_open).unionByName(
        new_rows
    )


def current_view(history: DataFrame) -> DataFrame:
    return history.filter(F.col("valid_to").isNull())
