"""K2 — conflict-ignoring idempotent upsert (SURVEY.md §2.2).

The reference loads with ``INSERT ... ON CONFLICT (keys) DO NOTHING``
(``crime_immigration_etl.py:335-368``; UNIQUE keys at
``schema.sql:57,81,104``). Plain Spark appends have no conflict
detection, so the semantics decompose into two relational steps:

1. within-batch first-wins dedup on the natural key (the within-batch
   effect of ON CONFLICT), and
2. left-anti join of the incoming batch against the existing target
   (the cross-batch effect), then union/append.

Run twice with the same batch ⇒ identical table (idempotency test in
``tests/``). With a transactional table format (Delta/Iceberg) this is
``MERGE INTO ... WHEN NOT MATCHED THEN INSERT``; those jars aren't in
this image, so the anti-join form is the portable core.

Scale: the anti-join shuffles on the natural key unless the target's
key set is broadcastable. For very large targets, partition the
warehouse by a key prefix so the anti-join prunes partitions, or keep a
bucketed key index table.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .slicing import top_k_per_group


def dedup_batch_first_wins(
    batch: DataFrame, keys: list[str], order_by: list[str] | None = None
) -> DataFrame:
    """A2 + SURVEY §7.4.3 — deterministic first-wins dedup.

    pandas ``drop_duplicates`` keeps the first row in file order
    (``crime_immigration_etl.py:199-203``); Spark's ``dropDuplicates``
    picks an arbitrary row. With ``order_by`` the pick is made
    deterministic via ``row_number``; without it, falls back to
    ``dropDuplicates`` (caller accepts nondeterminism).
    """
    if not order_by:
        return batch.dropDuplicates(keys)
    return top_k_per_group(batch, keys, [F.col(c) for c in order_by], 1)


def upsert_ignore(
    target: DataFrame,
    batch: DataFrame,
    keys: list[str],
    order_by: list[str] | None = None,
) -> DataFrame:
    """K2 — ON CONFLICT DO NOTHING as a DataFrame transform.

    Returns target ∪ (batch rows whose key is absent from target).
    Column order follows the target schema (unionByName).
    """
    incoming = dedup_batch_first_wins(batch, keys, order_by)
    fresh = incoming.join(target.select(*keys).dropDuplicates(keys), on=keys, how="left_anti")
    return target.unionByName(fresh.select(*target.columns))


def upsert_replace(
    target: DataFrame,
    batch: DataFrame,
    keys: list[str],
    order_by: list[str] | None = None,
) -> DataFrame:
    """ON CONFLICT DO UPDATE (last-write-wins) as a DataFrame
    transform — the `MERGE WHEN MATCHED THEN UPDATE SET *` twin of
    :func:`upsert_ignore`.

    Returns (target rows whose key is absent from the batch) ∪ the
    deduped batch: batch rows REPLACE conflicting target rows. The
    within-batch pick is first-wins under ``order_by`` (same
    determinism contract as upsert_ignore). One anti-join + union —
    the same shuffle shape as DO NOTHING, just mirrored.
    """
    incoming = dedup_batch_first_wins(batch, keys, order_by)
    kept = target.join(
        incoming.select(*keys).dropDuplicates(keys), on=keys, how="left_anti"
    )
    return kept.unionByName(incoming.select(*target.columns))


def merge_full(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    update_cols: list[str],
    delete_condition=None,
    order_by: list[str] | None = None,
) -> DataFrame:
    """Multi-clause MERGE as one DataFrame transform — the full
    lakehouse statement the two specialized upserts are halves of:

        WHEN MATCHED AND <delete_condition>  THEN DELETE
        WHEN MATCHED                         THEN UPDATE SET <update_cols>
        WHEN NOT MATCHED                     THEN INSERT *

    (target rows with no source match are kept unchanged.)

    One full-outer join on the key — the same single-shuffle shape as
    a plain join; each clause is a projection branch over the joined
    row, so Catalyst sees one plan, not three passes. The source is
    deduped first-wins under ``order_by`` (a MERGE with duplicate
    source keys is non-deterministic by definition; the dedup makes
    the statement idempotent and engine-portable).

    ``delete_condition``: a Column over the joined row (source columns
    visible under ``src_<name>``); None = no DELETE clause.
    """
    incoming = dedup_batch_first_wins(source, keys, order_by)
    src = incoming.select(
        *keys,
        *[
            F.col(c).alias(f"src_{c}")
            for c in incoming.columns
            if c not in keys
        ],
    ).withColumn("_src", F.lit(True))
    joined = target.withColumn("_tgt", F.lit(True)).join(
        src, on=keys, how="full_outer"
    )
    matched = F.col("_tgt").isNotNull() & F.col("_src").isNotNull()
    insert_only = F.col("_tgt").isNull()
    if delete_condition is not None:
        survives = ~(matched & delete_condition)
    else:
        survives = F.lit(True)
    value_cols = [c for c in target.columns if c not in keys]
    out_cols = [F.col(k) for k in keys]
    for c in value_cols:
        src_c = F.col(f"src_{c}")
        if c in update_cols:
            # matched → source value; insert → source value; else target
            out_cols.append(
                F.when(matched | insert_only, src_c)
                .otherwise(F.col(c))
                .alias(c)
            )
        else:
            out_cols.append(
                F.when(insert_only, src_c).otherwise(F.col(c)).alias(c)
            )
    return joined.filter(survives).select(*out_cols)


# ---------------------------------------------------------------------
# Materialized form: versioned snapshots + atomic manifest-pointer flip.
#
# Table layout under a root directory:
#     root/
#       _CURRENT          <- manifest: committed snapshot names, one
#                            per line, oldest first; LAST line is live
#       v-<seq>-<token>/  <- immutable parquet snapshots (seq = zero-
#                            padded monotonic commit counter)
#
# Commit protocol (the K3 "rollback" analogue without Delta/Iceberg
# jars): (1) write the merged result to a FRESH snapshot dir — a crash
# mid-write leaves only an orphan dir the manifest never references,
# so readers keep seeing the previous snapshot; (2) flip _CURRENT via
# write-temp + os.rename (atomic on POSIX local/NFS; on an object
# store the manifest is a single small PUT, equally all-or-nothing).
# A failed upsert therefore can never leave a half-written path as the
# only artifact (round-2 gap: the old code wrote to `path + "_new"`).
#
# The manifest doubles as the COMMIT HISTORY: because each flip
# rewrites the whole file atomically, "which snapshots committed, in
# what order" and "which is live" commit together — so vacuum's
# retention ordering never depends on directory mtimes (object stores
# and restores don't preserve them) and orphan dirs from aborted
# commits are exactly the v-* dirs absent from the manifest.
# ---------------------------------------------------------------------

_MANIFEST = "_CURRENT"


def _read_history(root: str) -> list[str]:
    """Committed snapshot names, oldest → newest (last = live).
    Empty list if the table has no committed snapshot. Pre-history
    single-line manifests read back as a one-entry history."""
    try:
        with open(os.path.join(root, _MANIFEST)) as fh:
            return [ln.strip() for ln in fh if ln.strip()]
    except OSError:
        return []


def _snapshot_seq(name: str) -> int | None:
    """Monotonic commit counter embedded in a snapshot name
    (``v-<seq>-<token>``), or None for pre-counter legacy names."""
    parts = name.split("-")
    if len(parts) == 3 and parts[1].isdigit():
        return int(parts[1])
    return None


def _next_snapshot_name(root: str) -> str:
    """Fresh snapshot name carrying the next commit counter. The seq
    continues from the LIVE snapshot's (falling back to the history
    length for legacy names), so ordering is total under the
    single-writer contract; the uuid token keeps names collision-free
    even when a crashed attempt already burned the same seq."""
    history = _read_history(root)
    last_seq = _snapshot_seq(history[-1]) if history else None
    seq = (last_seq + 1) if last_seq is not None else len(history)
    return f"v-{seq:08d}-{uuid.uuid4().hex[:12]}"


def _write_manifest(root: str, history: list[str]) -> None:
    """Atomically replace the manifest with ``history`` (live last):
    write a temp file, then ``os.replace`` it over the manifest."""
    tmp = os.path.join(root, f"{_MANIFEST}.tmp-{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as fh:
        fh.write("\n".join(history) + "\n")
    os.replace(tmp, os.path.join(root, _MANIFEST))  # the atomic commit point


def _commit_manifest(root: str, new_name: str, expect: str | None) -> str:
    """Atomically append ``new_name`` to the commit history and make it
    live. The flip is OPTIMISTICALLY GUARDED on ``expect`` (the live
    snapshot name the caller read, or None for "empty table"): if
    another writer committed since, raise instead of silently
    overwriting their snapshot (the new dir is left as an orphan for
    GC). The check-then-replace window is not a true CAS — single-
    writer-per-table remains the concurrency contract (as for any
    filesystem table format without a lock service) — but the guard
    shrinks the lost-update window from the full rewrite duration to
    microseconds."""
    history = _read_history(root)
    cur = history[-1] if history else None
    if cur != expect:
        raise RuntimeError(
            f"concurrent commit detected under {root}: expected manifest "
            f"{expect!r}, found {cur!r}; aborting flip "
            f"(orphan snapshot {new_name} left for GC)"
        )
    _write_manifest(root, [*history, new_name])
    return new_name


def _write_snapshot(root: str, df: DataFrame) -> str:
    """Write ``df`` to a fresh snapshot dir (step 1 of the protocol
    above) and return its name; nothing reads it until a flip."""
    new_name = _next_snapshot_name(root)
    df.write.mode("overwrite").parquet(os.path.join(root, new_name))
    return new_name


def current_snapshot(root: str) -> str | None:
    """Name of the live snapshot dir, or None if the table is empty."""
    history = _read_history(root)
    return history[-1] if history else None


def _live_snapshot(root: str) -> str:
    """Name of the live snapshot dir; raises if the table is empty."""
    name = current_snapshot(root)
    if name is None:
        raise FileNotFoundError(f"no committed snapshot under {root}")
    return name


def read_upsert_parquet(spark: SparkSession, root: str) -> DataFrame:
    """Read the live snapshot of a versioned upsert table."""
    return spark.read.parquet(os.path.join(root, _live_snapshot(root)))


def _merged(
    root: str,
    batch: DataFrame,
    keys: list[str],
    order_by: list[str] | None,
    mode: str = "ignore",
) -> tuple[DataFrame, str | None]:
    """The table's next snapshot — the live one merged with ``batch``
    (the deduped batch alone on an empty table) — and the live name
    the flip must be guarded on."""
    if mode not in ("ignore", "replace"):
        raise ValueError(f"mode must be 'ignore' or 'replace', got {mode!r}")
    cur = current_snapshot(root)
    if cur is None:
        return dedup_batch_first_wins(batch, keys, order_by), None
    # the live snapshot holds the batch's columns (first commit) or a
    # merge over them, so the batch schema reads it without an
    # inference job
    target = batch.sparkSession.read.schema(batch.schema).parquet(
        os.path.join(root, cur)
    )
    merge = upsert_ignore if mode == "ignore" else upsert_replace
    return merge(target, batch, keys, order_by), cur


def write_upsert_parquet(
    root: str,
    batch: DataFrame,
    keys: list[str],
    order_by: list[str] | None = None,
    mode: str = "ignore",
) -> str:
    """Versioned-table upsert with an atomic snapshot-swap commit (see
    protocol above). ``mode="ignore"`` = ON CONFLICT DO NOTHING;
    ``mode="replace"`` = last-write-wins (MERGE ... THEN UPDATE).
    Returns the committed snapshot name. Idempotent either way:
    re-running with the same batch commits identical contents."""
    merged, cur = _merged(root, batch, keys, order_by, mode)
    return _commit_manifest(root, _write_snapshot(root, merged), expect=cur)


def delete_keys_parquet(
    root: str,
    tombstones: DataFrame,
    keys: list[str],
) -> str:
    """DELETE on the versioned table (the right-to-be-forgotten path,
    completing CRUD next to ignore/replace upserts): the new snapshot
    is the live table anti-joined against the tombstone key set,
    committed through the SAME atomic manifest flip — so the deletion
    is all-or-nothing, time travel still reads the pre-delete
    versions (until `vacuum` ages them out, which is what actually
    forgets), and a crash mid-delete cannot tear the table. Idempotent:
    re-deleting the same keys commits an identical snapshot."""
    spark = tombstones.sparkSession
    cur = _live_snapshot(root)
    target = spark.read.parquet(os.path.join(root, cur))
    remaining = target.join(
        F.broadcast(tombstones.select(*keys).distinct()), keys, "left_anti"
    )
    return _commit_manifest(root, _write_snapshot(root, remaining), expect=cur)


def compact_snapshot(
    spark: SparkSession,
    root: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> str:
    """Small-files compaction as a new snapshot version.

    Micro-batch upserts (e.g. the streaming foreachBatch sink) commit
    many small snapshots whose SUCCESSOR tables inherit ever more
    small parquet files; at scale, scan cost becomes dominated by file
    OPEN overhead (footer reads, task scheduling) rather than bytes.
    Compaction rewrites the live snapshot into ``ceil(bytes /
    target_bytes)`` files and commits it through the SAME atomic
    manifest flip as an upsert — a crash mid-compaction leaves the
    previous snapshot live, and earlier snapshot versions stay
    readable (time travel is unaffected).

    The file count derives from the snapshot's actual on-disk bytes
    (driver-side dir listing — metadata only, no data read). coalesce()
    avoids a shuffle: compaction only narrows partitioning.
    """
    cur = _live_snapshot(root)
    src = os.path.join(root, cur)
    nbytes = sum(
        os.path.getsize(os.path.join(dirpath, f))
        for dirpath, _, files in os.walk(src)
        for f in files
        if f.endswith(".parquet")
    )
    n_files = max(1, -(-nbytes // target_bytes))  # ceil
    df = spark.read.parquet(src).coalesce(n_files)
    # expect=cur: if an upsert committed while we rewrote, abort the
    # flip instead of silently dropping its rows from the live table
    return _commit_manifest(root, _write_snapshot(root, df), expect=cur)


def vacuum(root: str, keep_last: int = 3) -> list[str]:
    """Snapshot GC — the retention side of the versioned-table
    lifecycle (write → read → time-travel → compact → VACUUM).
    Returns the names of the deleted snapshots.

    Retention is decided from the manifest's commit HISTORY, never
    from directory mtimes (object stores and restores don't preserve
    them): the ``keep_last`` newest COMMITTED versions (the live one
    always counts) stay readable for time travel; older committed
    versions are deleted and pruned from the history. Orphan dirs —
    v-* dirs absent from the history, left by crashes mid-write or
    flips aborted by the concurrency guard — can never displace a
    committed version from retention and are reclaimed unconditionally,
    EXCEPT an orphan whose commit counter is ahead of the live
    snapshot's, which is indistinguishable from a write in flight and
    is left for the next vacuum after that write commits or is
    superseded. Also removes stranded manifest temp files from crashed
    flips.

    Time-travel contract: readers holding a snapshot NAME older than
    ``keep_last`` committed versions lose it — exactly the
    Delta/Iceberg VACUUM trade-off, where retention bounds storage
    growth and defines how far back time travel reaches.
    """
    import shutil

    history = _read_history(root)
    committed = set(history)
    keep = set(history[-keep_last:]) if keep_last > 0 else set()
    if history:
        keep.add(history[-1])  # live, even with keep_last=0
    live_seq = _snapshot_seq(history[-1]) if history else None
    deleted = []
    for name in os.listdir(root):
        path = os.path.join(root, name)
        if name.startswith(f"{_MANIFEST}.tmp-") and os.path.isfile(path):
            os.unlink(path)  # stranded temp from a crashed flip
            continue
        if not (name.startswith("v-") and os.path.isdir(path)):
            continue
        if name in keep:
            continue
        if name not in committed:
            seq = _snapshot_seq(name)
            if seq is not None and (live_seq is None or seq > live_seq):
                continue  # possibly a write in flight — skip this pass
        shutil.rmtree(path)
        deleted.append(name)
    if any(name in committed for name in deleted):
        # prune reclaimed versions from the history (atomic rewrite,
        # live last — same commit point as a flip)
        _write_manifest(root, [n for n in history if n not in set(deleted)])
    return deleted


def table_history(spark: SparkSession, root: str) -> DataFrame:
    """DESCRIBE-HISTORY analogue: one row per committed version
    (ordinal + live row count), built from the manifest's commit log.
    The version list is metadata (driver-side, tiny by contract); the
    counts are lazy per-snapshot aggregates unioned into one plan, so
    nothing materializes until the caller acts. Time-travel reads of
    any listed version remain valid until `vacuum` retires it."""
    names = _read_history(root)
    if not names:
        raise FileNotFoundError(f"no committed snapshot under {root}")
    out = None
    for i, n in enumerate(names):
        d = spark.read.parquet(os.path.join(root, n)).agg(
            F.lit(i).alias("version"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        out = d if out is None else out.unionByName(d)
    return out
