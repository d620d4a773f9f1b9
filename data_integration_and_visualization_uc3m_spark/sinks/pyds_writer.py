"""Spark 4 Python DataSource WRITER: an atomic JSONL directory sink.

Completes the Python DataSource surface next to sources/pyds.py (the
executor-side REST reader + streaming poller): this is the WRITE half
of the API — per-task `write(iterator)` running ON EXECUTORS, a typed
`WriterCommitMessage` per task, and the driver-side `commit`/`abort`
two-phase protocol. The visibility rule mirrors what a warehouse sink
must do (sinks/writers.py's stage-then-swap JDBC load, K3): tasks
write uniquely-named ``*.jsonl.tmp`` part files, and ONLY the driver's
commit renames them and writes the ``_MANIFEST.json`` — a reader that
honors the manifest can never observe a half-written dataset, and a
failed job (abort) leaves no visible parts behind, only an
``_ABORTED-<job>`` tombstone that late sibling tasks check.

Scale notes: each task streams its partition to its own part file
(no driver collect, no cross-task coordination until the O(#tasks)
commit-message list); on a real cluster ``path`` must be shared
storage (object store / DFS), which is the same contract every file
sink has. Values are JSON-encoded with ``default=str`` so timestamps
and decimals degrade to ISO strings rather than failing the task.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

MANIFEST = "_MANIFEST.json"


def _tombstone(path: str, job_id: str) -> str:
    return os.path.join(path, f"_ABORTED-{job_id}")


def _remove_quietly(path: str) -> None:
    try:
        os.remove(path)
    except FileNotFoundError:
        pass


def _drop_if_aborted(path: str, job_id: str, tmp: str) -> None:
    """Executor side, after a task closed its tmp part. Spark fails the
    job on the first task error WITHOUT waiting for sibling tasks, so
    the driver's abort() can sweep the directory while a sibling is
    still writing, and that sibling's tmp part lands after the sweep.
    abort() drops a job-scoped tombstone BEFORE it sweeps: a task that
    checks after the tombstone exists removes its own part, and a task
    that checked earlier created its part earlier still, so the sweep's
    listing holds it."""
    if os.path.exists(_tombstone(path, job_id)):
        _remove_quietly(tmp)


def _abort_sweep(path: str, job_id: str, messages) -> None:
    """Driver side: tombstone first, then remove every tmp part of
    this job — the ones named by commit messages and the orphans of
    tasks that never returned (matched on the job_id suffix). Other
    jobs writing to the same path keep their in-flight tmp parts."""
    os.makedirs(path, exist_ok=True)
    with open(_tombstone(path, job_id), "w", encoding="utf-8"):
        pass
    for m in messages:
        if m is not None:
            _remove_quietly(m.tmp_path)
    suffix = f"-{job_id}.jsonl.tmp"
    for name in os.listdir(path):
        if name.endswith(suffix):
            _remove_quietly(os.path.join(path, name))


@dataclass
class PartFileCommit(WriterCommitMessage):
    """One per successful task: where the tmp part landed, how many
    rows it holds, and which partition wrote it."""

    tmp_path: str
    n_rows: int
    partition_id: int


def _publish(path: str, name: str, messages, final_name, **head) -> set[str]:
    """Driver side: rename each task's tmp part to ``final_name(tmp)``,
    then publish manifest ``name`` atomically (tmp + rename). Returns
    the committed file names."""
    parts = []
    for m in messages:
        if m is None:
            continue
        final = final_name(m.tmp_path)
        os.replace(m.tmp_path, final)
        parts.append(
            {
                "file": os.path.basename(final),
                "n_rows": m.n_rows,
                "partition_id": m.partition_id,
            }
        )
    parts.sort(key=lambda p: p["file"])
    manifest = {
        **head,
        "n_rows": sum(p["n_rows"] for p in parts),
        "n_parts": len(parts),
        "parts": parts,
    }
    tmp = os.path.join(path, name + ".tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(path, name))
    return {p["file"] for p in parts}


def _sweep_committed(path: str, keep: set[str], prefix: str = "") -> None:
    """Remove committed ``{prefix}*.jsonl`` parts not in ``keep`` —
    called only AFTER the manifest that names ``keep`` is published."""
    for name in os.listdir(path):
        if name.startswith(prefix) and name.endswith(".jsonl") and name not in keep:
            os.remove(os.path.join(path, name))


class _JsonlPartWriter:
    """The half the batch and stream writers share: option checks, the
    job id, the executor-side part write and the abort sweep."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("jsonl_dir sink requires option 'path'")
        # test hook: raise inside the task for this partition id, to
        # exercise the abort path (negative = never)
        self.fail_partition = int(options.get("fail_partition", -1))
        # Job epoch: generated ONCE on the driver, pickled to every
        # task, and embedded in tmp part names so abort() can sweep
        # exactly this job's orphans — a concurrent writer to the same
        # path keeps its in-flight tmp files (ADVICE r10).
        self.job_id = uuid.uuid4().hex[:12]

    # -- executor side, once per task (per epoch on a stream) ----------
    def write(self, iterator: Iterator) -> PartFileCommit:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        os.makedirs(self.path, exist_ok=True)
        attempt = ctx.taskAttemptId() if ctx else 0
        # a stream's batchId is not exposed on the executor; uniqueness
        # comes from the attempt id + job id, epoch scoping happens at
        # commit time
        tmp = os.path.join(
            self.path,
            f"part-{pid:05d}-{attempt}-{self.job_id}.jsonl.tmp",
        )
        n = 0
        with open(tmp, "w", encoding="utf-8") as fh:
            for row in iterator:
                if pid == self.fail_partition:
                    raise RuntimeError(
                        f"injected failure in partition {pid}"
                    )
                fh.write(
                    json.dumps(row.asDict(), default=str, sort_keys=True)
                )
                fh.write("\n")
                n += 1
        _drop_if_aborted(self.path, self.job_id, tmp)
        return PartFileCommit(tmp_path=tmp, n_rows=n, partition_id=pid)

    def abort(self, messages, batchId: int | None = None) -> None:
        # messages can contain None for tasks that never returned — a
        # task that raised mid-write leaves an orphan tmp file that no
        # commit message names, so the sweep matches THIS JOB's
        # *.jsonl.tmp files on the job_id baked into every tmp name
        # (ADVICE r10). Committed parts lost their .tmp suffix at
        # rename and are never touched.
        _abort_sweep(self.path, self.job_id, messages)


class JsonlDirWriter(_JsonlPartWriter, DataSourceWriter):
    def __init__(self, options, overwrite: bool):
        super().__init__(options)
        self.overwrite = overwrite

    # -- driver side -----------------------------------------------------
    def commit(self, messages) -> None:
        # Publish the new manifest FIRST (atomic rename), THEN sweep
        # stale committed parts (ADVICE r10): a crash in between leaves
        # only orphan files that no manifest references — never a live
        # manifest naming deleted parts. Manifest-honoring readers stay
        # consistent through the whole window; manifest-ignoring
        # readers see merged data only inside it.
        keep = _publish(
            self.path, MANIFEST, messages, lambda tmp: tmp[: -len(".tmp")]
        )
        if self.overwrite:
            # mode("overwrite") must not leave prior committed parts
            # behind: a manifest-ignoring reader would see merged
            # stale+new data. Remove every committed *.jsonl not in the
            # just-published manifest (never tmp files of this job —
            # those were just renamed away).
            _sweep_committed(self.path, keep)


class JsonlDirDataSource(DataSource):
    """``df.write.format("jsonl_dir").option("path", d).save()``."""

    @classmethod
    def name(cls) -> str:
        return "jsonl_dir"

    def writer(self, schema, overwrite: bool) -> JsonlDirWriter:
        return JsonlDirWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool):
        return JsonlDirStreamWriter(self.options)

    def schema(self) -> str:
        raise ValueError(
            "jsonl_dir read requires an explicit .schema(...) — the "
            "sink stores untyped JSONL; the manifest records only "
            "files and row counts"
        )

    def reader(self, schema) -> "JsonlDirReader":
        return JsonlDirReader(self.options, schema)


class JsonlPartFile(InputPartition):
    def __init__(self, file_path: str):
        self.file_path = file_path


class JsonlDirReader(DataSourceReader):
    """Manifest-honoring batch reader for the jsonl_dir sink: ONLY
    parts named by the committed batch manifest (or, for a stream
    sink directory, the union of committed epoch manifests) become
    input partitions — orphan/uncommitted ``*.jsonl`` files in the
    same directory are invisible, which is the sink's exactly-once
    visibility contract made readable (``spark.read.json`` on the raw
    directory would see them). One InputPartition per committed part;
    parsing happens executor-side."""

    def __init__(self, options, schema):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("jsonl_dir read requires option 'path'")
        self.read_schema = schema

    def partitions(self):
        batch_manifest = os.path.join(self.path, MANIFEST)
        if os.path.exists(batch_manifest):
            files = [p["file"] for p in read_manifest(self.path)["parts"]]
        else:
            files = [
                p["file"]
                for man in read_stream_manifests(self.path)
                for p in man["parts"]
            ]
        return [
            JsonlPartFile(os.path.join(self.path, f)) for f in sorted(files)
        ]

    def read(self, partition: JsonlPartFile):
        import datetime
        import decimal

        fields = [(f.name, f.dataType.simpleString())
                  for f in self.read_schema.fields]
        # Fail on schema types the sink can produce (via default=str)
        # but this reader can't faithfully re-type, BEFORE parsing any
        # row — silently stringifying a date/decimal column yields
        # type-mismatched tuples that die deep in Arrow conversion
        # (ADVICE r11). The sink writes ISO strings for these, so
        # date/timestamp/decimal parse exactly; anything else
        # (arrays, maps, structs, binary) is a loud ValueError.
        for name, t in fields:
            if t in ("bigint", "int", "smallint", "tinyint", "double",
                     "float", "boolean", "string", "date") or t.startswith(
                         ("timestamp", "decimal")):
                continue
            raise ValueError(
                f"jsonl_dir reader cannot re-type column '{name}' of "
                f"type {t}: supported are integral/double/float/"
                "boolean/string/date/timestamp/decimal"
            )

        def conv(v, t):
            if v is None:
                return None
            if t in ("bigint", "int", "smallint", "tinyint"):
                return int(v)
            if t in ("double", "float"):
                return float(v)
            if t == "boolean":
                return bool(v)
            if t == "date":
                return datetime.date.fromisoformat(str(v))
            if t.startswith("timestamp"):
                return datetime.datetime.fromisoformat(str(v))
            if t.startswith("decimal"):
                return decimal.Decimal(str(v))
            return str(v)

        with open(partition.file_path, encoding="utf-8") as fh:
            for line in fh:
                if not line.strip():
                    continue
                rec = json.loads(line)
                yield tuple(conv(rec.get(n), t) for n, t in fields)


def register_jsonl_dir(spark) -> None:
    spark.dataSource.register(JsonlDirDataSource)


def read_manifest(path: str) -> dict:
    with open(os.path.join(path, MANIFEST), encoding="utf-8") as fh:
        return json.load(fh)


class JsonlDirStreamWriter(_JsonlPartWriter, DataSourceStreamWriter):
    """STREAMING half of the jsonl_dir sink — completes the Spark 4
    Python DataSource surface (batch read sources/pyds.py, stream
    read ibid., batch write above, stream write here). Per micro-batch
    the same two-phase protocol as the batch writer, scoped by epoch:
    tasks stream their partition to
    ``part-{pid:05d}-{attempt}-{job}.jsonl.tmp``, and the driver's
    ``commit(messages, batchId)`` renames them to
    ``part-{batchId:07d}-{pid:05d}-{attempt}-{job}.jsonl`` and publishes
    ``_MANIFEST-{batchId:07d}.json`` atomically — a reader that lists
    manifests sees only complete epochs, in order, which is exactly
    the exactly-once-per-epoch visibility Structured Streaming's sink
    contract asks for (a replayed batch after a crash re-commits the
    SAME batchId; ``commit`` is idempotent per epoch because part
    names embed the batch and the manifest replace is atomic).
    ``abort(messages, batchId)`` sweeps only this job's tmp parts for
    that epoch (job-id suffix, same concurrent-writer scoping as the
    batch abort)."""

    # -- driver side, once per epoch ------------------------------------
    def commit(self, messages, batchId: int) -> None:
        def final_name(tmp: str) -> str:
            return os.path.join(
                self.path,
                f"part-{batchId:07d}-"
                + os.path.basename(tmp)[len("part-"):-len(".tmp")]
                + ".jsonl",
            )

        keep = _publish(
            self.path, f"_MANIFEST-{batchId:07d}.json", messages, final_name,
            batch_id=batchId,
        )
        # a crash-replayed epoch re-runs its tasks under new attempt
        # ids, so a prior attempt's committed parts for THIS batch may
        # linger; sweep them AFTER the manifest replace (same
        # manifest-first ordering as the batch overwrite) so the
        # republished epoch is exactly its manifest
        _sweep_committed(self.path, keep, prefix=f"part-{batchId:07d}-")


def read_stream_manifests(path: str) -> list[dict]:
    """All committed epoch manifests in batch order."""
    out = []
    for fname in sorted(os.listdir(path)):
        if fname.startswith("_MANIFEST-") and fname.endswith(".json"):
            with open(os.path.join(path, fname), encoding="utf-8") as fh:
                out.append(json.load(fh))
    return out
