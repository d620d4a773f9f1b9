"""Spans, Spark status-store counters and process-tree CPU and memory.

A :class:`Tracer` records one span per layer call made by the benchmark
(name, start, end, parent, operation id). When enabled, every span runs
under its own Spark job group, so the jobs it launches — and their
stages' task metrics in the status store — are attributed to it. Spans
stay in memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# Stage-level task metrics summed per span; names follow v1.StageData.
STAGE_FIELDS = (
    "executorRunTime",      # ms of task run time
    "executorCpuTime",      # ns of JVM CPU time
    "jvmGcTime",            # ms
    "shuffleWriteBytes",
    "shuffleReadBytes",
    "diskBytesSpilled",
    "outputRecords",
    "outputBytes",
    "numCompleteTasks",
    "numFailedTasks",
)


@dataclass
class Span:
    id: int
    name: str
    op: int | None
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. Disabled, :meth:`span` costs one generator frame
    and records nothing."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op: int | None = None
        self._sc = spark.sparkContext if enabled else None

    def set_op(self, op: int | None) -> None:
        self._op = op

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, self._op, parent.id if parent else None, t0,
                  attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        self._sc.setJobGroup(self._group(sp), name, False)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._sc.setJobGroup(self._group(parent) if parent else "perfbench-idle", "", False)
            sp.counters = self._stage_counters(self._group(sp))
            self.overhead_s += time.perf_counter() - sp.end

    @staticmethod
    def _group(sp: Span) -> str:
        return f"perfbench-{sp.id}"

    def _stage_counters(self, group: str) -> dict:
        """Sum the status-store metrics of every stage that ran in a job
        of ``group`` (skipped stages did no work and are not counted)."""
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        out = dict.fromkeys(STAGE_FIELDS, 0)
        out["jobs"] = len(jobs)
        out["stages"] = 0
        if not jobs:
            return out
        store = jsc.statusStore()
        gw = self._sc._gateway
        no_tasks, no_quantiles = gw.jvm.java.util.ArrayList(), gw.new_array(gw.jvm.double, 0)
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            attempts = store.stageData(sid, False, no_tasks, False, no_quantiles)
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if str(sd.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                for f in STAGE_FIELDS:
                    out[f] += getattr(sd, f)()
        return out

    # -- analysis --------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its direct children cover."""
        child = dict.fromkeys((s.id for s in self.spans), 0.0)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.duration
        return {s.id: s.duration - child[s.id] for s in self.spans}

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                row = asdict(s)
                row["duration"] = s.duration
                fh.write(json.dumps(row) + "\n")


# ---------------------------------------------------------------------------
# process tree: CPU and memory
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants, read from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and its descendants
    (Python client, JVM, Python workers), reaped children included. Time
    the host steals from the VM's vCPUs is not counted."""
    total = 0
    for pid in process_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def steal_s() -> float:
    """CPU seconds the host has stolen from all of the VM's vCPUs so far."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


def _tree_rss_bytes(root: int) -> int:
    """Resident bytes of the process tree (Python client, JVM, Python workers)."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Background sampler of the process tree's resident set; ``peak_mb``
    is the largest sum seen."""

    interval_s = 1.0

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
