"""Measurement primitives: order statistics, spans, Spark job accounting
and process-tree memory. Nothing here imports the engine."""

from __future__ import annotations

import math
import os
import threading
import time
from dataclasses import dataclass


# --- order statistics ----------------------------------------------------

def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2


def tail(values: list[float], min_beyond: int = 10) -> tuple[float, int, int]:
    """The highest whole percentile p >= 50 whose nearest-rank value has
    at least ``min_beyond`` samples ranked above it.

    Returns (value, p, samples_beyond). With fewer than
    ``2 * min_beyond`` samples no such percentile exists and the
    maximum is returned as p = 100 with 0 samples beyond."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    for p in range(99, 49, -1):
        rank = math.ceil(p * n / 100)
        if n - rank >= min_beyond:
            return s[rank - 1], p, n - rank
    return s[-1], 100, 0


# --- spans ---------------------------------------------------------------

@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    op: str | None

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of its interval that its children
    cover (overlapping children are counted once)."""
    cover = 0.0
    cur_s = cur_e = None
    for c in sorted(children, key=lambda c: c.start):
        s, e = max(c.start, span.start), min(c.end, span.end)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                cover += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        cover += cur_e - cur_s
    return span.duration - cover


class Tracer:
    """In-memory span recorder. Disabled, ``span`` still times its block
    (the benchmark needs the durations) but records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def span(self, name: str, op: str | None = None) -> "_SpanCtx":
        return _SpanCtx(self, name, op)

    def self_times(self) -> dict[str, float]:
        """Summed self time per span name."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + self_time(s, kids.get(i, []))
        return out

    def to_json(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "op": s.op}
            for s in self.spans
        ]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, op: str | None):
        self.tracer, self.name, self.op = tracer, name, op
        self.start = self.end = 0.0
        self._index: int | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def __enter__(self) -> "_SpanCtx":
        t = self.tracer
        if t.enabled:
            parent = t._stack[-1] if t._stack else None
            op = self.op
            if op is None and parent is not None:
                op = t.spans[parent].op
            self._index = len(t.spans)
            t.spans.append(Span(self.name, 0.0, 0.0, parent, op))
            t._stack.append(self._index)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.end = time.perf_counter()
        t = self.tracer
        if self._index is not None:
            s = t.spans[self._index]
            s.start, s.end = self.start, self.end
            t._stack.pop()


# --- Spark job accounting --------------------------------------------------

STAGE_FIELDS = (
    "jobs", "stages", "tasks", "scan_stage_tasks", "input_bytes",
    "input_records", "output_bytes", "shuffle_write_bytes",
    "shuffle_read_bytes", "executor_cpu_s", "executor_run_s",
    "spill_bytes", "failed_tasks",
)


class JobAccounting:
    """Reads Spark's own per-stage accounting for the jobs of one job
    group, from outside the engine: the status tracker maps the group to
    jobs and stages, the status store holds each stage's task metrics."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def totals(self, job_ids: list[int]) -> dict[str, float]:
        # the status store is fed asynchronously by the listener bus
        from py4j.protocol import Py4JJavaError

        self._jsc.listenerBus().waitUntilEmpty(10_000)
        store = self._jsc.statusStore()
        tracker = self.sc.statusTracker()
        v = dict.fromkeys(STAGE_FIELDS, 0.0)
        seen: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            v["jobs"] += 1
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # a skipped stage has no attempt
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                v["stages"] += 1
                tasks = sd.numTasks()
                v["tasks"] += tasks
                if sd.inputBytes() > 0:
                    v["scan_stage_tasks"] += tasks
                v["input_bytes"] += sd.inputBytes()
                v["input_records"] += sd.inputRecords()
                v["output_bytes"] += sd.outputBytes()
                v["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                v["shuffle_read_bytes"] += sd.shuffleReadBytes()
                v["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                v["executor_run_s"] += sd.executorRunTime() / 1e3
                v["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                v["failed_tasks"] += sd.numFailedTasks()
        return v


# --- host ------------------------------------------------------------------

def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat.
    Steal is time the hypervisor ran something else on this VM's CPUs:
    wall times measured while it is high are not comparable."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


# --- process-tree memory ---------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def process_tree(root_pid: int) -> list[int]:
    """root_pid and all its live descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_memory_bytes(root_pid: int) -> tuple[int, int]:
    """Memory of the tree as (Python processes, the rest: the JVM and its
    launcher). Python workers are forked from one daemon and share pages,
    so they count by proportional set size; the rest by resident size."""
    python = other = 0
    for p in process_tree(root_pid):
        try:
            with open(f"/proc/{p}/comm") as f:
                is_python = f.read().startswith("python")
            if is_python:
                python += _pss_bytes(p)
            else:
                with open(f"/proc/{p}/statm") as f:
                    other += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return python, other


class PeakRss:
    """Samples the resident memory of this process's tree (driver,
    JVM, Python workers) on a background thread and keeps the peaks of
    the whole tree, of the JVM and of the Python processes."""

    INTERVAL_S = 0.1

    def __init__(self):
        self.total = self.jvm = self.python = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            python, jvm = tree_memory_bytes(pid)
            self.total = max(self.total, jvm + python)
            self.jvm = max(self.jvm, jvm)
            self.python = max(self.python, python)
            if self._stop.wait(self.INTERVAL_S):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
