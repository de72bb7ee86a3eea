"""Measurement primitives of the benchmark: spans, statistics and the
Spark work ledger.

Spans are recorded by the benchmark around its calls into the program
(setup → session / registry / warm-up; op → build / exec / verify). They
stay in memory and are written out when the run ends. The Spark ledger
reads, for one job group, the jobs, stages and tasks from
``statusTracker`` and the stage metrics from ``statusStore`` — both work
with the UI disabled.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1 << 20
NAME_CHARS = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_.-"
)


def valid_name(name: str) -> bool:
    """Metric names: start with a letter or digit, then ``[A-Za-z0-9_.-]``."""
    return 0 < len(name) <= 64 and name[0].isalnum() and set(name) <= NAME_CHARS


# ---------------------------------------------------------------- statistics


def tail(samples: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns ``(value, percentile, n)``. With n samples sorted ascending,
    the value at 0-based rank ``n - 1 - beyond`` has exactly ``beyond``
    samples beyond it; its percentile is ``100 * (n - beyond) / n``. Below
    ``2 * beyond`` samples that percentile would fall under the median, and
    the median is returned at percentile 50 instead.
    """
    n = len(samples)
    if n == 0:
        raise ValueError("no samples")
    if n < 2 * beyond:
        return statistics.median(samples), 50.0, n
    ordered = sorted(samples)
    return ordered[n - 1 - beyond], 100.0 * (n - beyond) / n, n


def op_medians(records: list[dict], key: str = "wall") -> dict[str, float]:
    """Op name → median ``key`` time of its successful runs in ``records``."""
    times: dict[str, list[float]] = {}
    for r in records:
        if r["ok"]:
            times.setdefault(r["op"], []).append(r[key])
    return {op: statistics.median(t) for op, t in times.items()}


# --------------------------------------------------------------------- spans


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = math.nan

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of ``[start, end]`` covered by the union of ``intervals``."""
    total, reach = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, end)
        if b > a:
            total += b - a
            reach = b
    return total


@dataclass
class Tracer:
    """In-memory span recorder; a span's parent is the span open when it
    starts, and it inherits its parent's op id."""

    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    clock: object = time.perf_counter

    @contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        s = Span(len(self.spans), name, parent, op, self.clock())
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """Span id → duration minus the part its children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append((s.start, s.end))
        return {
            s.id: s.duration - covered(s.start, s.end, children.get(s.id, []))
            for s in self.spans
        }


# -------------------------------------------------------------- spark ledger

def group_counters(sc, group: str) -> Counter:
    """Jobs, stages that ran, and summed stage metrics of one job group."""
    jsc = sc._jsc.sc()
    # the status store is fed by the listener bus; drain it first
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    c: Counter = Counter({"jobs": len(jobs)})
    for sid in sorted(stage_ids):
        sd = store.lastStageAttempt(sid)
        if sd.status().toString() == "SKIPPED":
            continue
        c["stages"] += 1
        c["tasks"] += sd.numTasks()
        c["run_ms"] += sd.executorRunTime()
        c["cpu_ns"] += sd.executorCpuTime()
        c["gc_ms"] += sd.jvmGcTime()
        c["input_bytes"] += sd.inputBytes()
        c["shuffle_read_bytes"] += sd.shuffleReadBytes()
        c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        c["shuffle_write_records"] += sd.shuffleWriteRecords()
        c["spill_bytes"] += sd.diskBytesSpilled()
        c["failed_tasks"] += sd.numFailedTasks()
    return c


def stored_bytes(sc) -> int:
    """Bytes held by persisted RDDs (memory plus disk)."""
    return sum(i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo())


TICK = os.sysconf("SC_CLK_TCK")


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / TICK


def peak_rss_mb(pid: int) -> float:
    """``VmHWM`` (peak resident set) of process ``pid``, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise ValueError(f"no VmHWM for pid {pid}")
