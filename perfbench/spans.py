"""In-memory spans, Spark job accounting and process-tree memory for
the benchmark.

Spans are recorded by the benchmark's own code around each call it
makes into an engine module, and are named after that module
(``sources.geojson.scan``, ``pipelines.json_etl.render``, ...). They
stay in memory and are written once, when the run ends.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the enclosing span
    op_id: int  # operation sample the span belongs to


class Tracer:
    """Nested spans; a disabled tracer records nothing and costs one
    branch per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op_id = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Self time per top-level module (``sources``, ``sinks``...):
        each span's duration minus the part its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            module = s.name.split(".")[0]
            out[module] = out.get(module, 0.0) + (s.end - s.start) - c
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


class SparkAccounting:
    """Jobs, stages, tasks and failed tasks per job group, read from
    ``sparkContext.statusTracker()`` right after each operation (the
    tracker keeps a bounded history, so groups are read while fresh)."""

    def __init__(self, sc, prefix: str):
        self.sc, self.prefix = sc, prefix
        self.n = 0
        self.totals = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}

    def begin(self, label: str) -> str:
        self.n += 1
        group = f"{self.prefix}:{label}:{self.n}"
        self.sc.setJobGroup(group, label)
        return group

    def collect(self, group: str) -> dict[str, int]:
        tracker = self.sc.statusTracker()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        for job_id in tracker.getJobIdsForGroup(group):
            job = tracker.getJobInfo(job_id)
            if job is None:
                continue
            out["jobs"] += 1
            for stage_id in job.stageIds:
                stage = tracker.getStageInfo(stage_id)
                if stage is None:
                    continue  # skipped stage (shuffle reuse)
                out["stages"] += 1
                out["tasks"] += stage.numCompletedTasks
                out["failed_tasks"] += stage.numFailedTasks
        for k, v in out.items():
            self.totals[k] += v
        return out


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(p) for p in f.read().split()]
    except OSError:
        return []


def descendants(pid: int) -> list[int]:
    out, todo = [], _children(pid)
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def _rss_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_ticks(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return int(fields[11]) + int(fields[12])  # utime + stime
    except (OSError, IndexError, ValueError):
        return 0


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every live
    descendant (the driver JVM and its Python workers)."""
    me = os.getpid()
    return sum(_cpu_ticks(p) for p in [me, *descendants(me)]) / _TICK


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's CPUs
    since boot (all CPUs summed); a run reports its difference."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / _TICK
    except (OSError, IndexError, ValueError):
        return 0.0


class RssPeak:
    """Peak resident memory of this process plus every descendant (the
    driver JVM and its Python workers), sampled at operation bounds."""

    def __init__(self):
        self.peak_kib = 0

    def sample(self) -> None:
        me = os.getpid()
        total = sum(_rss_kib(p) for p in [me, *descendants(me)])
        self.peak_kib = max(self.peak_kib, total)

    @property
    def mib(self) -> float:
        return self.peak_kib / 1024.0
