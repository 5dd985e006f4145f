"""Outside-in observation: spans, Spark job-group counts, /proc CPU and RSS.

Nothing here reaches into the engine. Spans are opened by the benchmark
around its own calls into a layer's public functions; counts come from
``SparkContext.statusTracker()`` (one job group per operation) and from
``/proc`` for the Spark driver (this Python process), the JVM and the
Python workers the JVM forks.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str | None = None
    counts: dict = field(default_factory=dict)


class Tracer:
    """In-memory span list; written out once, when the run ends."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, group: str | None = None):
        s = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None, group=group)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_time(self, name: str) -> float:
        """Total time of spans called ``name`` minus their children's time."""
        total = 0.0
        for i, s in enumerate(self.spans):
            if s.name == name:
                kids = sum(c.end - c.start for c in self.spans if c.parent == i)
                total += (s.end - s.start) - kids
        return total

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


# --- Spark scheduler, seen through the status tracker -----------------------


def group_counts(sc, group: str) -> dict:
    """Jobs, stages, tasks and failed tasks of one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is None:  # skipped stage: planned, never run
                continue
            stages += 1
            tasks += si.numTasks
            failed += si.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}


# --- processes, from /proc ---------------------------------------------------


def proc_stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces; fields after the closing paren are fixed
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = proc_stat(int(d))
            if st:
                kids.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_seconds(pid: int, with_children: bool = False) -> float:
    st = proc_stat(pid)
    if st is None:
        return 0.0
    ticks = int(st[11]) + int(st[12])  # utime, stime
    if with_children:
        ticks += int(st[13]) + int(st[14])  # reaped children
    return ticks / _TICK


def peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class Processes:
    """The Spark driver (this process), the JVM it launched, and the JVM's
    Python workers."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm = jvm_pid

    def workers(self) -> list[int]:
        return descendants(self.jvm)

    def cpu(self) -> dict:
        t = os.times()
        return {
            "driver": t.user + t.system,
            "jvm": cpu_seconds(self.jvm),
            "pyworker": sum(cpu_seconds(p, with_children=True) for p in self.workers()),
        }

    def peak_rss_mb(self) -> float:
        return peak_rss_mb(os.getpid()) + peak_rss_mb(self.jvm) + sum(
            peak_rss_mb(p) for p in self.workers()
        )


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``; files that vanish mid-walk are skipped."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(root, n))
                files += 1
            except OSError:
                pass
    return total, files
