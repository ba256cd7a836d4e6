"""Spans, Spark job counters and process-tree memory for the benchmark.

Spans are recorded around the benchmark's own calls into the package
(workload -> op -> layer call, split into plan build and execute). They
stay in memory and are written out when the run ends. With tracing off
every hook is a no-op, so the untraced run measures the program alone.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time
from collections import defaultdict


class Tracer:
    """Span recorder plus per-layer accumulators.

    ``layer(name, op, phase)`` wraps one call into a layer. When enabled it
    tags the Spark jobs the call starts with a job group and, on exit,
    reads jobs, stages, tasks, failed tasks and stage retries for that
    group from ``SparkContext.statusTracker()``.
    """

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.sums: dict[str, float] = defaultdict(float)
        self.bookkeeping_s = 0.0
        self._groups = 0

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self.stack[-1] if self.stack else None,
               "name": name, "op": op, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self.stack.append(sid)
        try:
            yield
        finally:
            self.stack.pop()
            rec["end"] = time.perf_counter()

    @contextlib.contextmanager
    def layer(self, name: str, op: int | None, phase: str):
        """Span ``name.phase`` and, when tracing, count its Spark work into
        ``name.{jobs,stages,tasks,failed_tasks,stage_retries}``."""
        if not self.enabled:
            yield
            return
        self._groups += 1
        group = f"perfbench-{self._groups}"
        self.sc.setJobGroup(group, f"{name}.{phase}")
        with self.span(f"{name}.{phase}", op):
            try:
                yield
            finally:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
        t0 = time.perf_counter()
        for k, v in self.spark_counts(group).items():
            self.sums[f"{name}.{k}"] += v
            self.sums[f"spark.{k}"] += v
        self.bookkeeping_s += time.perf_counter() - t0

    def spark_counts(self, group: str) -> dict[str, int]:
        st = self.sc.statusTracker()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0, "stage_retries": 0}
        for jid in st.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                s = st.getStageInfo(sid)
                if s is None or s.numTasks == 0 or s.numCompletedTasks == 0:
                    continue  # skipped stage (shuffle output reused)
                out["stages"] += 1
                out["tasks"] += s.numTasks
                out["failed_tasks"] += s.numFailedTasks
                out["stage_retries"] += s.currentAttemptId
        return out

    def add(self, key: str, value: float) -> None:
        if self.enabled:
            self.sums[key] += value

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the time covered by
        its direct children."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def _pss_kib(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def tree_pss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants, from /proc.

    Summed as proportional set size, so a page shared by a parent and
    the children it forks (Python workers, the JVM's spawn helper) is
    counted once in total, not once per process.
    """
    total, todo, seen = 0, [root], set()
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            total += _pss_kib(pid) * 1024
        except (OSError, ValueError, IndexError):
            continue
        todo += _children(pid)
    return total


class PeakRss:
    """Samples the process tree's resident memory (``tree_pss_bytes``)
    every ``interval`` s on a background thread. ``peak_mb`` is the
    highest level held over two consecutive samples: a process the JVM
    spawns shares the JVM's address space until it execs, and a sample
    that lands in that window would count the JVM twice."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid, prev = os.getpid(), 0
        while True:
            cur = tree_pss_bytes(pid)
            self.peak = max(self.peak, min(prev, cur))
            prev = cur
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
