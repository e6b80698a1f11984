"""Spans and counters the benchmark records from outside the program.

Spans (name, start, end, parent, run id) are kept in memory and
written as JSON lines when the run ends. A span's name is
``<layer>.<call>``, where the layer is a module of the package
(``sources``, ``operators``, ``streaming``, ``sinks``, ``jobs``,
``queries``); the session start is timed on its own. Counters come from
Spark itself: the AppStatusStore for the jobs of each phase,
``StreamingQuery.recentProgress`` and the JVM's ``VmHWM``.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager

LAYERS = ("sources", "operators", "streaming", "sinks", "jobs", "queries")
SPARK_COUNTERS = ("jobs", "tasks", "job_busy_s", "driver_gap_s", "shuffle_bytes",
                  "spill_bytes", "gc_s")


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total time covered by possibly overlapping intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    """Records spans when enabled; a no-op context manager otherwise.

    Each thread keeps its own stack of open spans. A span opened on a
    thread with no open span (a foreachBatch callback) takes the
    tracer's ``root`` as parent, so its time is charged to the phase
    that caused it."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.root: int | None = None
        self.overhead_s = 0.0
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, root: bool = False):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else self.root
        rec = {"name": name, "start": 0.0, "end": None, "parent": parent,
               "run": self.run_id}
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        if root:
            self.root = idx
        stack.append(idx)
        rec["start"] = t1 = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = t2 = time.perf_counter()
            stack.pop()
            if root:
                self.root = parent
            with self._lock:
                self.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

    def self_times(self) -> list[float]:
        """Per span: its duration minus the part its children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = []
        for i, s in enumerate(self.spans):
            kids = [
                (max(a, s["start"]), min(b, s["end"]))
                for a, b in children.get(i, [])
                if b > s["start"] and a < s["end"]
            ]
            out.append((s["end"] - s["start"]) - union_length(kids))
        return out

    def layer_self_s(self) -> dict[str, float]:
        """Self time summed per layer; spans outside the layers
        (the benchmark's own phase spans) are left out."""
        totals = dict.fromkeys(LAYERS, 0.0)
        for s, t in zip(self.spans, self.self_times()):
            layer = s["name"].split(".", 1)[0]
            if layer in totals:
                totals[layer] += t
        return totals

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, (s, t) in enumerate(zip(self.spans, self.self_times())):
                fh.write(json.dumps({"id": i, **s, "self": t}) + "\n")


# -- Spark's own counters ----------------------------------------------------


def jvm_peak_rss_mb(spark) -> float:
    """The driver JVM's peak resident set (``VmHWM``) in MiB."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def cpu_times() -> tuple[int, int]:
    """(steal, total) CPU jiffies of the host so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def spark_counters(spark, t0: float, t1: float) -> dict[str, float]:
    """Jobs, tasks, busy time, driver gap, shuffle, spill and GC of the
    jobs Spark submitted between epoch seconds ``t0`` and ``t1``, read
    from the AppStatusStore.

    Phases run one after another, so the window selects one phase's
    jobs whatever thread submitted them: stream executions and their
    foreachBatch callbacks set job groups of their own. ``job_busy_s``
    is the time covered by at least one running job; ``driver_gap_s``
    is the rest of the phase's wall."""
    from py4j.protocol import Py4JJavaError

    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)  # a Scala Seq, newest job first
    intervals, stage_ids, n_jobs, n_tasks = [], set(), 0, 0
    for i in range(jobs.size()):
        j = jobs.apply(i)
        sub, done = j.submissionTime(), j.completionTime()
        if not sub.isDefined():
            continue
        start = sub.get().getTime() / 1e3
        if not t0 <= start <= t1:
            continue
        n_jobs += 1
        n_tasks += j.numTasks()
        end = done.get().getTime() / 1e3 if done.isDefined() else t1
        intervals.append((start, min(end, t1)))
        ids = j.stageIds()
        for k in range(ids.size()):
            stage_ids.add(int(ids.apply(k)))
    shuffle = spill = gc = 0.0
    for sid in stage_ids:
        try:
            s = store.lastStageAttempt(sid)
        except Py4JJavaError:  # a skipped stage has no attempt
            continue
        shuffle += s.shuffleWriteBytes()
        spill += s.memoryBytesSpilled() + s.diskBytesSpilled()
        gc += s.jvmGcTime() / 1e3
    busy = union_length(intervals)
    return {
        "jobs": n_jobs,
        "tasks": n_tasks,
        "job_busy_s": busy,
        "driver_gap_s": max(0.0, (t1 - t0) - busy),
        "shuffle_bytes": shuffle,
        "spill_bytes": spill,
        "gc_s": gc,
    }


@contextmanager
def job_group(spark, group: str):
    """Run the block's Spark jobs under ``group`` (this thread only)."""
    spark.sparkContext.setJobGroup(group, group)
    try:
        yield
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
