"""The benchmark's own instruments: spans, Spark stage metrics by job
group, host-epoch probes and the Python-worker peak-RSS probe.

Spans are recorded only around calls into the program's public
surface, from the benchmark's side. They stay in memory and are
written out once, at exit.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

import numpy as np


# ---------------------------------------------------------------- spans
class Tracer:
    """In-memory span recorder. A disabled tracer records nothing, so
    the untraced run pays one attribute test per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._trace = 0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "trace": self._trace,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    @contextmanager
    def op(self, name: str, **attrs):
        """Root span of one operation, under a fresh trace id."""
        self._trace += 1
        with self.span(name, **attrs) as rec:
            yield rec

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans,
                       "self_s": self_times(self.spans)}, f)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval that its
    child spans cover (overlapping children count once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = _union_length([(max(a, lo), min(b, hi))
                                 for a, b in kids.get(s["id"], [])
                                 if min(b, hi) > max(a, lo)])
        out[s["id"]] = (hi - lo) - covered
    return out


# ------------------------------------------------- Spark stage metrics
class JobGroupMetrics:
    """Executor metrics of the jobs one Spark action ran, found by the
    job group the action was tagged with — not by a stage-id
    watermark, which misattributes stages when actions overlap."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()
        self._empty = sc._jvm.java.util.ArrayList()
        self._darr = sc._gateway.new_array(sc._jvm.double, 0)

    @contextmanager
    def tagged(self, tag: str):
        self._sc.setJobGroup(tag, tag)
        try:
            yield
        finally:
            self._sc.setLocalProperty("spark.jobGroup.id", None)

    def stage_ids(self, tag: str) -> set[int]:
        st = self._sc.statusTracker()
        ids: set[int] = set()
        for jid in st.getJobIdsForGroup(tag):
            info = st.getJobInfo(jid)
            if info is not None:
                ids.update(info.stageIds)
        return ids

    def collect(self, tag: str) -> dict:
        """Summed stage metrics of the tagged action, plus its longest
        task and the scan stage (lowest stage id) run time."""
        want = self.stage_ids(tag)
        agg = {"run_ms": 0, "cpu_ms": 0, "gc_ms": 0, "tasks": 0,
               "max_task_ms": 0, "stages": 0, "first_stage_run_ms": 0}
        first = None
        it = self._store.stageList(
            self._empty, False, False, self._darr, self._empty).iterator()
        while it.hasNext():
            s = it.next()
            sid = s.stageId()
            if sid not in want:
                continue
            agg["run_ms"] += s.executorRunTime()
            agg["cpu_ms"] += s.executorCpuTime() // 1_000_000
            agg["gc_ms"] += s.jvmGcTime()
            agg["tasks"] += s.numCompleteTasks()
            agg["stages"] += 1
            if first is None or sid < first:
                first = sid
                agg["first_stage_run_ms"] = s.executorRunTime()
            tasks = self._store.taskList(sid, s.attemptId(), 100_000).iterator()
            while tasks.hasNext():
                d = tasks.next().duration()
                if d.isDefined():
                    agg["max_task_ms"] = max(agg["max_task_ms"], d.get())
        return agg


# ----------------------------------------------------- host probes
def steal_jiffies() -> int:
    """Hypervisor steal, field 8 of the /proc/stat cpu line (1/100 s)."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0


def membw_gbs(mb: int = 64, reps: int = 3) -> float:
    """Best-of-`reps` NumPy copy bandwidth (read + write bytes). Steal
    alone misses bandwidth bursts from neighbours on the host."""
    a = np.ones(mb * (1 << 20) // 8)
    b = np.empty_like(a)
    best = float("inf")
    for _ in range(reps):
        t = time.perf_counter()
        np.copyto(b, a)
        best = min(best, time.perf_counter() - t)
    return 2 * a.nbytes / best / 1e9


# ------------------------------------------------------ worker memory
def _proc_parents() -> dict[int, int]:
    """pid -> ppid for every visible process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                out[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return out


def _is_python_worker(pid: int) -> bool:
    """Spark's Python daemons and the workers they fork all run
    `python -m pyspark.daemon ...` (the JVM's command line names
    `pyspark-shell`, so a bare "pyspark" would match it too)."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


def worker_pids(root_pid: int) -> list[int]:
    """The Spark Python processes (daemons and the workers they fork)
    descending from `root_pid`."""
    parents = _proc_parents()
    out = []
    for pid in parents:
        p, hops = pid, 0
        while p in parents and p != root_pid and hops < 16:
            p, hops = parents[p], hops + 1
        if p == root_pid and pid != root_pid and _is_python_worker(pid):
            out.append(pid)
    return out


def peak_rss_bytes(pid: int) -> int:
    """VmHWM: the most resident memory `pid` has held so far."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError, IndexError):
        pass
    return 0


def worker_peak_rss_bytes(root_pid: int) -> int:
    """The largest peak RSS of any live Spark Python worker: the
    working memory of the heaviest task, independent of how many
    forked workers happen to be alive."""
    return max((peak_rss_bytes(p) for p in worker_pids(root_pid)), default=0)
