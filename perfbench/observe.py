"""Measurement helpers that sit outside the program under test.

- ``Tracer``: in-memory spans recorded by the benchmark around its own
  calls into each layer (disabled spans cost one attribute lookup).
- ``SparkAttribution``: reads Spark's AppStatusStore after a timed
  region — jobs, stages, tasks, Σ executorRunTime, shuffle bytes and
  ``driver_gap = wall − time covered by at least one running stage``.
  The store is reachable with ``spark.ui.enabled=false``.
- ``peak_rss_mb``: peak resident memory of the driver JVM plus this
  Python process.
"""

from __future__ import annotations

import contextlib
import math
import os
import resource
import time
from dataclasses import dataclass, field


def tail_percentile(n: int) -> float | None:
    """Highest percentile (in %) with at least ten samples beyond it,
    or None when there are too few samples for one."""
    if n < 11:
        return None
    return 100.0 * (n - 10) / n


def quantile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile of ``values`` (``pct`` in %)."""
    s = sorted(values)
    rank = math.ceil(pct / 100.0 * len(s) - 1e-9)
    return s[max(0, min(len(s), rank) - 1)]


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None


@dataclass
class Tracer:
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[str] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(Span(name, t0, time.perf_counter(), parent))

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def count(self, name: str) -> int:
        return len(self.durations(name))


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


class SparkAttribution:
    """Per-region Spark work read from the status store.

    ``mark()`` before a timed region, ``read(wall_s)`` after it. Stage
    and job ids grow monotonically, and the store lists them newest
    first, so a read walks only what the region added.
    """

    def __init__(self, spark):
        self._jvm = spark._jvm
        self._gw = spark.sparkContext._gateway
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._last_stage = -1
        self._last_job = -1
        self.mark()

    def _stages(self):
        al = self._jvm.java.util.ArrayList
        return self._store.stageList(
            al(), False, False, self._gw.new_array(self._jvm.double, 0), al()
        )

    def mark(self) -> None:
        st = self._stages()
        if st.size() > 0:
            self._last_stage = max(self._last_stage, st.head().stageId())
        jobs = self._store.jobsList(self._jvm.java.util.ArrayList())
        if jobs.size() > 0:
            self._last_job = max(self._last_job, jobs.head().jobId())

    def read(self, wall_s: float, job_group: str | None = None,
             advance: bool = True) -> dict:
        """Attribution for everything since the last mark; with
        ``job_group`` only the jobs of that group (and their stages).
        ``advance=False`` leaves the mark where it was."""
        jobs = self._store.jobsList(self._jvm.java.util.ArrayList())
        it = jobs.iterator()
        n_jobs, top_job, group_stages = 0, self._last_job, set()
        while it.hasNext():
            j = it.next()
            if j.jobId() <= self._last_job:
                break
            top_job = max(top_job, j.jobId())
            if job_group is not None:
                g = j.jobGroup()
                if not (g.isDefined() and g.get() == job_group):
                    continue
                sit = j.stageIds().iterator()
                while sit.hasNext():
                    group_stages.add(sit.next())
            n_jobs += 1
        out = {
            "jobs": n_jobs,
            "stages": 0,
            "tasks": 0,
            "executor_run_s": 0.0,
            "shuffle_write_bytes": 0,
            "input_records": 0,
        }
        spans = []
        top_stage = self._last_stage
        it = self._stages().iterator()
        while it.hasNext():
            s = it.next()
            sid = s.stageId()
            if sid <= self._last_stage:
                break
            top_stage = max(top_stage, sid)
            if job_group is not None and sid not in group_stages:
                continue
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["executor_run_s"] += s.executorRunTime() / 1000.0
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["input_records"] += s.inputRecords()
            a, b = _opt_ms(s.submissionTime()), _opt_ms(s.completionTime())
            if a is not None and b is not None:
                spans.append((a, b))
        if advance:
            self._last_stage, self._last_job = top_stage, top_job
        busy_ms, cur_a, cur_b = 0, None, None
        for a, b in sorted(spans):
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    busy_ms += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            busy_ms += cur_b - cur_a
        out["driver_gap_s"] = max(0.0, wall_s - busy_ms / 1000.0)
        return out


def peak_rss_mb(spark) -> float:
    """Peak RSS (VmHWM) of the driver JVM plus this process's peak."""
    jvm_kb = 0
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + own_kb) / 1024.0


def nproc() -> int:
    return len(os.sched_getaffinity(0))
