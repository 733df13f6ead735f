"""Spans, self time, Spark event-log parsing and the latency summaries.

Pure Python with no Spark import, so the arithmetic here is unit-tested
without a session.
"""
from __future__ import annotations

import json
import math
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


# ----------------------------------------------------------------- spans
@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds, comparable with Spark's job timestamps
    end: float
    parent: int | None
    request: int | None


class Tracer:
    """Records spans in memory; ``enabled=False`` makes :meth:`span` a no-op
    so the untraced run pays only a generator call per layer boundary.

    ``on_enter``/``on_exit`` receive the span name so the caller can mirror
    the open span into Spark's local properties (jobs then carry it)."""

    def __init__(self, enabled: bool, on_enter=None, on_exit=None):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._on_enter = on_enter
        self._on_exit = on_exit
        self.request: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.time(), math.nan,
                 parent.id if parent else None, self.request)
        self.spans.append(s)
        self._stack.append(s)
        if self._on_enter:
            self._on_enter(name)
        try:
            yield
        finally:
            s.end = time.time()
            self._stack.pop()
            if self._on_exit:
                self._on_exit(self._stack[-1].name if self._stack else None)

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``intervals`` (pairs), clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id → duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - union_length(kids.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


# ------------------------------------------------------- latency summaries
def median(values) -> float:
    v = sorted(values)
    if not v:
        return 0.0
    m = len(v) // 2
    return v[m] if len(v) % 2 else (v[m - 1] + v[m]) / 2


def tail(values, beyond: int = 10) -> tuple[float, float] | None:
    """The highest-percentile sample that still has ``beyond`` samples above
    it, as ``(value, percentile)``; None when there are too few samples.

    With n sorted samples that is the sample at 1-based rank n - beyond,
    whose percentile is 100 * (n - beyond) / n."""
    v = sorted(values)
    n = len(v)
    if n <= beyond:
        return None
    return v[n - beyond - 1], 100.0 * (n - beyond) / n


# ----------------------------------------------------------- event log
@dataclass
class Job:
    id: int
    submit_ms: int
    end_ms: int
    stages: list
    props: dict
    ok: bool = True


@dataclass
class TaskStats:
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def parse_event_log(lines) -> tuple[dict[int, Job], dict[int, TaskStats], set]:
    """Jobs, per-stage task totals, and the ids of stages that ran, from a
    Spark JSON event log (one event per line, uncompressed)."""
    jobs: dict[int, Job] = {}
    stages: dict[int, TaskStats] = {}
    ran: set = set()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = Job(
                ev["Job ID"], ev.get("Submission Time", 0), ev.get("Submission Time", 0),
                list(ev.get("Stage IDs", [])), dict(ev.get("Properties") or {}),
            )
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = ev.get("Completion Time", job.submit_ms)
                job.ok = ev.get("Job Result", {}).get("Result") == "JobSucceeded"
        elif kind == "SparkListenerStageCompleted":
            ran.add(ev["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(ev["Stage ID"], TaskStats())
            m = ev.get("Task Metrics") or {}
            st.tasks += 1
            st.run_ms += m.get("Executor Run Time", 0)
            st.cpu_ns += m.get("Executor CPU Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            st.spill_bytes += m.get("Disk Bytes Spilled", 0)
    return jobs, stages, ran


def request_job_stats(jobs: list[Job], stages: dict[int, TaskStats], ran: set,
                      start: float, end: float) -> dict[str, float]:
    """Spark-side totals for one request's jobs; ``start``/``end`` are the
    request's epoch-second bounds. A stage shared by two jobs counts once."""
    stage_ids = sorted({s for j in jobs for s in j.stages if s in ran})
    t = TaskStats()
    for s in stage_ids:
        st = stages.get(s)
        if st is None:
            continue
        t.tasks += st.tasks
        t.run_ms += st.run_ms
        t.cpu_ns += st.cpu_ns
        t.gc_ms += st.gc_ms
        t.shuffle_write_bytes += st.shuffle_write_bytes
        t.spill_bytes += st.spill_bytes
    covered = union_length([(j.submit_ms / 1e3, j.end_ms / 1e3) for j in jobs], start, end)
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stage_ids),
        "spark.tasks": t.tasks,
        "spark.driver_gap_s": max(0.0, (end - start) - covered),
        "spark.executor_run_s": t.run_ms / 1e3,
        "spark.executor_cpu_s": t.cpu_ns / 1e9,
        "spark.gc_s": t.gc_ms / 1e3,
        "spark.shuffle_write_mb": t.shuffle_write_bytes / 1e6,
        "spark.spill_mb": t.spill_bytes / 1e6,
    }
