"""Spans around the calls the benchmark makes into each layer, and the
Spark event-log parser that attributes stages, tasks and SQL metrics to
them.

Spans live in memory and are written out once, at exit. A span's self
time is its duration minus the part of it that its child spans cover.
Spark work is attributed by wall clock: a stage belongs to the
innermost span open when it was submitted (one client, so ops never
overlap).
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, comparable with the event log's ms
    end: float
    parent: int | None
    op: int | None

    @property
    def layer(self) -> str:
        return self.name.split(":", 1)[0]


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes :meth:`span` a
    no-op, so the same workload code runs traced and untraced."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.op: int | None = None
        self._stack: list[int] = []
        # foreachBatch sinks call back on a py4j thread while the main
        # thread waits inside its drain span
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        with self._lock:
            idx = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            self.spans.append(Span(name, time.time(), 0.0, parent, self.op))
            self._stack.append(idx)
        try:
            yield
        finally:
            with self._lock:
                self.spans[idx].end = time.time()
                self._stack.remove(idx)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the union of its children's
    intervals (clipped to the parent)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(i, ())):
            lo, hi = max(lo, s.start), min(hi, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append(max(s.end - s.start - covered, 0.0))
    return out


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

#: driver-side SQL metrics the per-layer numbers read
SQL_METRICS = ("number of files read", "number of written files",
               "number of dynamic part")


@dataclass
class Stage:
    stage_id: int
    submitted: float  # epoch seconds
    task_ms: list
    gc_ms: int = 0
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class EventLog:
    stages: list[Stage]
    jobs: list[float]  # job submission times, epoch seconds
    sql: list[tuple[float, dict]]  # (execution start, {metric name: value})


def _plan_metrics(info: dict, out: dict[int, str]) -> None:
    for m in info.get("metrics", ()):
        if m.get("name") in SQL_METRICS:
            out[m["accumulatorId"]] = m["name"]
    for child in info.get("children", ()):
        _plan_metrics(child, out)


def parse_event_log(path: str) -> EventLog:
    """Stages (with summed task metrics), job starts and per-execution
    SQL metric totals from an uncompressed JSON-lines event log."""
    stages: dict[int, Stage] = {}
    jobs: list[float] = []
    exec_start: dict[int, float] = {}
    acc_name: dict[int, str] = {}
    exec_vals: dict[int, dict] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                sid = info["Stage ID"] * 1000 + info.get("Stage Attempt ID", 0)
                stages[sid] = Stage(info["Stage ID"], info["Submission Time"] / 1000.0, [])
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"] * 1000 + ev.get("Stage Attempt ID", 0)
                st = stages.get(sid)
                tm = ev.get("Task Metrics")
                if st is None or not tm:
                    continue
                st.task_ms.append(tm.get("Executor Run Time", 0))
                st.gc_ms += tm.get("JVM GC Time", 0)
                st.input_bytes += tm.get("Input Metrics", {}).get("Bytes Read", 0)
                st.input_records += tm.get("Input Metrics", {}).get("Records Read", 0)
                st.output_bytes += tm.get("Output Metrics", {}).get("Bytes Written", 0)
                st.shuffle_bytes += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                st.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            elif kind == "SparkListenerJobStart":
                jobs.append(ev["Submission Time"] / 1000.0)
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                exec_start[ev["executionId"]] = ev["time"] / 1000.0
                _plan_metrics(ev.get("sparkPlanInfo", {}), acc_name)
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                _plan_metrics(ev.get("sparkPlanInfo", {}), acc_name)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                vals = exec_vals.setdefault(ev["executionId"], {})
                for acc, v in ev.get("accumUpdates", ()):
                    name = acc_name.get(acc)
                    if name is not None:
                        vals[name] = vals.get(name, 0) + v
    sql = [(exec_start[e], v) for e, v in exec_vals.items() if e in exec_start]
    return EventLog(sorted(stages.values(), key=lambda s: s.submitted), sorted(jobs), sql)


def owner(spans: list[Span], t: float) -> int | None:
    """Index of the innermost span open at epoch time ``t`` (ms
    resolution on the event-log side)."""
    best = None
    for i, s in enumerate(spans):
        if s.start - 0.0005 <= t <= s.end + 0.0005:
            if best is None or s.start >= spans[best].start:
                best = i
    return best


def task_skew(stages: list[Stage]) -> float:
    """Median over multi-task stages of max / median task run time."""
    ratios = []
    for st in stages:
        if len(st.task_ms) >= 2:
            med = statistics.median(st.task_ms)
            if med > 0:
                ratios.append(max(st.task_ms) / med)
    return statistics.median(ratios) if ratios else 1.0
