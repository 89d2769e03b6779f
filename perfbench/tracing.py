"""In-memory span tracer and Spark event-log reader.

A span is (name, start, end, parent, trace id).  Spans live in memory and
are written out once, when the benchmark ends.  Spans of one request share
its ``X-Request-ID``; a server-side span with no parent on its own thread
is linked to the client span that opened the same trace.

Times are wall-clock epoch seconds, so spans can be matched against the
job submission times in Spark's event log.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    trace_id: str
    phase: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans from any thread.  ``phase`` tags every span opened
    while it is set, so set-up work can be told apart from the timed
    window."""

    def __init__(self):
        self.spans: list[Span] = []
        self.phase = "setup"
        self._lock = threading.Lock()
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._trace_roots: dict[str, int] = {}

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, trace_id: str | None = None, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        if trace_id is None:
            trace_id = parent.trace_id if parent else ""
        parent_id = parent.span_id if parent else self._trace_roots.get(trace_id)
        s = Span(next(self._ids), name, time.time(), 0.0, parent_id, trace_id,
                 self.phase, attrs)
        if parent is None and trace_id and trace_id not in self._trace_roots:
            with self._lock:
                self._trace_roots.setdefault(trace_id, s.span_id)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    def record(self, name: str, start: float, end: float, **attrs) -> None:
        """Add a finished span under the current one (for intervals that
        are not a call, such as the wait before a lease is granted)."""
        stack = self._stack()
        parent = stack[-1] if stack else None
        s = Span(next(self._ids), name, start, end,
                 parent.span_id if parent else None,
                 parent.trace_id if parent else "", self.phase, attrs)
        with self._lock:
            self.spans.append(s)

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans], **extra}, fh)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its child
    spans cover (overlapping children are counted once)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for a, b in sorted(children.get(s.span_id, [])):
            a, b = max(a, s.start), min(b, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.span_id] = s.duration - covered
    return out


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


def _count_exchanges(plan: dict) -> int:
    n = 1 if "Exchange" in plan.get("nodeName", "") else 0
    return n + sum(_count_exchanges(c) for c in plan.get("children", []))


def read_event_log(log_dir: str) -> dict:
    """Parse every event-log file under ``log_dir`` into per-job records:
    ``{job_id: {group, exec_id, submit, end, stages, tasks, task_s,
    failed_tasks, shuffle_read_bytes, shuffle_write_bytes, spill_bytes,
    input_bytes}}`` plus ``exchanges`` per SQL execution (Exchange nodes
    in its last, i.e. executed, plan)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    plans: dict[int, dict] = {}
    paths = sorted(os.path.join(root, n) for root, _, names in os.walk(log_dir)
                   for n in names if not n.startswith("."))
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    exec_id = props.get("spark.sql.execution.id")
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id") or "",
                        "exec_id": int(exec_id) if exec_id is not None else None,
                        "submit": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "stages": 0, "tasks": 0, "task_s": 0.0,
                        "failed_tasks": 0, "shuffle_read_bytes": 0,
                        "shuffle_write_bytes": 0, "spill_bytes": 0,
                        "input_bytes": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if jid in jobs:
                        jobs[jid]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    if jid not in jobs:
                        continue
                    j = jobs[jid]
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    j["tasks"] += 1
                    j["task_s"] += (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    if info.get("Failed") or reason not in (None, "Success"):
                        j["failed_tasks"] += 1
                    sr = m.get("Shuffle Read Metrics") or {}
                    j["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    j["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    j["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    j["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                elif kind in (_SQL_START, _SQL_AQE):
                    plans[int(ev["executionId"])] = ev["sparkPlanInfo"]
    return {
        "jobs": jobs,
        "exchanges": {eid: _count_exchanges(p) for eid, p in plans.items()},
    }


SPARK_SUMS = ("stages", "tasks", "task_s", "failed_tasks", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "input_bytes")


def group_stats(log: dict, groups: set[str] | None = None, jobs=None) -> dict:
    """Totals over the jobs of ``groups`` (or over the given job records):
    job count, each of :data:`SPARK_SUMS`, summed job wall time, and the
    Exchanges of the SQL executions the jobs belong to."""
    if jobs is None:
        jobs = [j for j in log["jobs"].values() if j["group"] in groups]
    out = {"jobs": len(jobs), "job_wall_s": 0.0}
    for k in SPARK_SUMS:
        out[k] = sum(j[k] for j in jobs)
    for j in jobs:
        if j["end"] is not None:
            out["job_wall_s"] += j["end"] - j["submit"]
    execs = {j["exec_id"] for j in jobs if j["exec_id"] is not None}
    out["exchanges"] = sum(log["exchanges"].get(e, 0) for e in execs)
    return out
