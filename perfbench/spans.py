"""Spans around layer calls, and Spark's own counts for each span.

The benchmark wraps every call into a package module in
``Tracer.span(layer, op)``.  A span records name, start, end, parent
and operation id in memory; when tracing is on it also labels the
Spark jobs the call submits with ``setJobGroup(<span id>, <layer>)``
so the event log attributes them.  ``spark_counts`` reads that event
log after the session stops and sums, per span, the task metrics of
its jobs: jobs, stages, tasks, shuffle read/write bytes, spill bytes,
input records/bytes, output records/bytes, executor run time (busy
time) and task wait (stage submit to task launch).  A job without a
group label (streaming micro-batches run on their own thread) falls to
the innermost span open at its submission time.

A layer's self time is its span minus the part covered by its child
spans (``self_times``).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

COUNT_KEYS = (
    "jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
    "shuffle_read_records", "shuffle_write_records", "spill_bytes",
    "input_records", "input_bytes", "output_records", "output_bytes",
    "busy_s", "task_wait_s", "files_read", "files_written",
)


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; ``enabled=False`` still times spans
    (the untraced run needs op latencies) but sets no job groups."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.sc = None  # SparkContext, set once a session exists

    @contextlib.contextmanager
    def span(self, name: str, op: int = -1):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, op if op >= 0 or parent is None else parent.op,
                 parent.id if parent else None, time.time())
        self.spans.append(s)
        self._stack.append(s)
        if self.enabled and self.sc is not None:
            self.sc.setJobGroup(str(s.id), name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.enabled and self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(str(parent.id), parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def self_times(self) -> dict[int, float]:
        child_wall: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_wall[s.parent] += s.wall
        return {s.id: s.wall - child_wall[s.id] for s in self.spans}

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            json.dump(
                [{"id": s.id, "name": s.name, "op": s.op, "parent": s.parent,
                  "start": s.start, "end": s.end, "self_s": selfs[s.id], "counts": s.counts}
                 for s in self.spans],
                fh,
            )


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _events(log_dir: str):
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        files = sorted(glob.glob(os.path.join(path, "events_*"))) if os.path.isdir(path) else [path]
        for f in files:
            with open(f, encoding="utf-8") as fh:
                for line in fh:
                    try:
                        yield json.loads(line)
                    except json.JSONDecodeError:
                        continue  # a torn last line of an unclosed log


# SQL metrics the driver posts (file listing and write stats), by name
_DRIVER_METRICS = {"number of files read": "files_read",
                   "number of written files": "files_written"}


def _plan_metric_names(node: dict, out: dict[int, str]) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in node.get("children", []):
        _plan_metric_names(child, out)


def spark_counts(log_dir: str, tracer: Tracer) -> None:
    """Fill ``span.counts`` for every span from the event log(s) in
    ``log_dir`` (read after every session has stopped)."""
    by_start = sorted(tracer.spans, key=lambda s: s.start)

    def innermost(ts_ms: float) -> Span | None:
        t = ts_ms / 1000.0
        best = None
        for s in by_start:
            if s.start > t:
                break
            if s.end >= t and (best is None or s.start >= best.start):
                best = s
        return best

    span_of_stage: dict[tuple, Span] = {}
    span_of_exec: dict[tuple, Span] = {}
    stage_submit: dict[tuple, float] = {}
    metric_names: dict[int, str] = {}
    app = 0
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerApplicationStart":
            app += 1
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            span = None
            if group is not None and group.isdigit() and int(group) < len(tracer.spans):
                span = tracer.spans[int(group)]
            if span is None:
                span = innermost(ev.get("Submission Time", 0))
            if span is None:
                continue
            span.counts["jobs"] = span.counts.get("jobs", 0) + 1
            for sid in ev.get("Stage IDs", []):
                span_of_stage[(app, sid)] = span
            ex = props.get("spark.sql.execution.id")
            if ex is not None:
                span_of_exec.setdefault((app, ex), span)
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            stage_submit[(app, info["Stage ID"])] = info.get("Submission Time") or 0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            span = span_of_stage.get((app, info["Stage ID"]))
            if span is not None and info.get("Submission Time") is not None:
                span.counts["stages"] = span.counts.get("stages", 0) + 1
        elif kind == "SparkListenerTaskEnd":
            span = span_of_stage.get((app, ev["Stage ID"]))
            if span is None:
                continue
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            inp = m.get("Input Metrics") or {}
            out = m.get("Output Metrics") or {}
            c = span.counts
            submitted = stage_submit.get((app, ev["Stage ID"]))
            for key, val in (
                ("tasks", 1),
                ("shuffle_read_bytes", sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)),
                ("shuffle_read_records", sr.get("Total Records Read", 0)),
                ("shuffle_write_bytes", sw.get("Shuffle Bytes Written", 0)),
                ("shuffle_write_records", sw.get("Shuffle Records Written", 0)),
                ("spill_bytes", m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)),
                ("input_records", inp.get("Records Read", 0)),
                ("input_bytes", inp.get("Bytes Read", 0)),
                ("output_records", out.get("Records Written", 0)),
                ("output_bytes", out.get("Bytes Written", 0)),
                ("busy_s", m.get("Executor Run Time", 0) / 1000.0),
                ("task_wait_s", max(0, info.get("Launch Time", 0) - submitted) / 1000.0
                 if submitted else 0.0),
            ):
                c[key] = c.get(key, 0) + val
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_metric_names(ev.get("sparkPlanInfo") or {}, metric_names)
            if kind.endswith("SparkListenerSQLExecutionStart"):
                span = innermost(ev.get("time", 0))
                if span is not None:
                    span_of_exec.setdefault((app, ev["executionId"]), span)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            span = span_of_exec.get((app, ev["executionId"]))
            if span is None:
                continue
            for acc_id, val in ev.get("accumUpdates", []):
                key = _DRIVER_METRICS.get(metric_names.get(acc_id))
                if key:
                    span.counts[key] = span.counts.get(key, 0) + int(val)


def totals(spans: list[Span]) -> dict[str, float]:
    out = {k: 0 for k in COUNT_KEYS}
    for s in spans:
        for k, v in s.counts.items():
            out[k] += v
    return out
