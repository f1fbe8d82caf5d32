"""Tracing for the benchmark: spans recorded around calls into the
package's layers, Spark job groups per op phase, and the Spark event log
parsed into per-layer counters.

Everything here sits outside the package: spans wrap the benchmark's own
calls (``Context.sql``, registry builders, the noop sink, ANN build and
probe calls, streaming runs), and the counters come from Spark's public
event log, written only when tracing is on.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # seconds since the tracer's origin (perf_counter based)
    end: float
    parent: int | None
    trace_id: str | None
    pass_no: int | None
    group: str | None = None  # Spark job group set for this span, if any

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Records spans in memory when ``on``; otherwise every call is a
    cheap no-op, so the untraced run times the same code path."""

    on: bool
    spark: object = None
    spans: list[Span] = field(default_factory=list)
    origin_perf: float = field(default_factory=time.perf_counter)
    origin_wall: float = field(default_factory=time.time)
    _stack: list[int] = field(default_factory=list)
    trace_id: str | None = None
    pass_no: int | None = None

    def now(self) -> float:
        return time.perf_counter() - self.origin_perf

    def wall_ms(self, t: float) -> float:
        """Tracer time -> epoch milliseconds (the event log's clock)."""
        return (self.origin_wall + t) * 1000.0

    @contextmanager
    def span(self, name: str, phase: str | None = None):
        """Span around one call into a layer. With ``phase``, the Spark job
        group is set to ``<trace id>|<phase>`` for the span's duration, so
        jobs launched inside it are attributed to this op and phase."""
        if not self.on:
            yield
            return
        group = None
        sc = self.spark.sparkContext if self.spark is not None else None
        if phase is not None and sc is not None:
            group = f"{self.trace_id}|{phase}"
            sc.setJobGroup(group, name)
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, self.now(), 0.0, parent, self.trace_id, self.pass_no, group))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = self.now()
            if group is not None:
                # restore the enclosing span's group (or none)
                outer = next(
                    (self.spans[i].group for i in reversed(self._stack) if self.spans[i].group),
                    None,
                )
                if outer:
                    sc.setJobGroup(outer, "")
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the part of it covered by child
        spans, summed over all spans of that name."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            covered = _union_length([(c.start, c.end) for c in children[i]], s.start, s.end)
            out[s.name] += s.duration - covered
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        rows = [
            {
                "id": i,
                "name": s.name,
                "start_s": s.start,
                "end_s": s.end,
                "parent": s.parent,
                "trace_id": s.trace_id,
                "pass": s.pass_no,
                "job_group": s.group,
            }
            for i, s in enumerate(self.spans)
        ]
        with open(path, "w") as f:
            json.dump({"spans": rows, "self_time_s": self.self_times(), **extra}, f, indent=1)


def _union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


# --------------------------------------------------------------- event log

# Spark's Python SQL metrics (display name -> counter name)
_PY_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_boot_s",
    "data sent to Python workers": "python_bytes_sent",
}
_PY_NODE_HINTS = ("Python", "Pandas", "Arrow")


def _walk_plan(node: dict, py_acc: dict[int, tuple[str, str]]) -> None:
    metrics = node.get("metrics", [])
    names = {m.get("name") for m in metrics}
    is_python = any(h in node.get("nodeName", "") for h in _PY_NODE_HINTS) or bool(
        names & set(_PY_METRICS)
    )
    if is_python:
        for m in metrics:
            key = _PY_METRICS.get(m.get("name"))
            if key is None and m.get("name") == "number of output rows":
                key = "python_rows_received"
            if key is not None:
                py_acc[int(m["accumulatorId"])] = (key, m.get("metricType", ""))
    for c in node.get("children", []):
        _walk_plan(c, py_acc)


def _scale(metric_type: str) -> float:
    return {"nsTiming": 1e-9, "timing": 1e-3}.get(metric_type, 1.0)


def read_event_log(log_dir: str) -> list[dict]:
    events: list[dict] = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if os.path.isfile(path):
            with open(path) as f:
                events.extend(json.loads(line) for line in f if line.strip())
    return events


def job_counters(events: list[dict], attribute) -> dict[tuple[str, str], dict[str, float]]:
    """Task and scheduling counters per (trace id, phase).

    ``attribute(group, submit_ms)`` maps a job's Spark job group and
    submission time to a (trace id, phase) key or None; stage and task
    counters follow the job that submitted the stage."""
    py_acc: dict[int, tuple[str, str]] = {}
    stage_key: dict[int, tuple[str, str]] = {}
    out: dict[tuple[str, str], dict[str, float]] = defaultdict(lambda: defaultdict(float))
    task_runs: dict[int, list[float]] = defaultdict(list)
    stage_span: dict[int, float] = {}

    for ev in events:
        kind = ev.get("Event", "")
        if kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _walk_plan(ev.get("sparkPlanInfo", {}), py_acc)
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            key = attribute(props.get("spark.jobGroup.id"), ev.get("Submission Time", 0))
            if key is None:
                continue
            out[key]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_key.setdefault(sid, key)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            key = stage_key.get(info["Stage ID"])
            if key is None or "Submission Time" not in info:
                continue
            out[key]["stages"] += 1
            stage_span[info["Stage ID"]] = info.get("Completion Time", 0) - info["Submission Time"]
        elif kind == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            key = stage_key.get(sid)
            tm = ev.get("Task Metrics")
            if key is None or not tm:
                continue
            ti = ev["Task Info"]
            c = out[key]
            c["tasks"] += 1
            run_ms = tm.get("Executor Run Time", 0)
            task_runs[sid].append(run_ms)
            c["executor_run_s"] += run_ms / 1e3
            c["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            c["result_bytes"] += tm.get("Result Size", 0)
            c["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            inp = tm.get("Input Metrics", {})
            c["input_bytes"] += inp.get("Bytes Read", 0)
            c["input_records"] += inp.get("Records Read", 0)
            sr = tm.get("Shuffle Read Metrics", {})
            c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            c["shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            duration = ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
            fetch = 0
            if ti.get("Getting Result Time", 0) > 0:
                fetch = ti["Finish Time"] - ti["Getting Result Time"]
            delay = (
                duration
                - tm.get("Executor Deserialize Time", 0)
                - run_ms
                - tm.get("Result Serialization Time", 0)
                - fetch
            )
            c["scheduler_delay_s"] += max(0, delay) / 1e3
            for acc in ti.get("Accumulables", []):
                hit = py_acc.get(int(acc.get("ID", -1)))
                if hit is not None:
                    name, mtype = hit
                    c[name] += float(acc.get("Update", 0) or 0) * _scale(mtype)

    # task skew: in each key's longest stage, longest task / median task
    longest: dict[tuple[str, str], tuple[float, int]] = {}
    for sid, key in stage_key.items():
        if sid in stage_span and (key not in longest or stage_span[sid] > longest[key][0]):
            longest[key] = (stage_span[sid], sid)
    for key, (_, sid) in longest.items():
        runs = task_runs.get(sid)
        if runs:
            med = statistics.median(runs)
            out[key]["task_skew"] = max(runs) / med if med > 0 else 1.0
    return {k: dict(v) for k, v in out.items()}
