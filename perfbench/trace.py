"""Traced-run collectors: spans recorded around the engine calls, and the
per-layer counters Spark already exposes (streaming progress, the Catalyst
phase tracker, job groups and the event log)."""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """Spans ``(name, start, end, parent, run id)`` kept in memory and written
    once by :meth:`dump`.  A disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, start: float | None = None):
        """Span around the block; ``start`` backdates it (e.g. to process start)."""
        if not self.enabled:
            yield
            return
        idx = self.add(name, time.time() if start is None else start, None)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.time()

    def add(self, name: str, start: float, end: float | None) -> int:
        """Record a span under the innermost open one; returns its index."""
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"name": name, "start": start, "end": end,
                           "parent": parent, "run": self.run_id})
        return len(self.spans) - 1

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Per span name, the summed duration not covered by child spans."""
        covered = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, covered):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - c
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f, indent=1)


def catalyst_phases(df) -> dict[str, float]:
    """Analysis, optimization and planning time (ms) of ``df``'s own query
    execution, read from ``QueryExecution.tracker()`` after forcing its
    physical plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        out[name] = float(p.get().durationMs()) if p.isDefined() else 0.0
    return out


#: SQL metrics of the Python operators (PythonSQLMetrics), by metric name.
_PY_METRICS = {
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_received",
    "number of output rows": "py_rows_received",
}


def _is_python_node(name: str) -> bool:
    return "Python" in name or "Pandas" in name or "Arrow" in name


def _python_metric_ids(plan: dict, out: dict[int, str]) -> None:
    """Accumulator id -> key for the metrics of every Python node in a
    ``sparkPlanInfo`` tree (the first metric of each name per node)."""
    if _is_python_node(plan["nodeName"]):
        seen = set()
        for m in plan["metrics"]:
            key = _PY_METRICS.get(m["name"])
            if key and key not in seen:
                seen.add(key)
                out[m["accumulatorId"]] = key
    for child in plan["children"]:
        _python_metric_ids(child, out)


def _read_event_log(log_dir: str):
    """Events of the one application logged under ``log_dir``, in order
    (the log may be a single file or a directory of rolled files)."""
    files = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs
        if f.startswith("events_") or f.startswith("local-")
    )
    if not files:
        raise RuntimeError(f"no event log under {log_dir}")
    for path in files:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


_TASK_KEYS = ("task_run_ms", "task_cpu_ms", "gc_ms", "shuffle_write_bytes",
              "shuffle_read_bytes", "py_bytes_sent", "py_bytes_received",
              "py_rows_received", "py_stage_task_ms")


def event_log_layers(log_dir: str, op_of_job) -> dict[int, dict]:
    """Per operation, JVM stage execution, shuffle, driver and Python-lane
    totals from the event log.  ``op_of_job(properties)`` maps a job's
    properties to an operation index, or ``None`` for jobs outside any
    timed operation."""
    py_ids: dict[int, str] = {}
    job_op: dict[int, int] = {}
    job_span: dict[int, list] = {}
    stage_op: dict[int, int] = {}
    per_op: dict[int, dict] = {}
    for ev in _read_event_log(log_dir):
        kind = ev["Event"]
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _python_metric_ids(ev["sparkPlanInfo"], py_ids)
        elif kind == "SparkListenerJobStart":
            op = op_of_job(ev.get("Properties") or {})
            if op is None:
                continue
            job_op[ev["Job ID"]] = op
            job_span[ev["Job ID"]] = [ev["Submission Time"], None]
            for sid in ev["Stage IDs"]:
                stage_op.setdefault(sid, op)
            if op not in per_op:
                per_op[op] = dict.fromkeys(_TASK_KEYS, 0) | {"max_task_ms": 0, "stages": set()}
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_span:
            job_span[ev["Job ID"]][1] = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_op:
            acc = per_op[stage_op[ev["Stage ID"]]]
            m = ev.get("Task Metrics") or {}
            info = ev["Task Info"]
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            acc["stages"].add(ev["Stage ID"])
            acc["task_run_ms"] += m.get("Executor Run Time", 0)
            acc["task_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            acc["gc_ms"] += m.get("JVM GC Time", 0)
            acc["max_task_ms"] = max(acc["max_task_ms"], info["Finish Time"] - info["Launch Time"])
            acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            acc["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                          + sr.get("Local Bytes Read", 0))
            python_task = False
            for a in info.get("Accumulables", []):
                key = py_ids.get(a["ID"])
                if key:
                    python_task = True
                    acc[key] += int(a.get("Update", 0))
            if python_task:
                acc["py_stage_task_ms"] += m.get("Executor Run Time", 0)
    for op, acc in per_op.items():
        acc["jobs"] = sum(1 for o in job_op.values() if o == op)
        acc["stages"] = len(acc["stages"])
        acc["job_intervals"] = [tuple(job_span[j]) for j, o in job_op.items()
                                if o == op and job_span[j][1] is not None]
    return per_op


def uncovered_ms(start_ms: float, end_ms: float, intervals) -> float:
    """Part of ``[start_ms, end_ms]`` covered by none of ``intervals``."""
    covered, cursor = 0.0, start_ms
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, end_ms)
        if b > a:
            covered += b - a
            cursor = b
    return (end_ms - start_ms) - covered
