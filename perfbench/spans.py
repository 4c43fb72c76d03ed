"""Span recorder and Spark event-log parser for the traced run.

A span is (name, id, parent, run, start, end) around one call the
benchmark makes into a layer's public function. Calls that the program
makes internally (inside ``start_index_stream``'s batch function) are
caught by wrapping the module attributes the program looks up at call
time. Spans stay in memory and are written once, at exit.

Each span also sets a Spark job group ``pb-<id>``. Jobs the program
launches from its own worker threads carry no group; they are given to
the innermost span open when the job was submitted. Load comes from
one process and the spans nest, so the time window is unambiguous.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import threading
import time
import uuid

GROUP_PREFIX = "pb-"


class Tracer:
    """Records spans; a disabled tracer is a no-op context manager."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._wrapped: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        with self._lock:
            sid = next(self._ids)
            parent = self._stack[-1] if self._stack else None
            self._stack.append(sid)
        sc = self.spark.sparkContext if self.spark is not None else None
        prev = None
        if sc is not None:
            prev = (sc.getLocalProperty("spark.jobGroup.id"),
                    sc.getLocalProperty("spark.job.description"))
            sc.setJobGroup(f"{GROUP_PREFIX}{sid}", name)
        rec = {"name": name, "id": sid, "parent": parent, "run": self.run_id,
               "start": time.time(), "end": None, **attrs}
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", prev[0])
                sc.setLocalProperty("spark.job.description", prev[1])
            with self._lock:
                self._stack.remove(sid)
                self.spans.append(rec)

    def wrap(self, module, attr: str, name: str, before=None, annotate=None) -> None:
        """Replace ``module.attr`` by a spanned wrapper (undone by unwrap).

        ``before()`` returns extra span fields known at call time;
        ``annotate(result)`` returns fields read off the call's result."""
        if not self.enabled:
            return
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def spanned(*a, **kw):
            with self.span(name, **(before() if before else {})) as rec:
                res = fn(*a, **kw)
                if annotate is not None:
                    rec.update(annotate(res))
                return res

        setattr(module, attr, spanned)
        self._wrapped.append((module, attr, fn))

    def unwrap(self) -> None:
        for module, attr, fn in reversed(self._wrapped):
            setattr(module, attr, fn)
        self._wrapped.clear()

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans, **extra}, f, indent=1)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, hi = 0.0, s["start"]
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, hi), min(b, s["end"])
            if b > a:
                covered += b - a
                hi = b
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


# ------------------------------------------------------ event-log parsing --

_WRITE_METRICS = {
    "number of written files": "files_written",
    "written output": "bytes_written",
    "number of dynamic part": "partitions_written",
}
_SCAN_METRICS = {
    "number of files read": "files_read",
    "size of files read": "bytes_read",
}


def _plan_metrics(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for c in node.get("children", []):
        _plan_metrics(c, out)


def _new_stats() -> dict:
    return {
        "jobs": 0, "stages": 0, "tasks": 0, "executor_run_ms": 0, "gc_ms": 0,
        "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
        "peak_exec_mem": 0, "files_written": 0,
        "bytes_written": 0, "partitions_written": 0, "files_read": 0,
        "bytes_read": 0,
    }


def parse_event_log(paths: list[str], spans: list[dict]) -> dict:
    """Per-span Spark stats from an uncompressed event log.

    Jobs map to spans by job group, else by the innermost span open at
    submission; stages and tasks follow their job; SQL driver metrics
    (files and bytes read by scans, files, bytes and partitions written
    by writes) follow their execution's first job, else its start time.
    Returns {"by_span": {id: stats}}.
    """
    by_id = {s["id"]: s for s in spans}
    depth = {}
    for s in spans:
        d, p = 0, s["parent"]
        while p is not None:
            d, p = d + 1, by_id[p]["parent"]
        depth[s["id"]] = d

    def at(t_ms: float):
        t = t_ms / 1000.0
        best = None
        for s in spans:
            if s["start"] <= t <= s["end"] and (best is None or depth[s["id"]] > depth[best]):
                best = s["id"]
        return best

    job_span, stage_job, exec_span, exec_start = {}, {}, {}, {}
    acc_names: dict[int, str] = {}
    stats: dict = {}

    def add(sid, key, v, peak=False):
        d = stats.setdefault(sid, _new_stats())
        d[key] = max(d[key], v) if peak else d[key] + v

    for line in _lines(paths):
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            g = props.get("spark.jobGroup.id") or ""
            sid = int(g[len(GROUP_PREFIX):]) if g.startswith(GROUP_PREFIX) else None
            if sid not in by_id:
                sid = at(ev["Submission Time"])
            job_span[ev["Job ID"]] = sid
            for st in ev.get("Stage IDs", []):
                stage_job.setdefault(st, ev["Job ID"])
            add(sid, "jobs", 1)
            eid = props.get("spark.sql.execution.id")
            if eid is not None and int(eid) not in exec_span:
                exec_span[int(eid)] = sid
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            add(job_span.get(stage_job.get(info["Stage ID"])), "stages", 1)
        elif kind == "SparkListenerTaskEnd":
            sid = job_span.get(stage_job.get(ev["Stage ID"]))
            m = ev.get("Task Metrics") or {}
            add(sid, "tasks", 1)
            add(sid, "executor_run_ms", m.get("Executor Run Time", 0))
            add(sid, "gc_ms", m.get("JVM GC Time", 0))
            sr = m.get("Shuffle Read Metrics") or {}
            add(sid, "shuffle_read_bytes", sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0))
            add(sid, "shuffle_write_bytes", (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
            add(sid, "spill_bytes", m.get("Disk Bytes Spilled", 0))
            add(sid, "peak_exec_mem", m.get("Peak Execution Memory", 0), peak=True)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            exec_start[ev["executionId"]] = ev["time"]
            _plan_metrics(ev.get("sparkPlanInfo", {}), acc_names)
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_metrics(ev.get("sparkPlanInfo", {}), acc_names)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            eid = ev["executionId"]
            sid = exec_span.get(eid)
            if sid is None and eid in exec_start:
                sid = at(exec_start[eid])
            for acc, val in ev.get("accumUpdates", []):
                name = acc_names.get(acc)
                key = _WRITE_METRICS.get(name) or _SCAN_METRICS.get(name)
                if key:
                    add(sid, key, val)
    return {"by_span": stats}


def _lines(paths: list[str]):
    for p in paths:
        with open(p) as f:
            yield from f


def find_event_log(log_dir: str) -> list[str]:
    """The finished application's event-log files, in order (a single
    file, or the ``events_<n>_*`` parts of a rolling log directory)."""
    apps = [os.path.join(log_dir, n) for n in os.listdir(log_dir)
            if not n.startswith(".") and not n.endswith(".inprogress")]
    if len(apps) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {apps}")
    if not os.path.isdir(apps[0]):
        return apps
    parts = [n for n in os.listdir(apps[0]) if n.startswith("events_")]
    return [os.path.join(apps[0], n) for n in sorted(parts, key=lambda n: int(n.split("_")[1]))]
