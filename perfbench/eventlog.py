"""Spark event-log reduction and benchmark-side layer spans.

``Tracer.span(name)`` wraps a layer call: it times the call and tags every
Spark job the call starts with ``setJobGroup(name)``. After the session
stops, ``parse_event_log`` reduces the uncompressed, non-rolling event log
to one counter record per job group, and ``self_times`` subtracts child
spans from their parents.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict

COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
)
UNGROUPED = "(none)"


def event_log_conf(log_dir: str) -> dict:
    """Session settings that make the event log one plain JSON-lines file."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def find_event_log(log_dir: str) -> str:
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return os.path.join(log_dir, files[0])


def _empty() -> dict:
    rec = {k: 0 for k in COUNTERS}
    rec["records_read"] = {}
    return rec


def parse_event_log(path: str, scan_markers: dict[str, str] | None = None) -> dict:
    """{job group: counters}. ``scan_markers`` maps a label to a substring of
    an input path; ``records_read[label]`` sums the input records read by the
    tasks of SQL executions whose physical plan mentions that path."""
    scan_markers = scan_markers or {}
    exec_plan: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_exec: dict[int, int | None] = {}
    stage_job: dict[int, int] = {}
    out: dict[str, dict] = defaultdict(_empty)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind.endswith("SparkListenerSQLExecutionStart"):
                exec_plan[ev["executionId"]] = ev.get("physicalPlanDescription", "")
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                job_group[jid] = props.get("spark.jobGroup.id") or UNGROUPED
                eid = props.get("spark.sql.execution.id")
                job_exec[jid] = int(eid) if eid is not None else None
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
                out[job_group[jid]]["jobs"] += 1
            elif kind == "SparkListenerStageCompleted":
                jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                if jid is not None:
                    out[job_group[jid]]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if jid is None or not m:
                    continue
                rec = out[job_group[jid]]
                rec["tasks"] += 1
                rec["executor_run_s"] += m["Executor Run Time"] / 1e3
                rec["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
                rec["gc_s"] += m["JVM GC Time"] / 1e3
                rec["spill_mb"] += m["Disk Bytes Spilled"] / 1e6
                rec["shuffle_write_mb"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 1e6
                rd = m["Shuffle Read Metrics"]
                rec["shuffle_read_mb"] += (rd["Remote Bytes Read"] + rd["Local Bytes Read"]) / 1e6
                plan = exec_plan.get(job_exec.get(jid), "")
                for label, marker in scan_markers.items():
                    if marker in plan:
                        rr = rec["records_read"]
                        rr[label] = rr.get(label, 0) + m["Input Metrics"]["Records Read"]
    return dict(out)


def total(groups: dict, names) -> dict:
    """Counters summed over the given job groups."""
    acc = _empty()
    for name in names:
        rec = groups.get(name)
        if rec is None:
            continue
        for k in COUNTERS:
            acc[k] += rec[k]
        for label, n in rec["records_read"].items():
            acc["records_read"][label] = acc["records_read"].get(label, 0) + n
    return acc


class Tracer:
    """In-memory span list; a span's job group is its own name, so the
    event log attributes Spark work to the innermost open span."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        if self.sc is not None:
            self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if parent is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    self.sc.setJobGroup(parent, parent)
            self.spans.append({"name": name, "parent": parent, "start": t0, "end": t1})

    def wall(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span duration minus the part its direct children cover, summed per
    name (children of one span never overlap: the tracer is sequential)."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    own = defaultdict(float)
    for s in spans:
        own[s["name"]] += s["end"] - s["start"]
    return {k: v - child.get(k, 0.0) for k, v in own.items()}
