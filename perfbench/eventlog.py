"""Spark event-log parser with attribution of work to spans by time.

Jobs are attributed by the time they were submitted, not by job
description: a job belongs to the span with the latest start among the
spans open at its submission. That also catches jobs submitted from pool
threads, which carry no description. Stages and tasks follow their job;
SQL driver-side metrics (files and partitions read, broadcast size)
follow their SQL execution's start time.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

# Event-log times are whole milliseconds cut down from the JVM clock, so a
# job submitted just after a span opened can read up to 1 ms earlier.
SLACK_MS = 1.0

# (plan node name prefix, SQL metric name) -> key in Execution.metrics
DRIVER_METRICS = {
    ("Scan", "number of files read"): "files_read",
    ("Scan", "number of partitions read"): "partitions_read",
    ("BroadcastExchange", "data size"): "broadcast_bytes",
}


@dataclass
class Stage:
    id: int
    submit: float = 0.0
    complete: float = 0.0
    done: bool = False
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    input_bytes: int = 0
    input_records: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0


@dataclass
class Job:
    id: int
    submit: float
    end: float = 0.0
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class Execution:
    id: int
    time: float
    metrics: dict[str, int] = field(default_factory=dict)


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, Stage]
    executions: dict[int, Execution]


def _plan_accums(node: dict, out: dict[int, str]) -> None:
    for (prefix, metric), key in DRIVER_METRICS.items():
        if node.get("nodeName", "").startswith(prefix):
            for m in node.get("metrics", []):
                if m.get("name") == metric:
                    out[m["accumulatorId"]] = key
    for child in node.get("children", []):
        _plan_accums(child, out)


def _task(stage: Stage, metrics: dict) -> None:
    stage.tasks += 1
    stage.run_ms += metrics.get("Executor Run Time", 0)
    stage.cpu_ns += metrics.get("Executor CPU Time", 0)
    stage.gc_ms += metrics.get("JVM GC Time", 0)
    inp = metrics.get("Input Metrics") or {}
    stage.input_bytes += inp.get("Bytes Read", 0)
    stage.input_records += inp.get("Records Read", 0)
    sr = metrics.get("Shuffle Read Metrics") or {}
    stage.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    sw = metrics.get("Shuffle Write Metrics") or {}
    stage.shuffle_write += sw.get("Shuffle Bytes Written", 0)


def parse_lines(lines) -> EventLog:
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    execs: dict[int, Execution] = {}
    accum_key: dict[int, str] = {}
    driver_updates: list[tuple[int, int, int]] = []
    for line in lines:
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue  # a log cut off mid-line by a crash
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = Job(
                ev["Job ID"], ev["Submission Time"], stage_ids=list(ev.get("Stage IDs", []))
            )
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            st.submit = info.get("Submission Time") or 0
            st.complete = info.get("Completion Time") or 0
            st.done = True
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
            _task(st, ev.get("Task Metrics") or {})
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            execs[ev["executionId"]] = Execution(ev["executionId"], ev["time"])
            _plan_accums(ev.get("sparkPlanInfo") or {}, accum_key)
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_accums(ev.get("sparkPlanInfo") or {}, accum_key)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in ev.get("accumUpdates", []):
                driver_updates.append((ev["executionId"], acc_id, value))
    for exec_id, acc_id, value in driver_updates:
        key = accum_key.get(acc_id)
        if key is not None and exec_id in execs:
            m = execs[exec_id].metrics
            m[key] = m.get(key, 0) + int(value)
    return EventLog(jobs, stages, execs)


def parse_file(path: str) -> EventLog:
    """Parse a single-file (not rolling) event log."""
    with open(path) as fh:
        return parse_lines(fh)


def attribute(times_ms: list[float], spans) -> list[int | None]:
    """For each time, the id of the span with the latest start among the
    spans whose [start, end] holds it (span times in seconds)."""
    iv = sorted(((s.start * 1000.0, s.end * 1000.0, s.id) for s in spans), key=lambda x: x[0])
    out: list[int | None] = []
    for t in times_ms:
        best = None
        for start, end, sid in iv:
            if start - SLACK_MS > t:
                break
            if t <= end:
                best = sid
        out.append(best)
    return out
