"""Tests for the benchmark's own helpers.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from eventlog import attribute, parse_lines  # noqa: E402
from stats import slope, tail  # noqa: E402
from tracing import Span, Tracer, self_times, subtree, union_length  # noqa: E402


def test_tail_needs_ten_beyond():
    assert tail(list(range(10))) is None
    assert tail([5.0] + [1.0] * 10) == (1.0, 100.0 / 11)
    value, pct = tail([float(x) for x in range(1, 101)])
    assert (value, pct) == (90.0, 90.0)
    value, pct = tail([float(x) for x in range(20, 0, -1)])
    assert (value, pct) == (10.0, 50.0)


def test_slope():
    assert slope([0, 1, 2, 3], [1.0, 3.0, 5.0, 7.0]) == 2.0
    assert slope([4], [1.0]) == 0.0
    assert slope([1, 1], [1.0, 2.0]) == 0.0


def test_union_counts_overlap_once():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0


def _span(i, start, end, parent=None, name="x"):
    return Span(i, name, start, parent, end)


def test_self_time_with_overlapping_children():
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 4.0, 1),
        _span(3, 3.0, 6.0, 1),  # overlaps span 2: covered once
        _span(4, 9.0, 12.0, 1),  # runs past its parent: clipped
        _span(5, 1.5, 2.0, 2),
    ]
    st = self_times(spans)
    assert st[1] == 10.0 - (5.0 + 1.0)
    assert st[2] == 3.0 - 0.5
    assert st[5] == 0.5


class _Clock:
    def __init__(self):
        self.t = 0.0
        self.lock = threading.Lock()

    def __call__(self):
        with self.lock:
            self.t += 1.0
            return self.t


def test_pool_thread_spans_keep_their_parent():
    tr = Tracer(clock=_Clock())
    op = tr.open("op")
    inner = tr.open("tablestore.merge_into")
    seen = []

    def work():
        sp = tr.open("tablestore.read")
        seen.append(sp)
        tr.close(sp)

    threads = [threading.Thread(target=work) for _ in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=10)
        assert not t.is_alive()
    tr.close(inner)
    tr.close(op)
    assert [sp.parent for sp in seen] == [inner.id] * 3
    assert inner.parent == op.id
    owner = subtree(tr.spans, {op.id})
    assert all(owner[sp.id] == op.id for sp in tr.spans)
    assert tr.open("later").parent is None


def test_patch_records_only_while_active_and_restores():
    class Store:
        def append(self, x):
            return x + 1

    tr = Tracer(clock=_Clock())
    orig = Store.__dict__["append"]
    tr.patch(Store, "append", "tablestore.append", on_result=lambda sp, out: sp.attrs.update(out=out))
    assert Store().append(1) == 2 and tr.spans == []
    tr.active = True
    assert Store().append(2) == 3
    assert [(s.name, s.attrs["out"]) for s in tr.spans] == [("tablestore.append", 3)]
    tr.restore()
    assert Store.__dict__["append"] is orig


def test_jobs_go_to_the_latest_started_open_span():
    spans = [
        _span(1, 0.0, 10.0, name="op"),
        _span(2, 1.0, 3.0, 1),
        _span(3, 2.0, 5.0, 1),  # a pool-thread sibling overlapping span 2
        _span(4, 20.0, 30.0, name="op"),
    ]
    ms = [500.0, 1500.0, 2500.0, 4000.0, 6000.0, 15000.0, 20000.0 - 0.5]
    assert attribute(ms, spans) == [1, 2, 3, 3, 1, None, 4]


def test_parse_lines_attributes_stage_task_and_driver_metrics():
    plan = {"nodeName": "Scan parquet ", "metrics": [
        {"name": "number of files read", "accumulatorId": 7},
        {"name": "number of partitions read", "accumulatorId": 8}], "children": []}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 3, "time": 999, "sparkPlanInfo": plan},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 5, "Executor CPU Time": 2_000_000, "JVM GC Time": 1,
            "Input Metrics": {"Bytes Read": 100, "Records Read": 10},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 40}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 7, "Input Metrics": {"Bytes Read": 50, "Records Read": 5}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Submission Time": 1001, "Completion Time": 1010}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
         "executionId": 3, "accumUpdates": [[7, 4], [8, 2], [99, 1000]]},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1020},
    ]
    log = parse_lines([json.dumps(e) for e in events] + ["{truncated"])
    job = log.jobs[0]
    assert (job.submit, job.end, job.stage_ids) == (1000, 1020, [0, 1])
    st = log.stages[0]
    assert st.done and st.tasks == 2 and st.input_bytes == 150 and st.input_records == 15
    assert (st.run_ms, st.cpu_ns, st.gc_ms, st.shuffle_write) == (12, 2_000_000, 1, 40)
    assert 1 not in log.stages  # listed by the job but never run
    assert log.executions[3].metrics == {"files_read": 4, "partitions_read": 2}
