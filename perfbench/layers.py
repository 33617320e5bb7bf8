"""Per-layer metrics of a traced run, per unit op.

Every figure is a total over the traced ops divided by their number, so
it reads as "per day", "per merge" or "per query". Spark work (jobs,
stages, tasks, bytes) comes from the event log and is attributed to spans
by time; span times and counts come from the wrappers in ``tracing``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from eventlog import EventLog, attribute
from stats import median, slope
from tracing import Span, self_times, subtree, union_length

# Span name -> layer, for self times. Names are "<layer>.<function>".
LAYERS = ("op", "pipeline", "ingest", "watermark", "tablestore", "fsio", "dictionary")

# Every per-layer metric the traced run prints, with its unit.
METRICS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.job_floor_ms": "ms", "driver.gap_s": "s", "driver.floor_share": "ratio",
    "watermark.probe_s": "s", "watermark.probe_bytes": "bytes",
    "ingest.s": "s", "ingest.rows": "count", "pipeline.v2_daily_load.self_s": "s",
    "tablestore.append_s": "s", "tablestore.compact_s": "s", "tablestore.delete_where_s": "s",
    "tablestore.files_written": "count", "tablestore.bytes_written": "bytes",
    "tablestore.write_amp": "ratio", "tablestore.partitions_rewritten": "count",
    "tablestore.merge_into_s": "s", "tablestore.merge.partitions_rewritten": "count",
    "tablestore.merge.bytes_rewritten_per_row_changed": "bytes",
    "tablestore.read_eq_s": "s", "tablestore.read_where_s": "s", "tablestore.latest_view_s": "s",
    "tablestore.partitions_scanned_ratio": "ratio", "scan.rows_read_per_row_returned": "ratio",
    "fsio.calls": "count", "fsio.s": "s",
    "dictionary.get_s": "s", "dictionary.enrich_s": "s", "broadcast.bytes": "bytes",
    "scan.bytes_read": "bytes", "scan.files_read": "count", "scan.bytes_read_day_slope": "bytes",
    "shuffle.read_bytes": "bytes", "shuffle.write_bytes": "bytes", "shuffle.exchanges": "count",
    "task.run_s": "s", "task.cpu_s": "s", "task.gc_s": "s", "task.stage_wall_s": "s",
    **{f"self.{layer}_s": "s" for layer in LAYERS},
    "trace.overhead_ms": "ms",
    "op.count": "count", "op.per_s": "1/s", "op.cpu_ms": "ms",
    "error_rate": "ratio",
}


@dataclass
class OpRecord:
    """One unit op: its wall time, whether the layer wrappers were on, its
    root span, what the workload reported, its CPU time and the store
    files it wrote."""

    index: int
    wall: float
    traced: bool
    span: Span
    info: dict
    cpu: float = 0.0
    files_written: int = 0
    bytes_written: int = 0
    net_bytes: int = 0
    partitions_rewritten: int = 0
    partitions: int = 0


def file_snapshot(root: str) -> dict[str, int]:
    """Relative path -> size of every Parquet file under ``root``."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def diff_files(rec: OpRecord, before: dict[str, int], after: dict[str, int]) -> None:
    """Files and bytes written, net growth, and pre-existing partition
    directories that lost a file (were rewritten) across one op."""
    new = [p for p in after if p not in before]
    rec.files_written = len(new)
    rec.bytes_written = sum(after[p] for p in new)
    rec.net_bytes = sum(after.values()) - sum(before.values())
    rec.partitions_rewritten = len({os.path.dirname(p) for p in before if p not in after})
    rec.partitions = len({os.path.dirname(p) for p in after})


def compute(spans: list[Span], records: list[OpRecord], log: EventLog,
            floor_ms: float, failed: int, attempted: int) -> dict[str, float]:
    traced = [r for r in records if r.traced]
    n = max(len(traced), 1)
    roots = {r.span.id: r for r in traced}
    in_op = subtree(spans, set(roots))
    # Event-log counts do not depend on the wrappers, so the history slope
    # uses every op, traced or not.
    in_any = subtree(spans, {r.span.id for r in records})
    by_id = {s.id: s for s in spans}

    names_up: dict[int, set[str]] = {}

    def chain(sid: int) -> set[str]:
        if sid not in names_up:
            sp = by_id[sid]
            up = chain(sp.parent) if sp.parent in by_id else set()
            names_up[sid] = up | {sp.name}
        return names_up[sid]

    def incl(name: str) -> float:
        return sum(s.dur for s in spans if s.name == name and s.id in in_op) / n

    # Jobs and SQL executions -> span -> traced op.
    jobs = sorted(log.jobs.values(), key=lambda j: j.submit)
    job_span = dict(zip((j.id for j in jobs), attribute([j.submit for j in jobs], spans)))
    execs = list(log.executions.values())
    exec_span = dict(zip((e.id for e in execs), attribute([e.time for e in execs], spans)))
    op_jobs: dict[int, list] = {sid: [] for sid in roots}
    any_jobs: dict[int, list] = {r.span.id: [] for r in records}
    probe_jobs = []
    for j in jobs:
        sid = job_span[j.id]
        if sid in in_any:
            any_jobs[in_any[sid]].append(j)
        if sid is None or sid not in in_op:
            continue
        op_jobs[in_op[sid]].append(j)
        if "watermark.probe" in chain(sid):
            probe_jobs.append(j)

    def stages_of(js):
        seen = {}
        for j in js:
            for s in j.stage_ids:
                st = log.stages.get(s)
                if st is not None and st.done:
                    seen[s] = st
        return list(seen.values())

    all_jobs = [j for js in op_jobs.values() for j in js]
    stages = stages_of(all_jobs)
    op_input = [sum(st.input_bytes for st in stages_of(any_jobs[r.span.id])) for r in records]

    gaps, walls = [], []
    for sid, rec in roots.items():
        sp = rec.span
        iv = [(max(j.submit / 1e3, sp.start), min(j.end / 1e3, sp.end)) for j in op_jobs[sid]]
        gaps.append(sp.dur - union_length([(a, b) for a, b in iv if b > a]))
        walls.append(sp.dur)
    n_jobs = len(all_jobs) / n
    gap = sum(gaps) / n
    wall = sum(walls) / n

    ex_m: dict[str, float] = {}
    scans_with_parts = 0
    for e in execs:
        sid = exec_span[e.id]
        if sid is None or sid not in in_op:
            continue
        for k, v in e.metrics.items():
            ex_m[k] = ex_m.get(k, 0) + v
        if e.metrics.get("partitions_read"):
            scans_with_parts += roots[in_op[sid]].partitions
    selfs = self_times([s for s in spans if s.id in in_op])
    layer_self = {layer: 0.0 for layer in LAYERS}
    for sid, t in selfs.items():
        layer = by_id[sid].name.split(".", 1)[0]
        if layer in layer_self:
            layer_self[layer] += t

    rows = sum(r.info.get("rows", 0) or r.info.get("changed", 0) for r in traced)
    changed = sum(r.info.get("changed", 0) for r in traced)
    merge_ops = [r for r in traced if "changed" in r.info]
    bytes_written = sum(r.bytes_written for r in traced)
    net = sum(r.net_bytes for r in traced)
    input_records = sum(st.input_records for st in stages)
    untraced = [r.wall for r in records if not r.traced]

    v2 = [s for s in spans if s.name == "pipeline.v2_daily_load" and s.id in in_op]
    out = {
        "spark.jobs": n_jobs,
        "spark.stages": len(stages) / n,
        "spark.tasks": sum(st.tasks for st in stages) / n,
        "spark.job_floor_ms": floor_ms,
        "driver.gap_s": gap,
        "driver.floor_share": (n_jobs * floor_ms / 1e3 + gap) / wall if wall else 0.0,
        "watermark.probe_s": incl("watermark.probe"),
        "watermark.probe_bytes": sum(st.input_bytes for st in stages_of(probe_jobs)) / n,
        "ingest.s": incl("ingest"),
        "ingest.rows": sum(s.attrs.get("rows") or 0 for s in spans if s.name == "ingest" and s.id in in_op) / n,
        "pipeline.v2_daily_load.self_s": sum(selfs[s.id] for s in v2) / n,
        "tablestore.append_s": incl("tablestore.append"),
        "tablestore.compact_s": incl("tablestore.compact"),
        "tablestore.delete_where_s": incl("tablestore.delete_where"),
        "tablestore.files_written": sum(r.files_written for r in traced) / n,
        "tablestore.bytes_written": bytes_written / n,
        "tablestore.write_amp": bytes_written / net if net > 0 else 0.0,
        "tablestore.partitions_rewritten": sum(r.partitions_rewritten for r in traced) / n,
        "tablestore.merge_into_s": incl("tablestore.merge_into"),
        "tablestore.merge.partitions_rewritten":
            sum(r.partitions_rewritten for r in merge_ops) / max(len(merge_ops), 1),
        "tablestore.merge.bytes_rewritten_per_row_changed":
            sum(r.bytes_written for r in merge_ops) / changed if changed else 0.0,
        "tablestore.read_eq_s": incl("tablestore.read_eq"),
        "tablestore.read_where_s": incl("tablestore.read_where"),
        "tablestore.latest_view_s": incl("tablestore.latest_view"),
        "tablestore.partitions_scanned_ratio":
            ex_m.get("partitions_read", 0) / scans_with_parts if scans_with_parts else 0.0,
        "scan.rows_read_per_row_returned": input_records / rows if rows else 0.0,
        "fsio.calls": sum(1 for s in spans if s.name.startswith("fsio.") and s.id in in_op) / n,
        "fsio.s": sum(s.dur for s in spans if s.name.startswith("fsio.") and s.id in in_op) / n,
        "dictionary.get_s": incl("dictionary.get"),
        "dictionary.enrich_s": incl("dictionary.enrich"),
        "broadcast.bytes": ex_m.get("broadcast_bytes", 0) / n,
        "scan.bytes_read": sum(st.input_bytes for st in stages) / n,
        "scan.files_read": ex_m.get("files_read", 0) / n,
        "scan.bytes_read_day_slope": slope([r.index for r in records], op_input),
        "shuffle.read_bytes": sum(st.shuffle_read for st in stages) / n,
        "shuffle.write_bytes": sum(st.shuffle_write for st in stages) / n,
        "shuffle.exchanges": sum(1 for st in stages if st.shuffle_write > 0) / n,
        "task.run_s": sum(st.run_ms for st in stages) / 1e3 / n,
        "task.cpu_s": sum(st.cpu_ns for st in stages) / 1e9 / n,
        "task.gc_s": sum(st.gc_ms for st in stages) / 1e3 / n,
        "task.stage_wall_s": sum(st.complete - st.submit for st in stages) / 1e3 / n,
        **{f"self.{layer}_s": layer_self[layer] / n for layer in LAYERS},
        "trace.overhead_ms": (median([r.wall for r in traced]) - median(untraced)) * 1e3 if untraced else 0.0,
        "op.count": len(records),
        "error_rate": failed / attempted if attempted else 0.0,
    }
    return out
