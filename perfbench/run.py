#!/usr/bin/env python3
"""Day-N ELT benchmark for the engine, one workload per invocation.

    python3 perfbench/run.py --workload elt_daily --seed 1 --seconds 7 --trace 0

Run from the repository root. The engine is imported from the source tree
next to this directory; without it the benchmark exits non-zero and prints
no result. Everything the run writes stays under ``.perfbench_work/`` in
that root and is removed at the end.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the Spark event log is on, ops alternate between
running with and without the layer wrappers, and the last line carries
the per-layer metrics. The
line before the last always has the run's environment and per-op
figures; in a traced run it also has span self times and the
floor-bound verdict.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FLOOR_JOBS = 12
SETUP_REPEATS = 3  # store seedings a run; setup_s is their median
DEADLINE_S = 170  # the run must end well within 180 s


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def session(work: str, trace: bool, cores: int):
    from from_superset_to_clickhouse_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "1g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            # A fixed-size heap, so peak memory does not track how far
            # the collector chose to grow it.
            f"-Xms1g -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
    }
    if trace:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=60)


def cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the driver JVM and this process. Time the
    hypervisor gave to other guests (steal) is not in it."""
    with open(f"/proc/{jvm_pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()  # fields from 3 on
    t = os.times()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK") + t.user + t.system


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(spark) -> float:
    import resource

    def hwm_kb(pid) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    jvm = jvm_pid(spark)
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (hwm_kb(jvm) + py) / 1024.0


def job_floor_ms(spark) -> float:
    """Median wall time of a trivial one-task job."""
    walls = []
    for _ in range(FLOOR_JOBS):
        t0 = time.perf_counter()
        spark.range(0, 1, 1, 1).write.format("noop").mode("overwrite").save()
        walls.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(walls)


def install_wrappers(tracer) -> None:
    from from_superset_to_clickhouse_spark import watermark
    from from_superset_to_clickhouse_spark.dictionary import DictionaryRegistry
    from from_superset_to_clickhouse_spark.fsio import Fs
    from from_superset_to_clickhouse_spark.operators import ingest
    from from_superset_to_clickhouse_spark.plans import reference_pipelines
    from from_superset_to_clickhouse_spark.tablestore import TableStore

    def rows(sp, out):
        sp.attrs["rows"] = out

    tracer.patch(watermark, "probe", "watermark.probe")
    # reference_pipelines binds ``ingest`` at import, so wrap both names.
    tracer.patch(ingest, "ingest", "ingest", on_result=rows)
    tracer.patch(reference_pipelines, "ingest", "ingest", on_result=rows)
    tracer.patch(reference_pipelines, "v2_daily_load", "pipeline.v2_daily_load")
    for cls, layer in ((TableStore, "tablestore"), (Fs, "fsio")):
        for attr, val in list(vars(cls).items()):
            if not attr.startswith("_") and callable(val) and not isinstance(val, type):
                tracer.patch(cls, attr, f"{layer}.{attr}")
    tracer.patch(DictionaryRegistry, "get", "dictionary.get")
    tracer.patch(DictionaryRegistry, "enrich", "dictionary.enrich")


def _steal_ticks() -> int:
    """CPU time the hypervisor gave to other guests, in clock ticks."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _tail_info(walls_ms: list[float]) -> dict:
    from stats import TAIL_BEYOND, tail

    t = tail(walls_ms)
    if t is None:
        return {"n": len(walls_ms), "note": f"fewer than {TAIL_BEYOND + 1} ops, no tail percentile"}
    return {"n": len(walls_ms), "percentile": round(t[1], 1), "ms": round(t[0], 1)}


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter()
    sys.path.insert(0, ROOT)
    try:
        import pyspark
        import from_superset_to_clickhouse_spark as engine
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(engine.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: the engine imported from {engine.__file__}, not from {ROOT}",
              file=sys.stderr)
        return 2
    import inputs
    import layers
    from eventlog import parse_file
    from tracing import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2

    os.environ["TZ"] = "UTC"
    time.tzset()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    cores = min(4, len(os.sched_getaffinity(0)))
    trace = bool(args.trace)

    spark = proc = None

    def give_up():
        if proc is not None:
            proc.kill()
            proc.wait(timeout=10)
        os._exit(3)

    watchdog = threading.Timer(DEADLINE_S, give_up)
    watchdog.daemon = True
    watchdog.start()
    try:
        spark = session(work, trace, cores)
        proc = getattr(spark.sparkContext._gateway, "proc", None)
        wl = WORKLOADS[args.workload](spark, args.seed, work)
        session_s = time.perf_counter() - t_start
        # Seed the store several times, each into a fresh directory, and
        # keep the last; the median leaves out the first seeding's one-off
        # JIT cost and a single slow repeat.
        seed_walls = []
        for k in range(SETUP_REPEATS):
            seed_dir = os.path.join(work, f"seed{k}")
            os.makedirs(seed_dir)
            t0 = time.perf_counter()
            wl.seed_store(seed_dir)
            seed_walls.append(time.perf_counter() - t0)
            if k + 1 < SETUP_REPEATS:
                shutil.rmtree(seed_dir)
        setup_s = statistics.median(seed_walls)
        t0 = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t0

        tracer = Tracer()
        floor = 0.0
        if trace:
            floor = job_floor_ms(spark)
            install_wrappers(tracer)
        records: list[layers.OpRecord] = []
        wrong: list[str] = []
        pid = jvm_pid(spark)
        steal0 = _steal_ticks()
        t_end = time.perf_counter() + args.seconds
        i = 0
        while True:
            traced = trace and i % 2 == 0  # traced and untraced ops alternate
            before = layers.file_snapshot(wl.store_root) if traced else None
            tracer.active = traced
            sp = tracer.open("op")
            c0 = cpu_s(pid)
            t0 = time.perf_counter()
            try:
                info = wl.op(i)
            except Exception as exc:  # a failed op is counted, the loop goes on
                info = {"wrong": f"op {i}: {type(exc).__name__}: {exc}"}
            wall = time.perf_counter() - t0
            cpu = cpu_s(pid) - c0
            tracer.close(sp)
            tracer.active = False
            if info is None:
                break
            if "wrong" in info:
                wrong.append(info["wrong"])
            rec = layers.OpRecord(i, wall, traced, sp, info, cpu=cpu)
            if traced:
                layers.diff_files(rec, before, layers.file_snapshot(wl.store_root))
            records.append(rec)
            i += 1
            if time.perf_counter() >= t_end:
                break
        tracer.restore()
        steal_s = (_steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK")
        if not records:
            raise RuntimeError("no op completed")

        t0 = time.perf_counter()
        wrong += wl.check()
        check_s = time.perf_counter() - t0
        rss = peak_rss_mb(spark)
        bytes_per_row = wl.store_bytes_per_row()
        app_id = spark.sparkContext.applicationId
        stop(spark)
        spark = None
        if trace:
            log = parse_file(os.path.join(work, "eventlog", app_id))
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there

    attempted = len(records)
    failed = min(len(wrong), attempted)
    walls_ms = [r.wall * 1e3 for r in records]
    # The tail is read off one tracing mode only, the untraced ops.
    untraced_ms = [r.wall * 1e3 for r in records if not r.traced]
    measured = sum(r.wall for r in records)
    info = {
        "workload": args.workload, "seed": args.seed, "nproc": os.cpu_count(),
        "master": f"local[{cores}]", "spark": pyspark.__version__,
        "fixture": f"perfbench/inputs.py, generator seed {inputs.FIXTURE_SEED}",
        "ops": attempted, "op_walls_ms": [round(w, 1) for w in walls_ms],
        "op_cpu_ms": [round(r.cpu * 1e3, 1) for r in records],
        "op_tail": _tail_info(untraced_ms), "seed_store_s": [round(w, 3) for w in seed_walls],
        "session_s": round(session_s, 3), "warm_s": round(warm_s, 3),
        "measured_s": round(measured, 3), "check_s": round(check_s, 3),
        "total_s": round(time.perf_counter() - t_start, 3),
        "host_steal_share": round(steal_s / measured / os.cpu_count(), 4),
        "errors": wrong[:5],
    }
    kinds: dict[str, list[float]] = {}
    for r in records:
        for k, ms in r.info.get("kind_ms", {}).items():
            kinds.setdefault(k, []).append(ms)
    if kinds:
        info["kind_p50_ms"] = {k: round(statistics.median(v), 1) for k, v in sorted(kinds.items())}
    if trace:
        values = layers.compute(tracer.spans, records, log, floor, failed, attempted)
        values["op.per_s"] = attempted / measured
        # Per-op CPU from the untraced ops, as the wrappers cost CPU too.
        values["op.cpu_ms"] = statistics.median(
            [r.cpu * 1e3 for r in records if not r.traced] or [0.0])
        info["floor_bound"] = values["driver.floor_share"] > 0.5
        info["self_s"] = {k: round(v, 4) for k, v in values.items() if k.startswith("self.")}
        metrics = {k: {"value": values[k], "unit": u} for k, u in layers.METRICS.items()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_p50_ms": {"value": statistics.median(walls_ms), "unit": "ms"},
            "peak_rss_mb": {"value": rss, "unit": "MB"},
            "store_bytes_per_row": {"value": bytes_per_row, "unit": "B"},
        }
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": not wrong, "attempted": attempted, "failed": failed, "metrics": metrics,
    }))
    watchdog.cancel()
    return 0


if __name__ == "__main__":
    sys.exit(main())
