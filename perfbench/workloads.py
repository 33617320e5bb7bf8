"""The benchmark's workloads: one client in a closed loop over the engine's
public functions.

Each workload makes its inputs once, seeds its store (``seed_store``,
called several times, each into a fresh directory), then runs unit ops
(``op``) until the run's time is up, and checks every output outside the
timed region (``check``). An op returns a dict of facts about itself, or
None when the workload has no more ops; an op whose output is wrong sets
``"wrong"`` and counts as failed.
"""

from __future__ import annotations

import math
import os
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from from_superset_to_clickhouse_spark.dictionary import DictionaryRegistry
from from_superset_to_clickhouse_spark.plans import reference_pipelines
from from_superset_to_clickhouse_spark.schema import Field, Schema
from from_superset_to_clickhouse_spark.tablestore import TableStore

import inputs
from inputs import Events, day_end
from layers import file_snapshot

# The engine's events schema for the reference logs table (dedup key,
# version column, monthly partitions), as the daily load declares it.
EVENTS = Schema(
    name="events",
    fields=(
        Field("event_id", "bigint", nullable=False),
        Field("ts", "timestamp", nullable=False),
        Field("user_id", "bigint", default=-1),
        Field("event_type", "string", default="undefined"),
        Field("value", "double", default=0.0),
        Field("props", "string", default="{}"),
        Field("source", "string", nullable=False),
    ),
    dedup_key=("event_id",),
    version_col="ts",
    partition_by=("ts_month",),
    sort_by=("event_id",),
    shard_by="event_id",
)
HASH_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props", "source"]


def order_free_hashes(got, want) -> tuple[tuple[int, int], tuple[int, int]]:
    """(rows, sum of per-row xxhash64) of each DataFrame, in one job;
    equal multisets give equal pairs."""
    def tagged(df, tag):
        return df.select(F.lit(tag).alias("_t"), F.xxhash64(*HASH_COLS).alias("_h"))

    rows = tagged(got, "got").unionByName(tagged(want, "want")).groupBy("_t").agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.col("_h").cast("decimal(38,0)")).alias("h")
    ).collect()
    out = {"got": (0, 0), "want": (0, 0)}
    out.update({r["_t"]: (int(r["n"]), int(r["h"])) for r in rows})
    return out["got"], out["want"]


class Workload:
    name = ""
    SCALE = 1
    # Untimed ops before the loop. Ops keep getting faster for a few ops
    # as the JVM compiles more of Spark's hot paths; each extra warm-up op
    # costs a whole op of the run's time budget.
    WARM_OPS = 1

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.seed = seed
        self.store_root = ""
        self.ev = Events(self.SCALE)
        self.events_path = os.path.join(work, "events.parquet")
        pq.write_table(self.ev.table(), self.events_path)

    def seed_store(self, work: str) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        """Untimed ops, so lazy set-up and JIT compilation settle before
        timing."""
        for _ in range(self.WARM_OPS):
            self._checked_op()

    def _checked_op(self) -> None:
        info = self.op(-1)
        if info is None or "wrong" in info:
            raise RuntimeError(f"untimed op failed: {info}")

    def op(self, i: int) -> dict | None:
        raise NotImplementedError

    def check(self) -> list[str]:
        raise NotImplementedError

    def live_rows(self) -> int:
        raise NotImplementedError

    def store_bytes_per_row(self) -> float:
        return sum(file_snapshot(self.store_root).values()) / max(self.live_rows(), 1)


class EltDaily(Workload):
    """Consecutive days of ``v2_daily_load`` into one store. Set-up loads
    the first ``HISTORY_DAYS`` days in one run, so every timed day carries
    near-full history; each op then grows the source by one day."""

    name = "elt_daily"
    SCALE = 10
    HISTORY_DAYS = 22  # days 23-30 are left to time
    WARM_OPS = 0  # the repeated seedings already ran v2_daily_load warm

    def seed_store(self, work):
        self.source = self.spark.read.parquet(self.events_path)
        self.store_root = os.path.join(work, "store")
        self.store = TableStore(self.spark, self.store_root)
        self.day = 0
        info = self._load(self.HISTORY_DAYS)
        if "wrong" in info:
            raise RuntimeError(info["wrong"])

    def op(self, i):
        if self.day >= inputs.DAYS:
            return None
        return self._load(self.day + 1)

    def _load(self, day):
        src = self.source.filter(F.col("ts") < F.lit(day_end(day)))
        res = reference_pipelines.v2_daily_load(self.store, src, EVENTS, "ts")
        want = self.ev.rows_through(day) - self.ev.rows_through(self.day)
        self.day = day
        got = res["fact_upload_data"]
        info = {"rows": got, "day": day}
        if got != want:
            info["wrong"] = f"through day {day}: ingested {got}, source has {want} new rows"
        return info

    def live_rows(self):
        return self.ev.rows_through(self.day)

    def check(self):
        expected = self.source.filter(F.col("ts") < F.lit(day_end(self.day))).withColumn(
            "source", F.lit("superset")
        )
        got, want = order_free_hashes(self.store.latest_view("events"), expected)
        if got != want:
            return [f"latest_view after day {self.day}: (rows, hash) {got} != {want}"]
        return []


MERGE_SCHEMA = Schema(
    name="m",
    fields=(
        Field("event_id", "bigint", nullable=False),
        Field("ts", "timestamp", nullable=False),
        Field("user_id", "bigint"),
        Field("event_type", "string"),
        Field("value", "double"),
    ),
    partition_by=("ts_day",),
    sort_by=("event_id",),
)
MERGE_COLS = [f.name for f in MERGE_SCHEMA.fields]


class UpsertMerge(Workload):
    """A day-partitioned table with history; each op merges a ~10%
    correction sample of the trailing 3 days (updates) plus the next
    day's rows (inserts)."""

    name = "upsert_merge"
    WARM_OPS = 2  # after one, the first timed merge still ran 15-25% slow
    HISTORY_DAYS = 12
    TRAILING_DAYS = 3
    CORRECTION_SHARE = 0.10

    def __init__(self, spark, seed, work):
        super().__init__(spark, seed, work)
        ev = self.ev
        rng = np.random.default_rng([self.seed, 1])
        self.sources = {}
        for d in range(self.HISTORY_DAYS + 1, inputs.DAYS + 1):
            lo = int(ev.bounds[d - 1 - self.TRAILING_DAYS])
            hi = int(ev.bounds[d - 1])
            k = int(round((hi - lo) * self.CORRECTION_SHARE))
            upd = np.sort(rng.choice(np.arange(lo, hi), size=k, replace=False))
            new_value = np.round(ev.value[upd] * 1.5 + d, 2)
            ins = np.arange(*ev.day_rows(d).indices(ev.n))
            rows = np.concatenate([upd, ins])
            tab = ev.table(rows).select(MERGE_COLS).to_pandas()
            tab.loc[: k - 1, "value"] = new_value
            tab["ts"] = tab["ts"].dt.tz_localize(None)
            self.sources[d] = (
                self.spark.createDataFrame(tab, MERGE_SCHEMA.to_struct_type()),
                upd, new_value, len(ins),
            )

    def seed_store(self, work):
        self.store_root = os.path.join(work, "store")
        self.store = TableStore(self.spark, self.store_root)
        self.store.create(MERGE_SCHEMA)
        hist = self.spark.read.parquet(self.events_path).filter(
            F.col("ts") < F.lit(day_end(self.HISTORY_DAYS))
        )
        self.store.append("m", hist.select(*MERGE_COLS))
        self.value = self.ev.value.copy()  # expected state
        self.day = self.HISTORY_DAYS

    def op(self, i):
        if self.day >= inputs.DAYS:
            return None
        self.day += 1
        src, upd, new_value, n_ins = self.sources[self.day]
        res = self.store.merge_into("m", src, on=["event_id"])
        self.value[upd] = new_value
        info = {"day": self.day, "changed": res["updated"] + res["inserted"]}
        want = {"updated": len(upd), "deleted": 0, "inserted": n_ins}
        if res != want:
            info["wrong"] = f"merge day {self.day}: {res} != {want}"
        return info

    def live_rows(self):
        return self.ev.rows_through(self.day)

    def check(self):
        got = (
            self.store.read("m")
            .select("event_id", F.unix_micros("ts").alias("ts"), "user_id", "event_type", "value")
            .toPandas()
            .sort_values("event_id", kind="stable")
        )
        n = self.live_rows()
        ev = self.ev
        want = {
            "event_id": ev.event_id[:n], "ts": ev.ts_us[:n], "user_id": ev.user_id[:n],
            "event_type": ev.event_type[:n], "value": self.value[:n],
        }
        if len(got) != n:
            return [f"merged table has {len(got)} rows, expected {n}"]
        bad = [c for c, w in want.items() if not np.array_equal(got[c].to_numpy(), w)]
        if bad:
            return [f"merged table differs from the expected state in {bad}"]
        return []


READ_SCHEMA = EVENTS.clone("r", partition_by=("ts_day",))
# The query kinds of one op, played in a seeded order; a whole deck is the
# unit op, so a change to any one kind moves the op time.
DECK = ("where", "eq", "latest", "enrich", "since")
WHERE_WIDTH = 200


class StoreReads(Workload):
    """Read-only query mix against a day-partitioned store: range reads
    that the zone maps prune, point reads on an unclustered column that
    the bloom index cannot prune, a dedup group-by, a dictionary
    enrichment and an incremental read."""

    name = "store_reads"
    CORRECTION_SHARE = 0.01

    def __init__(self, spark, seed, work):
        super().__init__(spark, seed, work)
        ev = self.ev
        self.cust_path = os.path.join(work, "customer.parquet")
        inputs.write_customers(self.cust_path)
        # The store holds one batch: the history plus a 1% sample of its
        # rows re-sent 1 us later with new values, so latest_view has
        # versions to resolve.
        rng = np.random.default_rng([self.seed, 2])
        fix = np.sort(rng.choice(ev.n, size=int(ev.n * self.CORRECTION_SHARE), replace=False))
        tab = ev.table(fix).to_pandas()
        tab["ts"] = tab["ts"].dt.tz_localize(None) + pd.Timedelta(microseconds=1)
        tab["value"] = np.round(tab["value"] * 2.0 + 1.0, 2)
        tab["source"] = "correction"
        self.corrections = self.spark.createDataFrame(tab, READ_SCHEMA.to_struct_type())

    def seed_store(self, work):
        self.store_root = os.path.join(work, "store")
        self.store = TableStore(self.spark, self.store_root)
        self.store.create(READ_SCHEMA)
        self.store.add_bloom_index("r", "user_id")
        history = self.spark.read.parquet(self.events_path).withColumn("source", F.lit("superset"))
        self.store.append("r", history.unionByName(self.corrections))
        self.dicts = DictionaryRegistry()
        self.dicts.register("customer", lambda: self.spark.read.parquet(self.cust_path), key="c_custkey")
        self.rng = np.random.default_rng([self.seed, 3])
        self.results: list[tuple] = []

    def _params(self, kind):
        r, n = self.rng, self.ev.n
        if kind == "where":
            lo = int(r.integers(0, n - WHERE_WIDTH))
            return (lo, lo + WHERE_WIDTH - 1)
        if kind == "eq":
            return (int(r.integers(0, inputs.USERS)),)
        if kind == "enrich":
            lo = int(r.integers(0, n - n // inputs.DAYS))
            return (lo, lo + n // inputs.DAYS - 1)
        if kind == "since":
            # Every row past seq 0. A poll past the last batch would cost a
            # fraction of this, and a seeded choice between the two made
            # deck times differ by seed.
            return (0,)
        return ()

    def _query(self, kind, p):
        st, cols = self.store, ["event_id", F.unix_micros("ts").alias("ts"), "user_id", "event_type", "value"]
        if kind == "where":
            rows = st.read_where("r", "event_id", p[0], p[1]).select(*cols).collect()
        elif kind == "eq":
            rows = st.read_eq("r", "user_id", p[0]).select(*cols).collect()
        elif kind == "latest":
            rows = (st.latest_view("r").groupBy("event_type")
                    .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v")).collect())
        elif kind == "enrich":
            df = self.dicts.enrich(st.read_where("r", "event_id", p[0], p[1]), "customer",
                                   "user_id", ["c_mktsegment"])
            rows = (df.groupBy("c_mktsegment")
                    .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v")).collect())
        else:
            rows = (st.read_since("r", p[0])
                    .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"),
                         F.max("event_id").alias("m")).collect())
        return [tuple(r) for r in rows]

    def op(self, i):
        rows, ms = 0, {}
        for kind in self.rng.permutation(DECK):
            p = self._params(kind)
            t0 = time.perf_counter()
            out = self._query(kind, p)
            ms[kind] = (time.perf_counter() - t0) * 1e3
            self.results.append((kind, p, out))
            rows += len(out)
        return {"rows": rows, "kind_ms": ms}

    def live_rows(self):
        return self.ev.n

    def check(self):
        import duckdb

        con = duckdb.connect()
        con.execute("SET threads TO 2")
        glob = os.path.join(self.store_root, "r", "data", "*", "*.parquet")
        con.execute(f"CREATE VIEW r AS SELECT * FROM read_parquet({_sql_str(glob)}, hive_partitioning = true)")
        con.execute(f"CREATE VIEW c AS SELECT * FROM read_parquet({_sql_str(self.cust_path)})")
        cols = "event_id, epoch_us(ts), user_id, event_type, value"
        sql = {
            "where": f"SELECT {cols} FROM r WHERE event_id BETWEEN ? AND ?",
            "eq": f"SELECT {cols} FROM r WHERE user_id = ?",
            "latest": """SELECT event_type, count(*), sum(value) FROM (
                SELECT * FROM r QUALIFY row_number() OVER (
                    PARTITION BY event_id ORDER BY ts DESC, _ingest_seq DESC) = 1)
                GROUP BY 1""",
            "enrich": """SELECT c.c_mktsegment, count(*), sum(r.value) FROM r
                LEFT JOIN c ON r.user_id = c.c_custkey
                WHERE r.event_id BETWEEN ? AND ? GROUP BY 1""",
            "since": "SELECT count(*), sum(value), max(event_id) FROM r WHERE _ingest_seq > ?",
        }
        errors = []
        for kind, p, rows in self.results:
            want = con.execute(sql[kind], list(p)).fetchall()
            if not _same_rows(rows, want):
                errors.append(f"{kind}{p}: {len(rows)} rows differ from DuckDB ({len(want)} rows)")
        con.close()
        return errors


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _same_rows(got, want) -> bool:
    if len(got) != len(want):
        return False
    key = lambda r: tuple((v is None, str(v)) for v in r)  # noqa: E731
    for a, b in zip(sorted(got, key=key), sorted(want, key=key)):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-6):
                    return False
            elif x != y:
                return False
    return True


WORKLOADS = {w.name: w for w in (EltDaily, UpsertMerge, StoreReads)}
