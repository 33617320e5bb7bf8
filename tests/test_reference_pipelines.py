"""Golden tests for the end-to-end v1/v2 reference pipeline ports
(SURVEY.md §3.1-3.2): split incremental runs == one full load, shard
union == unsharded load, legacy-source retention skip, and the job
budget of a v2 day."""

import datetime as dt

from pyspark.sql import functions as F

from from_superset_to_clickhouse_spark.functions.scalar import months_ago_at, session_zone
from from_superset_to_clickhouse_spark.plans.reference_pipelines import (
    v1_shard_load,
    v2_daily_load,
)
from from_superset_to_clickhouse_spark.tablestore import TableStore

from conftest import count_jobs, logs_schema, ts


def _src(spark, rows):
    return spark.createDataFrame(rows, "id int, dttm timestamp, v string")


def _rows(n=40):
    return [(i, ts(1 + i % 3, 1 + i % 27, i % 24), f"v{i}") for i in range(n)]


def test_v2_two_runs_equal_one_full_load(spark, tmp_path):
    src = _src(spark, _rows())
    early = src.filter(F.col("dttm") <= ts(2, 15))

    split = TableStore(spark, str(tmp_path / "split"))
    sch = logs_schema("logs")
    r1 = v2_daily_load(split, early, sch, "dttm")
    r2 = v2_daily_load(split, src, sch, "dttm")
    assert r1["fact_upload_data"] > 0 and r2["fact_upload_data"] > 0
    assert r1["dim_upload_data"] == "SKIPPED"

    full = TableStore(spark, str(tmp_path / "full"))
    v2_daily_load(full, src, sch, "dttm")

    a = sorted(map(tuple, split.latest_view("logs").select("id", "dttm", "v").collect()))
    b = sorted(map(tuple, full.latest_view("logs").select("id", "dttm", "v").collect()))
    assert a == b


def test_v2_rerun_is_idempotent(spark, tmp_path):
    store = TableStore(spark, str(tmp_path))
    sch = logs_schema("logs")
    src = _src(spark, _rows(10))
    v2_daily_load(store, src, sch, "dttm")
    res = v2_daily_load(store, src, sch, "dttm")
    assert res["fact_upload_data"] == 0  # nothing past the watermark
    assert store.latest_view("logs").count() == 10


def test_v2_legacy_source_skips_retention(spark, tmp_path):
    store = TableStore(spark, str(tmp_path))
    sch = logs_schema("logs")
    res = v2_daily_load(
        store, _src(spark, _rows(5)), sch, "dttm", source_tag="superset_old"
    )
    assert res["delete_old_rows"] == "SKIPPED"


def test_v2_retention_deletes_rows_past_thirty_months(spark, tmp_path):
    store = TableStore(spark, str(tmp_path))
    sch = logs_schema("logs")
    rows = [
        (1, dt.datetime(2021, 8, 31, 23, 59, 59), "expired"),
        (2, dt.datetime(2021, 9, 1), "at-cutoff"),
        (3, dt.datetime(2024, 3, 10, 12), "anchor"),
    ]
    res = v2_daily_load(store, _src(spark, rows), sch, "dttm")
    assert res["fact_upload_data"] == 3
    assert res["delete_old_rows"] == 1  # cutoff: Sep 1 2021, 30 months back
    assert sorted(r["v"] for r in store.read("logs").collect()) == ["anchor", "at-cutoff"]


def test_v2_day_two_job_budget(spark, tmp_path):
    """A daily load submits a fixed, batch-sized set of jobs: the
    watermark probe, the append, the index aggregate and the scoped
    duplicate check. Retention with nothing to expire and a compaction
    with nothing new submit none."""
    store = TableStore(spark, str(tmp_path))
    sch = logs_schema("logs")
    src = _src(spark, _rows(60))
    v2_daily_load(store, src.filter(F.col("dttm") < F.lit(ts(3, 10))), sch, "dttm")
    res, jobs = count_jobs(spark, lambda: v2_daily_load(store, src, sch, "dttm"))
    assert res["fact_upload_data"] > 0 and res["delete_old_rows"] == 0
    assert jobs <= 9
    anchor = max(r[1] for r in _rows(60))
    cutoff = months_ago_at(30, anchor, session_zone(spark))
    assert count_jobs(spark, lambda: store.delete_before("logs", "dttm", cutoff)) == (0, 0)
    assert count_jobs(spark, lambda: store.compact("logs")) == (None, 0)


def test_v1_shard_union_equals_full(spark, tmp_path):
    src = _src(spark, _rows())
    sharded = TableStore(spark, str(tmp_path / "sharded"))
    sch = logs_schema("logs")
    res = v1_shard_load(sharded, src, sch, "dttm")
    assert res["change_partitions"] == "swapped"

    plain = TableStore(spark, str(tmp_path / "plain"))
    v1_shard_load(plain, src, sch, "dttm", num_shards=1)

    a = sorted(map(tuple, sharded.read("logs").select("id", "dttm", "v").collect()))
    b = sorted(map(tuple, plain.read("logs").select("id", "dttm", "v").collect()))
    assert a == b and len(a) == 40


def test_v1_rerun_reprocesses_current_month_only(spark, tmp_path):
    store = TableStore(spark, str(tmp_path))
    sch = logs_schema("logs")
    src1 = _src(spark, [(1, ts(1, 5), "jan"), (2, ts(2, 5), "feb-a")])
    v1_shard_load(store, src1, sch, "dttm")
    src2 = _src(
        spark, [(1, ts(1, 5), "jan"), (2, ts(2, 5), "feb-a"), (3, ts(2, 9), "feb-b")]
    )
    v1_shard_load(store, src2, sch, "dttm")
    rows = {r["id"]: r["v"] for r in store.read("logs").collect()}
    assert rows == {1: "jan", 2: "feb-a", 3: "feb-b"}
