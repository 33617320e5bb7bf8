import datetime as dt
import uuid

import pytest

from from_superset_to_clickhouse_spark.schema import Field, Schema
from from_superset_to_clickhouse_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.ui.enabled": "false"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


def logs_schema(name: str = "t") -> Schema:
    """A miniature of the reference logs table: monthly partitions,
    dedup key id, version dttm (v2/sql/create_tables.sql:2-17)."""
    return Schema(
        name=name,
        fields=(
            Field("id", "int", nullable=False),
            Field("dttm", "timestamp", nullable=False),
            Field("v", "string", default="undefined"),
        ),
        dedup_key=("id",),
        version_col="dttm",
        partition_by=("dttm_month",),
        sort_by=("id",),
        shard_by="id",
    )


def ts(month: int, day: int, hour: int = 0) -> dt.datetime:
    return dt.datetime(2024, month, day, hour)


def count_jobs(spark, fn):
    """``(fn(), number of Spark jobs fn submitted from this thread)``,
    counted through a job group and the status tracker."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # The status store is fed by the listener bus, asynchronously.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
