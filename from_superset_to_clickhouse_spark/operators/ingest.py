"""Incremental ingest — the reference's flagship path, Spark-first.

Entry point A in SURVEY.md §3.1 (v2 daily load, ``v2/dag.py:98-122``)
is a watermark probe, a pushed-down incremental filter on the source, a
projection with NULL→DEFAULT coercion and a constant lineage column,
then an append into a dedup store. Entry point B (§3.2, v1 shard load
with a partition swap) publishes the same staging DataFrame with
``overwrite_partitions`` instead of ``append``.

Scale: the watermark probe is a single-column scan with partial
aggregation, and it is the one read of the target a load makes; the
target's read schema comes from its meta, so planning opens no file. The
incremental filter is planned before the read, so it reaches the Parquet
row-group stats or the remote WHERE clause. The projection is pure
Catalyst expressions (whole-stage codegen, no Python). The optional row
count and the batch's MAX(watermark) ride the write as one
``Observation``: the increment is scanned once.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from from_superset_to_clickhouse_spark import watermark as wm
from from_superset_to_clickhouse_spark.schema import Schema
from from_superset_to_clickhouse_spark.tablestore import TableStore


def build_increment(
    source_df: DataFrame,
    schema: Schema,
    watermark_field: str,
    watermark_value: Any,
    source_tag: str,
    strict: bool = True,
    source_column: str = "source",
    column_map: dict[str, str] | None = None,
) -> DataFrame:
    """Stage one incremental batch as a DataFrame (no side effects).

    Reproduces the INSERT-SELECT projection (e.g.
    ``v2/sql/f_superset_logs_upload_data.sql:1-14``): rename/select source
    columns, coerce NULLs to the schema defaults, append the constant
    ``source`` lineage column, filter to rows past the watermark.
    """
    df = source_df
    for src, dst in (column_map or {}).items():
        df = df.withColumnRenamed(src, dst)
    df = df.filter(wm.increment_predicate(watermark_field, watermark_value, strict))
    df = df.withColumn(source_column, F.lit(source_tag))
    return schema.coerce(df)


@dataclass(frozen=True)
class LoadReport:
    """What one ``load_increment`` did.

    ``rows``: rows loaded, as ``ingest`` returns them. ``watermark``: the
    target's watermark the increment was filtered against (the bootstrap
    value on an empty target). ``batch_max``: MAX of the watermark field
    over the loaded rows, or None when the load counted nothing or
    loaded nothing. The target's watermark after the load is the larger
    of the two."""

    rows: int | None
    watermark: Any
    batch_max: Any = None


def ingest(
    store: TableStore,
    source_df: DataFrame,
    schema: Schema,
    watermark_field: str,
    source_tag: str,
    strict: bool = True,
    publish: str = "append",
    column_map: dict[str, str] | None = None,
    count_rows: bool = False,
) -> int | None:
    """One incremental load run. Returns rows ingested when
    ``count_rows=True``, else ``None`` after a write and ``0`` for an
    empty increment (``None`` rather than a sentinel int so a skipped
    count can never masquerade as a real row count downstream).

    publish="append"  → v2 semantics: strict-> watermark, append, dedup
                        deferred to latest_view/compact (Replacing analog).
    publish="swap"    → v1 semantics: month-floored >= watermark, stage,
                        then atomically replace the affected partitions.

    ``load_increment`` runs the load and reports the watermarks too.
    """
    return load_increment(
        store, source_df, schema, watermark_field, source_tag,
        strict=strict, publish=publish, column_map=column_map,
        count_rows=count_rows,
    ).rows


def load_increment(
    store: TableStore,
    source_df: DataFrame,
    schema: Schema,
    watermark_field: str,
    source_tag: str,
    strict: bool = True,
    publish: str = "append",
    column_map: dict[str, str] | None = None,
    count_rows: bool = False,
) -> LoadReport:
    """``ingest`` with its ``LoadReport``: the same load, also returning
    the watermark it filtered against and the batch's MAX(watermark).

    Row counting is free: with ``count_rows=True`` an ``Observation``
    rides the write action and carries the row count and the batch's
    MAX(watermark), so the increment is scanned exactly once either way
    (an up-front ``count()`` would scan the source increment twice).
    Without a count, the empty-increment check uses ``isEmpty()`` (stops
    at the first found row) to skip the write entirely; with the
    observation the write itself is the emptiness probe (an empty
    append or dynamic overwrite is a no-op on the table data).
    """
    store.create(schema, if_not_exists=True)
    target = store.read(schema.name)
    if publish == "swap":
        value = wm.probe_month_floor(target, watermark_field)
        strict = False
    else:
        value = wm.probe(target, watermark_field)
    inc = build_increment(
        source_df, schema, watermark_field, value, source_tag,
        strict=strict, column_map=column_map,
    )
    obs = None
    inc_plain = inc
    if count_rows:
        obs = Observation()
        inc = inc_plain.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.max(F.col(watermark_field)).alias("hi"),
        )
    elif inc_plain.isEmpty():
        return LoadReport(0, value)
    if publish == "swap":
        store.overwrite_partitions(schema.name, inc)
    else:
        store.append(schema.name, inc)
    if obs is None:
        return LoadReport(None, value)
    try:
        seen = obs.get
        return LoadReport(int(seen["n"]), value, seen["hi"])
    except Exception:
        # An empty increment schedules zero tasks, so the observation
        # collects no metric row. CONFIRM that before reporting 0 —
        # any other obs.get failure after a write that shipped rows
        # must surface, not masquerade as an empty load. (isEmpty on
        # the unobserved plan is cheap either way: first-row
        # short-circuit when rows exist, empty pruned scan when not.)
        if inc_plain.isEmpty():
            return LoadReport(0, value)
        raise
