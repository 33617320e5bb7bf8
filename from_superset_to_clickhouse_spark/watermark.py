"""Watermark manager: incremental-load state derived from the target.

The reference re-derives its watermark from the target table on every run
(``SELECT MAX(refrash_field) FROM bi.<t>_distributed``, v2/dag.py:106-111)
with a ``2000-01-01`` bootstrap for empty targets (v2/dag.py:113-114).
Restart-safe by construction — the watermark is read, never stored.

Two granularities exist in the reference and both are preserved:
- v2: exact watermark, strict ``>`` predicate (append-only increment)
- v1: month-floored watermark, ``>=`` predicate (reprocess current month,
  relies on partition REPLACE) — ``v1/dag.py:64-69`` +
  ``v1/sql/upload_to_processed_table.sql:14``
"""

from __future__ import annotations

import datetime as dt
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BOOTSTRAP = dt.datetime(2000, 1, 1)  # v1/dag.py:72, v2/dag.py:114


def probe(df: DataFrame, field: str, bootstrap: Any = BOOTSTRAP) -> Any:
    """Global-MAX watermark probe; bootstrap fallback on empty/NULL.

    Collects a single scalar. Spark computes MAX with partial
    aggregation (per-partition max, then a one-row merge); on Parquet
    the scan reads only the probed column, but it reads that column for
    the whole table, so its cost grows with the history. A load probes
    once: ``operators.ingest.load_increment`` reports the batch's own
    MAX from the write's ``Observation``, and the larger of the two is
    the target's watermark after the load.
    """
    row = df.agg(F.max(F.col(field)).alias("wm")).first()
    wm = row["wm"] if row else None
    return wm if wm is not None else bootstrap


def probe_month_floor(df: DataFrame, field: str, bootstrap: Any = BOOTSTRAP) -> Any:
    """v1 variant: DATE_TRUNC('MONTH', MAX(field)) (v1/dag.py:64-69)."""
    row = df.agg(F.date_trunc("month", F.max(F.col(field))).alias("wm")).first()
    wm = row["wm"] if row else None
    return wm if wm is not None else bootstrap


def increment_predicate(field: str, wm: Any, strict: bool = True) -> Column:
    """The incremental filter: ``field > wm`` (v2) or ``field >= wm`` (v1).

    Applied before the source read is planned, so it pushes down to
    Parquet row-group stats / the JDBC WHERE clause.
    """
    c = F.col(field)
    return c > F.lit(wm) if strict else c >= F.lit(wm)
