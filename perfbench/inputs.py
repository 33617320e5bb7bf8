"""Seeded input tables, written as Parquet inside the run's work dir.

The events table has the shape of the sf0.1 ``events`` fixture: 100k rows
per scale unit over 30 days of January 2024, ``event_id`` rising with
``ts``, 1500 users, five event types. It is drawn from a fixed generator
seed so every run loads the same history; the run's own ``--seed`` drives
only the sampled choices made by the workloads.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42
ROWS_PER_SCALE = 100_000
DAYS = 30
START = dt.datetime(2024, 1, 1)
USERS = 1500
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
DAY_US = 86_400 * 10**6
PROPS = np.array([f'{{"k": {k}}}' for k in range(100)])


def day_end(day: int) -> dt.datetime:
    """Exclusive upper bound of 1-based ``day``."""
    return START + dt.timedelta(days=day)


class Events:
    """The events table as NumPy columns plus its per-day row ranges."""

    def __init__(self, scale: int):
        rng = np.random.default_rng(FIXTURE_SEED)
        n = ROWS_PER_SCALE * scale
        self.n = n
        self.ts_us = np.sort(rng.integers(0, DAYS * DAY_US, n)) + _epoch_us(START)
        self.event_id = np.arange(n, dtype=np.int64)
        self.user_id = rng.integers(0, USERS, n).astype(np.int64)
        self.event_type = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]
        self.value = np.round(rng.random(n) * 560.0, 2)
        self.props = PROPS[rng.integers(0, len(PROPS), n)]
        day = (self.ts_us - _epoch_us(START)) // DAY_US  # 0-based
        # bounds[d] = first row of 1-based day d+1; rows are ts-sorted
        self.bounds = np.searchsorted(day, np.arange(DAYS + 1))

    def rows_through(self, day: int) -> int:
        """Rows with 1-based day <= ``day``."""
        return int(self.bounds[day])

    def day_rows(self, day: int) -> slice:
        return slice(int(self.bounds[day - 1]), int(self.bounds[day]))

    def table(self, rows: slice = slice(None)) -> pa.Table:
        return pa.table({
            "event_id": self.event_id[rows],
            "ts": pa.array(self.ts_us[rows], pa.timestamp("us", tz="UTC")),
            "user_id": self.user_id[rows],
            "event_type": self.event_type[rows],
            "value": self.value[rows],
            "props": self.props[rows],
        })


def write_customers(path: str) -> None:
    """The customer dictionary that ``user_id`` enriches against."""
    rng = np.random.default_rng(FIXTURE_SEED)
    keys = np.arange(USERS, dtype=np.int64)
    pq.write_table(pa.table({
        "c_custkey": keys,
        "c_name": np.char.add("Customer#", keys.astype(str)),
        "c_mktsegment": SEGMENTS[rng.integers(0, len(SEGMENTS), USERS)],
        "c_acctbal": np.round(rng.random(USERS) * 10_000.0, 2),
    }), path)


def _epoch_us(t: dt.datetime) -> int:
    return int(t.replace(tzinfo=dt.timezone.utc).timestamp()) * 10**6
