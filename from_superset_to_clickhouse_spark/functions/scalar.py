"""Scalar helpers mapping the reference's SQL function surface to Spark.

Reference usages (SURVEY.md §2.6 rows 26-32):
- ``DATE_TRUNC('MONTH', x)`` — watermark month-floor / partition expr
  (``v1/dag.py:65``, ``v1/sql/create_table.sql:16``)
- ``NOW() - INTERVAL '30 MONTH'`` — retention cutoff (``v2/dag.py:134``)
- ``id %% 2`` — shard split (``v1/dag.py:119,124``)
- JSON payload access (stored opaque in the reference; we expose parse)
"""

from __future__ import annotations

import datetime as dt
import re
import zoneinfo
from typing import Any, Mapping

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def month_floor(col: Column | str) -> Column:
    """``DATE_TRUNC('MONTH', x)`` (v1 watermark / partition expression)."""
    return F.date_trunc("month", F.col(col) if isinstance(col, str) else col)


def months_ago(n: int, anchor: Column | None = None) -> Column:
    """``NOW() - INTERVAL 'n MONTH'`` month-truncated (retention cutoff,
    reference ``v2/dag.py:132-135``)."""
    anchor = anchor if anchor is not None else F.current_timestamp()
    return F.date_trunc("month", F.add_months(anchor, -n))


def months_ago_at(n: int, anchor: dt.date, zone: dt.tzinfo) -> dt.datetime:
    """The value ``months_ago(n, F.lit(anchor))`` takes in a session whose
    time zone is ``zone`` (see ``session_zone``), computed on the driver
    with no Spark job: the first of the month ``n`` months before the
    anchor's session-local date, at session-local midnight. A naive
    ``anchor`` is local time of this process, as ``F.lit`` reads it. The
    result is time-zone aware, so ``F.lit`` of it is the same instant."""
    day = anchor.astimezone(zone) if isinstance(anchor, dt.datetime) else anchor
    year, month0 = divmod(day.year * 12 + day.month - 1 - n, 12)
    return dt.datetime(year, month0 + 1, 1, tzinfo=zone)


_OFFSET_ZONE = re.compile(r"(?:UTC|GMT|UT)?([+-])(\d{1,2})(?::?(\d{2}))?")


def session_zone(spark: SparkSession) -> dt.tzinfo | None:
    """The session time zone (``spark.sql.session.timeZone``) as a Python
    tzinfo: a region ID through ``zoneinfo``, or a fixed offset such as
    ``+05:30`` or ``UTC-8``. None for a form neither covers (Java's
    deprecated three-letter IDs), so callers fall back to Spark-side
    evaluation."""
    name = spark.conf.get("spark.sql.session.timeZone").strip()
    if name == "Z":
        return dt.timezone.utc
    m = _OFFSET_ZONE.fullmatch(name)
    if m:
        sign = -1 if m[1] == "-" else 1
        return dt.timezone(sign * dt.timedelta(hours=int(m[2]), minutes=int(m[3] or 0)))
    try:
        return zoneinfo.ZoneInfo(name)
    except (zoneinfo.ZoneInfoNotFoundError, ValueError):
        return None


def mod_shard(col: Column | str, num_shards: int) -> Column:
    """Shard id by modulo (reference ``id%2`` split, ``v1/dag.py:119,124``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(c, F.lit(num_shards))


def with_defaults(df: DataFrame, defaults: Mapping[str, Any]) -> DataFrame:
    """NULL→DEFAULT coercion for the given columns, other columns untouched.

    The explicit Spark equivalent of ClickHouse's implicit coercion when a
    ``Nullable`` source column lands in a ``NOT NULL DEFAULT`` target column.
    """
    exprs = []
    for name in df.columns:
        if name in defaults:
            exprs.append(F.coalesce(F.col(name), F.lit(defaults[name])).alias(name))
        else:
            exprs.append(F.col(name))
    return df.select(*exprs)


def let_bind(value: Column, body) -> Column:
    """Evaluate ``value`` once per row and pass it to ``body`` as a bound
    lambda variable.

    Catalyst re-evaluates an expression subtree every time it appears, and
    common-subexpression elimination does not reach inside higher-order-
    function lambdas — so an expensive expression (a minhash signature, a
    projection vector) referenced from N band expressions is computed N
    times per row. Wrapping it as the single element of an array and
    referencing it through ``transform``'s lambda variable forces exactly
    one evaluation regardless of how many times ``body`` uses it.
    """
    return F.transform(F.array(value), body)[0]


def json_get(col: Column | str, path: str) -> Column:
    """Extract a scalar from an opaque JSON text column.

    The reference stores JSON payloads unparsed (``v2/sql/create_tables.sql:7``);
    analysts parse on demand — this is that capability, JVM-side.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.get_json_object(c, f"$.{path}")


def ipv4_to_long(col: Column | str) -> Column:
    """Dotted-quad IPv4 string → unsigned 32-bit value as BIGINT
    (ClickHouse ``IPv4StringToNum`` analog), pure Catalyst split +
    positional arithmetic. Malformed inputs yield NULL via the cast
    (ANSI-safe try_cast on the octets)."""
    parts = F.split(F.col(col) if isinstance(col, str) else col, r"\.")
    octet = lambda i: F.try_element_at(parts, F.lit(i)).try_cast("long")
    return (
        octet(1) * 16777216 + octet(2) * 65536 + octet(3) * 256 + octet(4)
    )


def cidr_range(col: Column | str) -> "tuple[Column, Column]":
    """CIDR string ``a.b.c.d/p`` → (lo, hi) BIGINT bounds, hi
    EXCLUSIVE: lo = network base masked to the prefix, hi = lo +
    2^(32−p). The mask arithmetic uses integer div/mul (no bitwise
    ops, so the SQL replay is engine-portable)."""
    c = F.col(col) if isinstance(col, str) else col
    base = ipv4_to_long(F.split(c, "/")[0])
    prefix = F.split(c, "/")[1].try_cast("int")
    block = F.pow(F.lit(2.0), (32 - prefix)).cast("long")
    lo = F.floor(base / block).cast("long") * block
    return lo, lo + block
