"""Zone maps: the one file-skipping rule behind ``ManifestTable``,
``DeltaLiteTable`` and ``IcebergLiteTable`` reads and their DataSources.

A file records per column the [min, max] of its values (a zone map,
Moerkotte's "small materialized aggregate"; Delta's ``minValues`` /
``maxValues``; Iceberg's ``lower_bounds`` / ``upper_bounds``). A read
``where = {col: (lo, hi)}`` (closed interval, ``None`` = unbounded)
drops a file only when its recorded range provably misses the bound,
``max < lo`` or ``min > hi``; every other file is kept:

- a stat is ``None`` (no usable stat: keep), ``ALL_NULL`` (the column
  is NULL in every row, and NULL satisfies no bound: drop) or
  ``(min, max)``;
- stat and bound compare as typed values through one key per Spark
  type (``key_of``): integral, floating and decimal as ``float``
  (monotone, so it can keep a file that misses but never drop one that
  matches); ``DateType`` as ``datetime.date``; ``TimestampType`` and
  ``TimestampNTZType`` as naive UTC ``datetime``, where a ``datetime``
  is taken as is, a tz-aware one converted to UTC, and a string goes
  through ``datetime.fromisoformat`` (a ``' '`` or ``'T'`` separator,
  an optional ``Z`` or offset); ``StringType`` as ``str``, taking a
  ``str`` only (Spark compares a string column with a number by casting
  the string, which text order cannot follow). A type without a key,
  or a value the key cannot convert, leaves the column unpruned
  (Iceberg's "residual filter only");
- Delta writers store timestamp stats truncated to milliseconds, so
  the Delta reader widens a timestamp max by ``MS`` before the test, as
  delta-spark's data skipping does.

Each format keeps only the code that pulls a stat out of its own
metadata. ``read_stats`` records the planning counters and logs the
one degraded-to-full-scan warning; ``filter_where`` is the row-level
interval filter that keeps results exact whatever was skipped.
"""

from __future__ import annotations

import bisect
import datetime as _dt
import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

ALL_NULL = "ALL_NULL"  # stat of a column NULL in every row of the file
MS = _dt.timedelta(milliseconds=1)  # Delta timestamp-stat precision

_NUMERIC = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.DecimalType)


def _timestamp(v) -> _dt.datetime:
    if isinstance(v, str):
        v = _dt.datetime.fromisoformat(v)
    elif type(v) is _dt.date:  # Spark compares a date as its midnight
        v = _dt.datetime(v.year, v.month, v.day)
    elif not isinstance(v, _dt.datetime):
        raise TypeError(f"not a timestamp: {v!r}")
    if v.tzinfo is not None:
        v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return v


def _date(v) -> _dt.date:
    if isinstance(v, str):
        return _dt.date.fromisoformat(v)
    if isinstance(v, _dt.datetime):
        # flooring a timestamp bound to its day can only keep more
        return _timestamp(v).date()
    if isinstance(v, _dt.date):
        return v
    raise TypeError(f"not a date: {v!r}")


def _string(v) -> str:
    if not isinstance(v, str):
        raise TypeError(f"not a string: {v!r}")
    return v


def key_of(dtype):
    """The comparison key of a Spark type, or ``None`` when the type
    does not prune."""
    if isinstance(dtype, _NUMERIC):
        return float
    if isinstance(dtype, T.DateType):
        return _date
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return _timestamp
    if isinstance(dtype, T.StringType):
        return _string
    return None


def checks(where: dict, types: dict, strict: bool = True) -> list[tuple]:
    """``(col, key, lo, hi)`` for every bounded ``where`` column whose
    type prunes. ``strict`` refuses a column missing from ``types``."""
    unknown = [c for c in where if c not in types]
    if strict and unknown:
        raise ValueError(
            f"where columns {unknown} not in the table schema "
            f"({sorted(types)})")
    out = []
    for col, (lo, hi) in where.items():
        key = key_of(types.get(col))
        if key is not None and (lo is not None or hi is not None):
            out.append((col, key, lo, hi))
    return out


def keeps(stat, lo, hi, key) -> bool:
    """False only when ``stat`` provably holds no value in [lo, hi]."""
    if stat is None:
        return True
    if stat is ALL_NULL:
        return False
    try:
        return not ((lo is not None and key(stat[1]) < key(lo))
                    or (hi is not None and key(stat[0]) > key(hi)))
    except (TypeError, ValueError, OverflowError):
        return True


def keeps_any(stat, points: list, key) -> bool:
    """``keeps`` against a sorted list of keyed points (a batch's key
    set): False only when no point lands in the stat's range."""
    if stat is None or stat is ALL_NULL:
        return stat is None
    try:
        i = bisect.bisect_left(points, key(stat[0]))
    except (TypeError, ValueError, OverflowError):
        return True
    return i < len(points) and keeps(stat, points[i], None, key)


def read_stats(label: str, total: int, kept: list, cols, stat_of,
               size_of) -> dict:
    """Planning counters of one read: ``files_total``,
    ``files_planned``, ``bytes_planned`` and ``stat_less`` (per column,
    the planned files with no usable stat). Warns when pruning on a
    column degraded to a full scan because no planned file has a stat
    for it."""
    stat_less = {c: sum(stat_of(f, c) is None for f in kept) for c in cols}
    for col, miss in stat_less.items():
        if miss == len(kept) and miss > 1:
            logging.getLogger(__name__).warning(
                "%s: zone-map pruning on %r degraded to full scan — "
                "none of the %d planned files carry stats for it",
                label, col, miss,
            )
    return {
        "files_total": total,
        "files_planned": len(kept),
        "bytes_planned": sum(size_of(f) or 0 for f in kept),
        "stat_less": stat_less,
    }


def filter_where(df: DataFrame, where: dict | None) -> DataFrame:
    """The row-level interval filter: exact results whether or not a
    file carried stats."""
    for col, (lo, hi) in (where or {}).items():
        if lo is not None:
            df = df.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(col) <= F.lit(hi))
    return df
