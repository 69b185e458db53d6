"""Zone-map file skipping gives the rows a filter gives, in every reader.

A file is dropped only when its recorded [min, max] provably misses the
predicate (``forklift_spark/zonemap.py``). Timestamp stats are stored
as strings in several forms (Spark's ``yyyy-MM-dd HH:mm:ss.S`` in the
manifest, ISO-T in Delta, epoch micros in Iceberg); a bound compared to
them as text drops files that hold matching rows. The table here has
one file per row (``partition_by="k"``), so every row's timestamp is a
file's min and max, and a reader that skips by string order loses rows
at ``==``, ``>=`` and ``<=`` on fractional and whole seconds."""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from forklift_spark import zonemap
from forklift_spark.connections.deltalite import (
    DeltaLiteTable,
    sync_manifest_to_delta,
)
from forklift_spark.connections.iceberglite import (
    IcebergLiteTable,
    sync_manifest_to_iceberg,
)
from forklift_spark.datasource import ManifestDataSource
from forklift_spark.delta_datasource import DeltaLiteDataSource
from forklift_spark.iceberg_datasource import IcebergLiteDataSource
from forklift_spark.manifest import ManifestTable

T0 = dt.datetime(2024, 3, 5, 6, 0, 0)
D0 = dt.date(2024, 3, 5)
N = 6


def _ts(k: int) -> dt.datetime:
    """Whole seconds when ``k % 3 == 0``, else half a second past."""
    return T0 + dt.timedelta(seconds=k, milliseconds=0 if k % 3 == 0 else 500)


def _d(k: int) -> dt.date:
    return D0 + dt.timedelta(days=k)


OPS = {
    "==": (lambda v: (v, v), lambda x, v: x == v),
    ">=": (lambda v: (v, None), lambda x, v: x >= v),
    "<=": (lambda v: (None, v), lambda x, v: x <= v),
}
CASES = [(op, k) for op in OPS for k in range(N)]


def _want(col: str, op: str, k: int) -> int:
    val = _ts if col == "ts" else _d
    return sum(OPS[op][1](val(j), val(k)) for j in range(N))


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("zone_prune"))
    rows = [(k, k % 2, _ts(k), _d(k)) for k in range(N)]
    df = spark.createDataFrame(
        rows, "k long, p int, ts timestamp, d date"
    ).repartition(1)
    m = ManifestTable(spark, os.path.join(root, "m"), "z")
    m.create(df, partition_by="k")
    delta_dir = os.path.join(root, "delta")
    ice_dir = os.path.join(root, "ice")
    sync_manifest_to_delta(m, delta_dir)
    sync_manifest_to_iceberg(m, ice_dir)
    for src in (ManifestDataSource, DeltaLiteDataSource, IcebergLiteDataSource):
        spark.dataSource.register(src)
    return {
        "manifest": m,
        "delta": DeltaLiteTable(spark, delta_dir),
        "iceberg": IcebergLiteTable(spark, ice_dir),
        "root": root, "delta_dir": delta_dir, "ice_dir": ice_dir,
    }


def _frame(spark, tables, reader: str):
    if reader == "forklift_manifest":
        return (spark.read.format(reader).option("table", "z")
                .load(os.path.join(tables["root"], "m")))
    path = tables["delta_dir" if reader == "deltalite" else "ice_dir"]
    return spark.read.format(reader).load(path)


def _mismatches(count, col: str, form) -> list:
    """Every (op, k) case whose count differs from the filter's."""
    out = []
    for op, k in CASES:
        v = (_ts if col == "ts" else _d)(k)
        got, want = count(op, form(v)), _want(col, op, k)
        if got != want:
            out.append((op, str(v), got, want))
    return out


@pytest.mark.parametrize("reader", ["manifest", "delta", "iceberg"])
@pytest.mark.parametrize("col,form", [
    ("ts", lambda v: v),
    ("ts", lambda v: v.isoformat()),          # ISO-T string bound
    ("ts", lambda v: v.isoformat(" ")),       # Spark-style string bound
    ("d", lambda v: v),
], ids=["ts-datetime", "ts-iso-t", "ts-iso-space", "date"])
def test_read_where_matches_filter(tables, reader, col, form):
    t = tables[reader]

    def count(op, v):
        return t.read(where={col: OPS[op][0](v)}).count()

    assert _mismatches(count, col, form) == []


@pytest.mark.parametrize(
    "reader", ["forklift_manifest", "deltalite", "iceberglite"]
)
@pytest.mark.parametrize("col", ["ts", "d"])
def test_datasource_filter_matches_filter(spark, tables, reader, col):
    df = _frame(spark, tables, reader)
    preds = {
        "==": lambda v: F.col(col) == F.lit(v),
        ">=": lambda v: F.col(col) >= F.lit(v),
        "<=": lambda v: F.col(col) <= F.lit(v),
    }

    def count(op, v):
        return df.filter(preds[op](v)).count()

    assert _mismatches(count, col, lambda v: v) == []


def test_pruning_still_skips_files(tables):
    """The typed compare still prunes: a point lookup plans one file."""
    for reader in ("manifest", "delta", "iceberg"):
        t = tables[reader]
        assert t.read(where={"ts": (_ts(1), _ts(1))}).count() == 1
        assert t.last_read_stats["files_planned"] == 1, reader
        assert t.last_read_stats["files_total"] == N, reader


def test_typed_keys_and_unconvertible_bounds(tables):
    """Stats and bounds in any of their stored forms compare as typed
    values; a bound the key cannot convert leaves the column unpruned
    instead of raising at plan time."""
    ts = zonemap.key_of(T.TimestampType())
    assert ts("2024-03-05 06:00:01.5") == ts("2024-03-05T06:00:01.500Z") \
        == ts(dt.datetime(2024, 3, 5, 7, 0, 1, 500000,
                          tzinfo=dt.timezone(dt.timedelta(hours=1))))
    assert ts(dt.date(2024, 3, 5)) == dt.datetime(2024, 3, 5)
    assert zonemap.key_of(T.DateType())("2024-03-05") == D0
    assert zonemap.key_of(T.BooleanType()) is None
    assert zonemap.keeps(("1", "5"), "not a number", None, float)
    assert not zonemap.keeps(zonemap.ALL_NULL, None, 3, float)
    assert len(tables["manifest"].files(where={"k": ("x", None)})) == N
    assert len(tables["manifest"].files(where={"ts": (7, None)})) == N


def test_delta_timestamp_max_widened_by_one_ms(spark, tmp_path):
    """Spec writers store timestamp stats at millisecond precision: a
    ``maxValues`` of ``…06:00:00.500Z`` can sit over a row at
    ``06:00:00.5004``. The reader widens the max by 1 ms, so a bound
    at the row's true value still plans the file."""
    tdir = str(tmp_path / "ms")
    log = os.path.join(tdir, "_delta_log")
    os.makedirs(log)
    row_ts = dt.datetime(2024, 3, 5, 6, 0, 0, 500400)
    stage = os.path.join(tdir, "stage")
    spark.createDataFrame([(1, row_ts)], "k long, ts timestamp") \
        .coalesce(1).write.parquet(stage)
    shutil.move(glob.glob(os.path.join(stage, "part-*.parquet"))[0],
                os.path.join(tdir, "a.parquet"))
    shutil.rmtree(stage)
    schema = T.StructType([T.StructField("k", T.LongType()),
                           T.StructField("ts", T.TimestampType())])
    stats = {"numRecords": 1,
             "minValues": {"k": 1, "ts": "2024-03-05T06:00:00.500Z"},
             "maxValues": {"k": 1, "ts": "2024-03-05T06:00:00.500Z"},
             "nullCount": {"k": 0, "ts": 0}}
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "ms-widen", "format": {"provider": "parquet",
                                                   "options": {}},
                      "schemaString": json.dumps(schema.jsonValue()),
                      "partitionColumns": [], "configuration": {},
                      "createdTime": 1700000000000}},
        {"add": {"path": "a.parquet", "partitionValues": {}, "size": 100,
                 "modificationTime": 1700000000000, "dataChange": True,
                 "stats": json.dumps(stats)}},
    ]
    with open(os.path.join(log, f"{0:020d}.json"), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions) + "\n")
    t = DeltaLiteTable(spark, tdir)
    assert t.read(where={"ts": (row_ts, row_ts)}).count() == 1
    assert t.last_read_stats["files_planned"] == 1
    assert t.read(where={"ts": (row_ts, None)}).count() == 1
    # past the widened max the file is provably out
    later = row_ts + dt.timedelta(milliseconds=2)
    assert t.read(where={"ts": (later, None)}).count() == 0
    assert t.last_read_stats["files_planned"] == 0


def test_number_bound_on_string_column_keeps_files(spark, tmp_path):
    """A string column holding "10" and "20" in one file: Spark's filter
    ``s >= 9`` casts the strings and keeps both rows, while comparing
    the bound as text ("20" < "9") would skip the file. The string key
    takes a ``str`` only, so a number bound leaves the column unpruned."""
    m = ManifestTable(spark, str(tmp_path / "m"), "s")
    m.create(spark.createDataFrame([("10",), ("20",)], "s string")
             .repartition(1))
    sync_manifest_to_delta(m, str(tmp_path / "delta"))
    sync_manifest_to_iceberg(m, str(tmp_path / "ice"))
    for t in (m, DeltaLiteTable(spark, str(tmp_path / "delta")),
              IcebergLiteTable(spark, str(tmp_path / "ice"))):
        assert t.read().filter("s >= 9").count() == 2
        assert t.read(where={"s": (9, None)}).count() == 2, type(t)
        assert t.read(where={"s": ("15", None)}).count() == 1, type(t)
