"""The shared lakehouse scan core (forklift_spark/datasource.py) without
Spark: the stream-diff emitter and stream loop over synthetic file and
mask dicts, and the one Arrow leaf over small pyarrow-written parquet
files. No SparkSession is started; pyspark is imported for its type
and DataSource classes only."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from forklift_spark.datasource import (
    _emit,
    _FilePart,
    _read_file_batches,
    _StreamReader,
)

K = StructType([StructField("k", LongType())])


def _cdc(schema: StructType, version_col: str = "_commit_version"):
    return StructType(schema.fields + [
        StructField("_change_type", StringType(), False),
        StructField(version_col, LongType(), False)])


@pytest.fixture()
def kfiles(tmp_path):
    """Three four-row files of one ``k`` column: path -> file record."""
    files = {}
    for i, name in enumerate("abc"):
        path = str(tmp_path / f"{name}.parquet")
        pq.write_table(pa.table({"k": [10 * i + j for j in range(4)]}),
                       path)
        files[path] = {"bytes": 1}
    return files


def _rows(parts) -> list[tuple]:
    out = []
    for part in parts:
        for b in _read_file_batches(part):
            out.extend(tuple(r.values()) for r in b.to_pylist())
    return sorted(out)


def _mk(schema_json):
    def mk(path, rec, **kw):
        return _FilePart(path, nbytes=rec["bytes"], schema_json=schema_json,
                         **kw)
    return mk


def test_emitter_cases(kfiles):
    a, b, c = sorted(kfiles)
    mk = _mk(_cdc(K).json())
    # an added file: inserts minus its after-mask
    assert _rows(_emit({}, {a: kfiles[a]}, {}, {a: {1}}, 7, mk)) == [
        (0, "insert", 7), (2, "insert", 7), (3, "insert", 7)]
    # a removed file: deletes of its live rows (before-mask subtracted)
    assert _rows(_emit({b: kfiles[b]}, {}, {b: {0, 3}}, {}, 8, mk)) == [
        (11, "delete", 8), (12, "delete", 8)]
    # a mask that grows on a kept file: exact deletes through emit_pos
    grow = _emit({c: kfiles[c]}, {c: kfiles[c]}, {c: {0}}, {c: {0, 2}},
                 9, mk)
    assert [p.emit_pos for p in grow] == [{2}]
    assert _rows(grow) == [(22, "delete", 9)]
    # a mask that shrinks (a restore): exact inserts
    restore = _emit({c: kfiles[c]}, {c: kfiles[c]},
                    {c: frozenset({0, 2, 3})}, {c: frozenset({2})}, 10, mk)
    assert _rows(restore) == [(20, "insert", 10), (23, "insert", 10)]
    # an unchanged file (same mask, or no mask on either side): nothing
    assert _emit(kfiles, kfiles, {a: {1}}, {a: {1}}, 11, mk) == []


class _History(_StreamReader):
    """A stream reader over an in-memory history: offset v's state is
    ``history[v] = (files, masks)``."""

    def __init__(self, history, schema_json):
        self._history = history
        self.decoded: list[int] = []
        super().__init__({}, schema_json)

    def _handle(self):
        return self._history

    def _head(self, h):
        return len(h) - 1

    def _part(self, h, path, rec, **kw):
        return _mk(self._schema_json)(path, rec, **kw)

    def _state(self, h, v):
        self.decoded.append(v)
        return h[v]

    def _begin(self, h, lo, hi):
        return self._state(h, lo)

    def _step(self, h, before, v):
        after = self._state(h, v)
        return after, (before[0], after[0], before[1], after[1])


def test_stream_loop_walks_the_range_once(kfiles, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DS_SPLIT_BYTES", "0")  # no packing
    a, b, c = sorted(kfiles)
    history = [
        ({}, {}),                                          # 0: genesis
        ({a: kfiles[a], b: kfiles[b]}, {}),                # 1: append
        ({a: kfiles[a], b: kfiles[b]}, {a: {0}}),          # 2: mask a
        ({a: kfiles[a], c: kfiles[c]}, {}),                # 3: rewrite
    ]
    r = _History(history, _cdc(K).json())
    assert r.initialOffset() == r.latestOffset() == {"version": 3}
    got = _rows(r.partitions({"version": 0}, {"version": 3}))
    assert r.decoded == [0, 1, 2, 3]  # each state decoded once
    assert got == sorted(
        [(k, "insert", 1) for k in (0, 1, 2, 3, 10, 11, 12, 13)]
        + [(0, "delete", 2)]
        + [(k, "delete", 3) for k in (10, 11, 12, 13)]
        + [(0, "insert", 3)]  # a's mask dropped with the rewrite
        + [(k, "insert", 3) for k in (20, 21, 22, 23)])


def test_empty_range_yields_the_single_noop_split(kfiles):
    r = _History([({}, {}), (kfiles, {})], _cdc(K).json())
    parts = r.partitions({"version": 1}, {"version": 1})
    assert len(parts) == 1 and parts[0].path is None
    assert list(r.read(parts[0])) == []
    assert r.decoded == []  # nothing decoded for an empty range


@pytest.fixture()
def leaf_file(tmp_path):
    """Four rows: ``k`` int64; ``old`` with parquet field id 1 (renamed
    to ``new`` since); ``col-x`` (physical name of logical ``x``);
    ``narrow`` int32 (declared long)."""
    schema = pa.schema([
        pa.field("k", pa.int64()),
        pa.field("old", pa.int64(),
                 metadata={b"PARQUET:field_id": b"1"}),
        pa.field("col-x", pa.string()),
        pa.field("narrow", pa.int32()),
    ])
    path = str(tmp_path / "leaf.parquet")
    pq.write_table(pa.table([
        pa.array([0, 1, 2, 3]), pa.array([100, 101, 102, 103]),
        pa.array(["x0", "x1", "x2", "x3"]), pa.array([5, 6, 7, 8],
                                                     type=pa.int32()),
    ], schema=schema), path)
    return path


def _fields(*specs):
    return StructType([StructField(n, t) for n, t in specs])


@pytest.mark.parametrize("schema, kw, want", [
    pytest.param(_fields(("k", LongType()), ("new", LongType())),
                 {"id_map": {1: "new"}},
                 [(0, 100), (1, 101), (2, 102), (3, 103)],
                 id="field-id-rename"),
    pytest.param(_fields(("k", LongType()), ("x", StringType())),
                 {"phys": {"x": "col-x"}},
                 [(0, "x0"), (1, "x1"), (2, "x2"), (3, "x3")],
                 id="physical-name"),
    pytest.param(_fields(("k", LongType()), ("p", IntegerType()),
                         ("q", IntegerType()), ("s", StringType()),
                         ("u", IntegerType())),
                 {"pv": {"p": "7", "q": "", "s": "", "u": None},
                  "emit_pos": {0}},
                 [(0, 7, None, "", None)],
                 id="partition-values"),
    pytest.param(_fields(("narrow", LongType())), {},
                 [(5,), (6,), (7,), (8,)], id="type-cast"),
    pytest.param(_fields(("k", LongType()), ("gone", StringType())), {},
                 [(0, None), (1, None), (2, None), (3, None)],
                 id="null-fill"),
    pytest.param(_fields(("k", LongType())), {"drop_pos": {0, 2}},
                 [(1,), (3,)], id="drop-pos"),
    pytest.param(_fields(("k", LongType())), {"emit_pos": {2, 1, 99}},
                 [(1,), (2,)], id="emit-pos-ignores-out-of-range"),
    pytest.param(_cdc(_fields(("k", LongType()))),
                 {"change": ("delete", 5), "emit_pos": {3}},
                 [(3, "delete", 5)], id="cdc-commit-version"),
    pytest.param(_cdc(_fields(("k", LongType())), "_commit_snapshot_id"),
                 {"change": ("insert", 9), "drop_pos": {0, 1, 2}},
                 [(3, "insert", 9)], id="cdc-commit-snapshot-id"),
])
def test_arrow_leaf(leaf_file, schema, kw, want):
    part = _FilePart(leaf_file, schema_json=schema.json(), **kw)
    batches = list(_read_file_batches(part))
    got = pa.Table.from_batches(batches)
    assert got.schema.names == schema.fieldNames()
    assert [tuple(r.values()) for r in got.to_pylist()] == want
