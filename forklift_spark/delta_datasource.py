"""``deltalite``: the Delta Lake adapter over the scan core in
``datasource.py`` (no delta jar; change semantics, offsets and the
exactly-once note live in that module's docstring):

    spark.dataSource.register(DeltaLiteDataSource)
    spark.read.format("deltalite").load(table_path)            # batch
    spark.readStream.format("deltalite")
         .option("cdc", "true").load(table_path)               # CDC tail

What is Delta-specific: the snapshot replays the ``_delta_log`` JSON
directly (``DeltaLiteTable`` with ``spark=None``), so a log whose early
commits were cleaned past a parquet checkpoint refuses loudly (batch
reads of such tables go through ``DeltaLiteTable.read()``). Deletion
vectors decode from the log's descriptors (pure-Python roaring).
Partition values, which Delta stores only in the log, are injected by
the Arrow leaf, and columnMapping tables map logical to physical
names. The stream walks commit JSON files one by one; commits whose
file actions all carry ``dataChange: false`` emit zero rows. This is
the streaming twin of ``DeltaLiteTable.changelog()``.

Reference analog: the incremental-consumption contract (S2,
`transports/mysql.rb:149-158`) as a live stream. Spec shapes from
delta.io PROTOCOL.md (Action Reconciliation, Deletion Vectors,
dataChange).
"""

from __future__ import annotations

import os

from forklift_spark.datasource import (
    _BatchReader,
    _CdcSource,
    _FilePart,
    _opt_int,
    _StreamReader,
)


def _table(options):
    from forklift_spark.connections.deltalite import DeltaLiteTable

    path = options.get("path")
    if not path:
        raise ValueError("deltalite needs .load(<table path>)")
    return DeltaLiteTable(None, path)


def _snap_or_refuse(t, version):
    """Spark-free snapshot replay: JSON commits only. A table whose
    replay needs the parquet checkpoint (``DeltaLiteTable.
    _needs_checkpoint``: a cleaned or long log) cannot be planned in the
    DataSource worker — refuse loudly."""
    target = t.latest_version() if version is None else int(version)
    # NOT NotImplementedError: DataSourceReader.partitions() treats
    # that class as the "single partition" protocol signal and would
    # swallow the refusal into a silent empty scan
    if t._needs_checkpoint(target):
        raise ValueError(
            f"{t.path}: replaying to version {target} needs the parquet "
            "checkpoint (cleaned or long log) — the deltalite DataSource "
            "plans Spark-free and cannot read parquet checkpoints; use "
            "DeltaLiteTable.read() for batch, or stream from a table "
            "with retained JSON history")
    return t.snapshot(target)


def _cm_maps(snap):
    """The Arrow leaf's view of the one column-mapping resolution
    (``deltalite._layout``): the leaf renames flat columns only
    (``_layout(snap).phys``), so nested struct fields under column
    mapping refuse to the full reader."""
    from pyspark.sql import types as T

    from forklift_spark.connections.deltalite import _layout

    def _has_struct(dt) -> bool:
        if isinstance(dt, T.StructType):
            return True
        if isinstance(dt, T.ArrayType):
            return _has_struct(dt.elementType)
        if isinstance(dt, T.MapType):
            return _has_struct(dt.valueType)
        return False

    if snap.get("cm_mode", "none") != "none" and any(
            _has_struct(f.dataType) for f in snap["schema"].fields):
        raise ValueError(
            "deltalite DataSource: columnMapping over nested struct "
            "fields is not supported here — use DeltaLiteTable.read()")
    return _layout(snap)


def _dv_sets(t, files: dict) -> dict[str, frozenset]:
    """path -> masked positions, from the DV descriptors (pure-Python
    roaring/Z85 decode; metadata-scale)."""
    from forklift_spark.connections.deltalite import dv_positions

    out = {}
    for p, e in files.items():
        if e.get("dv"):
            out[p] = frozenset(dv_positions(t.path, e["dv"]))
    return out


class _DeltaScan:
    """``_cm``: ``_cm_maps()`` of the planned snapshot, set by each
    reader before it builds a part."""

    def _handle(self):
        return _table(self._options)

    def _part(self, t, path, e, **kw) -> _FilePart:
        return _FilePart(
            os.path.join(t.path, path), nbytes=e.get("size") or 0,
            pv=self._cm.partition_values(e.get("pv") or {}),
            phys=self._cm.phys, schema_json=self._schema_json, **kw)


class _DeltaBatchReader(_DeltaScan, _BatchReader):
    """Interval bounds prune on partition values and ``add.stats``
    through ``DeltaLiteTable._prune_files``."""

    def partitions(self):
        t = self._handle()
        snap = _snap_or_refuse(t, _opt_int(self._options, "version"))
        where = self._bounds()
        if where:
            snap = {**snap, "files": t._prune_files(snap, where)}
        self._cm = _cm_maps(snap)
        dv = _dv_sets(t, snap["files"])
        return self._finish([self._part(t, p, e, drop_pos=dv.get(p))
                             for p, e in sorted(snap["files"].items())])


def _changed(files: dict, other: dict) -> dict:
    """Files of ``files`` that are absent from ``other`` or carry a
    different deletion vector there: the only ones whose DV is decoded."""
    return {p: e for p, e in files.items()
            if p not in other or other[p].get("dv") != e.get("dv")}


class _DeltaStreamReader(_DeltaScan, _StreamReader):
    """Steps are commit versions; the carried state is the replayed
    file set, rolled forward commit by commit (O(range), not
    O(range x history))."""

    def _head(self, t):
        return t.latest_version()

    def _begin(self, t, lo: int, hi: int) -> dict:
        # columnMapping resolution under the END state (the stream's
        # declared schema is fixed at start; mid-range cm upgrades are
        # not replayed per-commit)
        self._cm = _cm_maps(_snap_or_refuse(t, hi))
        return _snap_or_refuse(t, lo)["files"] if lo >= 0 else {}

    def _step(self, t, before: dict, v: int):
        from forklift_spark.connections.deltalite import _file_actions

        try:
            adds, removes = _file_actions(t._read_commit(v)[0])
        except FileNotFoundError as e:
            raise ValueError(
                f"{t.path}: {e}; the change feed cannot be reconstructed "
                "— restart the stream with a fresh checkpoint or a "
                "retained starting_version") from None
        data_change = any(a.get("dataChange", True) for a in adds + removes)
        after = dict(before)
        t._reconcile_commit(after, adds, removes)
        if not data_change:
            return after, None  # compaction: row multiset unchanged
        return after, (before, after,
                       _dv_sets(t, _changed(before, after)),
                       _dv_sets(t, _changed(after, before)))


class DeltaLiteDataSource(_CdcSource):
    """format name: ``deltalite`` (see module docstring)."""

    _batch_reader = _DeltaBatchReader
    _stream_reader = _DeltaStreamReader
    _batch_feed = "DeltaLiteTable.changelog()"
    _what = "a Delta table through deltalite"

    @classmethod
    def name(cls):
        return "deltalite"

    def _table_schema(self):
        snap = _snap_or_refuse(_table(self.options),
                               _opt_int(self.options, "version"))
        _cm_maps(snap)  # nested-cm refusal surfaces at load time
        return snap["schema"]
