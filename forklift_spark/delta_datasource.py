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

import json
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
    replay would need a parquet checkpoint (cleaned log) cannot be
    planned in the DataSource worker — refuse loudly."""
    versions = set(t.versions())
    target = max(versions) if version is None else int(version)
    json_covers = all(v in versions for v in range(0, target + 1))
    # snapshot() prefers the parquet checkpoint when the JSON history
    # is incomplete OR longer than its JSON-replay cutoff — both need
    # Spark here, so both refuse
    # NOT NotImplementedError: DataSourceReader.partitions() treats
    # that class as the "single partition" protocol signal and would
    # swallow the refusal into a silent empty scan
    if not json_covers or (t._last_checkpoint() and target + 1 > 512):
        raise ValueError(
            f"{t.path}: replaying to version {target} needs the parquet "
            "checkpoint (cleaned or long log) — the deltalite DataSource "
            "plans Spark-free and cannot read parquet checkpoints; use "
            "DeltaLiteTable.read() for batch, or stream from a table "
            "with retained JSON history")
    return t.snapshot(target)


def _cm_maps(snap) -> tuple[dict | None, list[str], dict]:
    """columnMapping support for the Arrow leaf: ``(phys, pcols_logical,
    pv_key)`` — logical->physical data-column names (None when names
    match), the partition columns under their LOGICAL names, and
    logical->pv-dict key (the spec tracks partitionValues by PHYSICAL
    name). Nested struct fields under column mapping refuse to the full
    reader — the flat rename here cannot reach them."""
    from pyspark.sql import types as T

    from forklift_spark.connections.deltalite import (
        _CM_PHYS,
        _cm_phys_name,
    )

    schema = snap["schema"]
    pcols = list(snap.get("partition_columns") or [])
    cm = snap.get("cm_mode", "none")
    if cm == "none":
        return None, pcols, {c: c for c in pcols}

    def _has_struct(dt) -> bool:
        if isinstance(dt, T.StructType):
            return True
        if isinstance(dt, T.ArrayType):
            return _has_struct(dt.elementType)
        if isinstance(dt, T.MapType):
            return _has_struct(dt.valueType)
        return False

    if any(_has_struct(f.dataType) for f in schema.fields):
        raise ValueError(
            "deltalite DataSource: columnMapping over nested struct "
            "fields is not supported here — use DeltaLiteTable.read()")
    phys = {f.name: _cm_phys_name(f, f.name) for f in schema.fields}
    by_phys = {(f.metadata or {}).get(_CM_PHYS): f.name
               for f in schema.fields}
    logical = set(schema.fieldNames())
    out_pcols, pv_key = [], {}
    for c in pcols:
        lc = c if c in logical else by_phys.get(c)
        if lc is None:
            raise ValueError(
                f"columnMapping: partition column {c!r} matches "
                "neither a logical field name nor any physicalName")
        out_pcols.append(lc)
        pv_key[lc] = phys[lc]
    return phys, out_pcols, pv_key


def _pv_logical(pv: dict, pcols: list[str], pv_key: dict) -> dict:
    return {c: pv.get(pv_key.get(c, c), pv.get(c)) for c in pcols}


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
        phys, pcols, pv_key = self._cm
        return _FilePart(
            os.path.join(t.path, path), nbytes=e.get("size") or 0,
            pv=_pv_logical(e.get("pv") or {}, pcols, pv_key), phys=phys,
            schema_json=self._schema_json, **kw)


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
        adds, removes, data_change = [], [], False
        fp = os.path.join(t.log_dir, f"{v:020d}.json")
        if not os.path.exists(fp):
            raise ValueError(
                f"{t.path}: commit {v} is missing (log cleaned?); the "
                "change feed cannot be reconstructed — restart the "
                "stream with a fresh checkpoint or a retained "
                "starting_version")
        with open(fp) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                act = json.loads(line)
                if "add" in act:
                    adds.append(act["add"])
                    if act["add"].get("dataChange", True):
                        data_change = True
                elif "remove" in act:
                    removes.append(act["remove"])
                    if act["remove"].get("dataChange", True):
                        data_change = True
                elif "protocol" in act:
                    t._check_protocol(act["protocol"])
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
