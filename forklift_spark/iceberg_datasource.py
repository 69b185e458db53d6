"""``iceberglite``: the Iceberg v1/v2 adapter over the scan core in
``datasource.py`` (no iceberg jar; change semantics, offsets and the
exactly-once note live in that module's docstring):

    spark.dataSource.register(IcebergLiteDataSource)
    spark.read.format("iceberglite").load(table_path)          # batch
    spark.readStream.format("iceberglite")
         .option("cdc", "true").load(table_path)               # CDC tail

What is Iceberg-specific: the whole metadata path (metadata.json + Avro
manifest lists/manifests) decodes through the repo's pure-Python Avro
codec (``IcebergLiteTable`` with ``spark=None``). Position-delete masks
come from the delete files' own ``file_path``/``pos`` columns under the
spec's sequence-number rule (a delete applies to data files with data
sequence number <= the delete's). The Arrow leaf resolves renamed
columns by parquet field id. EQUALITY deletes refuse loudly in both
modes: their targets are value predicates that belong in the full
reader (``IcebergLiteTable.read()``), not an Arrow position mask.
Stream offsets are snapshot ids, with a genesis sentinel for "before
the first snapshot"; this is the streaming twin of
``IcebergLiteTable.changelog()``. Spec shapes from the Iceberg table
spec (v2): sequence-number inheritance, position-delete application.
"""

from __future__ import annotations

from forklift_spark.datasource import (
    _BatchReader,
    _CdcSource,
    _FilePart,
    _opt_int,
    _StreamReader,
)

_GENESIS = 0  # offset sentinel: "before the first snapshot"


def _table(options):
    from forklift_spark.connections.iceberglite import IcebergLiteTable

    path = options.get("path")
    if not path:
        raise ValueError("iceberglite needs .load(<table path>)")
    return IcebergLiteTable(None, path)


def _refuse_eq(inv, what: str):
    # NOT NotImplementedError: DataSourceReader.partitions() treats
    # that class as the "single partition" protocol signal and would
    # swallow the refusal into a silent empty scan
    if inv["eq_deletes"]:
        raise ValueError(
            f"{what}: equality deletes are value predicates — the "
            "Arrow-side position mask cannot apply them; use "
            "IcebergLiteTable.read() / .changelog()")


def _pos_masks(t, inv) -> dict[str, frozenset]:
    """data-file path -> masked row positions, from the pos-delete
    parquet files (pyarrow, metadata-scale) under the spec's
    sequence-number rule (delete seq >= data seq). Target refs are
    normalized exactly like the inventory paths (scheme off, resolved
    against the table root)."""
    import pyarrow.parquet as pq

    if not inv["pos_deletes"]:
        return {}
    data_seq = {f["path"]: f["seq"] for f in inv["data"]}
    out: dict[str, set] = {}
    for d in inv["pos_deletes"]:
        tb = pq.read_table(d["path"], columns=["file_path", "pos"])
        for ref, pos in zip(tb.column("file_path").to_pylist(),
                            tb.column("pos").to_pylist()):
            ref = t._abs(ref)
            seq = data_seq.get(ref)
            if seq is not None and d["seq"] >= seq:
                out.setdefault(ref, set()).add(pos)
    return {k: frozenset(v) for k, v in out.items()}


class _IceScan:
    """``_id_map``: field-id -> CURRENT column name of the planned
    snapshot. The leaf renames file columns whose footer
    ``PARQUET:field_id`` resolves to a different current name —
    Iceberg's field-id resolution for renamed columns, free here
    because the leaf opens the file anyway (the full reader's
    ``resolve='id'`` is opt-in because it costs an extra footer read
    per file at plan time)."""

    def _handle(self):
        return _table(self._options)

    def _part(self, t, path, f, **kw) -> _FilePart:
        return _FilePart(path, nbytes=f.get("bytes") or 0,
                         schema_json=self._schema_json,
                         id_map=self._id_map, **kw)

    def _resolve_ids(self, inv) -> None:
        self._id_map = {int(f["id"]): f["name"]
                        for f in inv["schema_json"]["fields"]}


class _IceBatchReader(_IceScan, _BatchReader):
    """Interval bounds prune on value bounds and hidden-partition
    transforms through ``IcebergLiteTable._prune_data_files``."""

    def partitions(self):
        t = self._handle()
        inv = t.file_inventory(_opt_int(self._options, "snapshot_id"))
        _refuse_eq(inv, "iceberglite batch scan")
        where = self._bounds()
        if where:
            inv = {**inv, "data": t._prune_data_files(inv, where)}
        masks = _pos_masks(t, inv)
        self._resolve_ids(inv)
        return self._finish([
            self._part(t, f["path"], f, drop_pos=masks.get(f["path"]))
            for f in sorted(inv["data"], key=lambda f: f["path"])])


class _IceStreamReader(_IceScan, _StreamReader):
    """Steps are snapshot ids; the carried state is the previous
    snapshot's data files and position masks, so each inventory in the
    range is decoded once."""

    _offset = "snapshot_id"
    _start_option = "starting_snapshot_id"

    def _head(self, t):
        snaps = t.snapshots()
        return int(snaps[-1]["snapshot-id"]) if snaps else _GENESIS

    def _range(self, t, start_id: int, end_id: int) -> list[int]:
        """Snapshot ids strictly after start_id up to end_id, in
        metadata order. An expired boundary refuses loudly."""
        ids = [int(s["snapshot-id"]) for s in t.snapshots()]
        if start_id == end_id:
            return []
        if end_id not in ids:
            raise ValueError(
                f"{t.path}: snapshot {end_id} is not in the metadata "
                "(expired?); the change feed cannot be reconstructed")
        e = ids.index(end_id)
        if start_id == _GENESIS:
            return ids[:e + 1]
        if start_id not in ids:
            raise ValueError(
                f"{t.path}: snapshot {start_id} was expired; the "
                "change feed past it cannot be reconstructed — restart "
                "the stream with a fresh checkpoint or a retained "
                "starting_snapshot_id")
        s = ids.index(start_id)
        return ids[s + 1:e + 1]

    def _begin(self, t, lo: int, hi: int):
        return ({}, {}) if lo == _GENESIS else self._snapshot(t, lo)

    def _snapshot(self, t, sid: int):
        inv = t.file_inventory(sid)
        _refuse_eq(inv, "iceberglite stream")
        self._resolve_ids(inv)
        return {f["path"]: f for f in inv["data"]}, _pos_masks(t, inv)

    def _step(self, t, before, sid: int):
        after = self._snapshot(t, sid)
        return after, (before[0], after[0], before[1], after[1])


class IcebergLiteDataSource(_CdcSource):
    """format name: ``iceberglite`` (see module docstring)."""

    _batch_reader = _IceBatchReader
    _stream_reader = _IceStreamReader
    _batch_feed = "IcebergLiteTable.changelog()"
    _what = "an Iceberg table through iceberglite"
    _version_col = "_commit_snapshot_id"

    @classmethod
    def name(cls):
        return "iceberglite"

    def _table_schema(self):
        t = _table(self.options)
        return t.schema_struct(t.metadata())[0]
