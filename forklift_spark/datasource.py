"""Spark Python DataSources over the three lakehouse formats: one scan
core (this module) and a thin adapter per format.

    format name          adapter module          table
    forklift_manifest    datasource.py           ManifestTable
    deltalite            delta_datasource.py     Delta Lake log, no jar
    iceberglite          iceberg_datasource.py   Iceberg v1/v2, no jar

    spark.dataSource.register(ManifestDataSource)
    spark.read.format("forklift_manifest")
         .option("table", "events").load(warehouse_root)          # batch
    spark.readStream.format("forklift_manifest")
         .option("table", "events").option("cdc", "true")
         .load(warehouse_root)                                    # CDC tail

Planning runs where the Python DataSource API runs it, a driver-side
Python worker with NO SparkSession, so every adapter reads its format's
metadata directly (stdlib + pyarrow, the table classes with
``spark=None``). The core owns everything the formats share: the file
part, split-size packing, the Arrow leaf, filter-bound folding, the
stream loop and its diff emitter, and the ``cdc`` option shell. An
adapter supplies only its metadata: how to list live files and their
delete masks, how to walk its history, and its refusals.

BATCH: one input partition per live data file. The format's delete
mask (manifest dv sidecars, Delta deletion vectors, Iceberg position
deletes) is resolved at plan time and subtracted per file with an Arrow
mask, no join. Small files pack into split-size groups.

STREAM: offsets are durable manifest/Delta versions or Iceberg snapshot
ids. Each microbatch carries the row-level changes between the last
committed offset and the head, tagged ``_change_type`` ('insert' |
'delete') plus the adapter's version column (``_commit_version`` or
``_commit_snapshot_id``). Change semantics, for all three formats:

- Append commits and mask commits are row-exact. An added file is
  inserts minus its mask, a removed file is deletes of its live rows, a
  mask that grows on a kept file names exactly the deleted rows and a
  mask that shrinks (a restore) exactly the re-inserted ones. Mask
  commits are manifest dv-mode writes (``merge+dv`` / ``delete+dv`` /
  ``apply-changes+dv``), Delta DV commits and Iceberg position deletes.
- Rewrite commits (files rewritten whole) emit file-level events: a
  delete+insert pair also covers rows the rewrite carried unchanged.
  The multiset is correct, and a consumer that applies each
  microbatch's deletes before its inserts (per version) converges to
  the exact table state. The batch feeds (``ManifestTable.changes()``,
  ``DeltaLiteTable``/``IcebergLiteTable.changelog(net=True)``) cancel
  carried rows exactly when exact row deltas are required.
- Layout-only manifest commits (compact / alter-layout / checkpoint /
  constraint changes) and Delta commits whose file actions all carry
  ``dataChange: false`` emit ZERO rows.
- A boundary that can no longer be reconstructed (a vacuumed manifest
  version, a cleaned Delta commit, an expired Iceberg snapshot) refuses
  loudly rather than replaying history as duplicate inserts. Iceberg
  equality deletes refuse too: they are value predicates, not a mask.

Exactly-once on Spark 4.1: its Python DataSource API has no
``SupportsTriggerAvailableNow``, so under ``Trigger.AvailableNow``
Spark wraps these sources and warns that it "may not guarantee
processing new data if there is an uncommitted batch". Delivery stays
exactly-once because offsets are durable versions or snapshot ids: a
restarted query re-plans an uncommitted batch from the same two offsets
and gets the same rows. The restart tests
``test_stream_cdc_tail_exactly_once`` (manifest and Delta) and
``test_stream_tails_only_new_snapshots`` (Iceberg) pin this.
"""

from __future__ import annotations

import functools
import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

# operations that permute layout but provably preserve the row multiset
_LAYOUT_ONLY_OPS = {
    "compact", "alter-layout", "checkpoint",
    "set-constraint", "drop-constraint",
}


class _FilePart(InputPartition):
    """One data file: read everything except ``drop_pos``; or, when
    ``emit_pos`` is set, read ONLY those row indices (mask diff events).
    ``change`` is None for batch, else ('insert'|'delete', version).
    Adapter extras: ``pv`` maps a column to its log-recorded string
    partition value (Delta); ``phys`` maps a column to its physical
    parquet name (Delta columnMapping); ``id_map`` maps a parquet field
    id to the current column name (Iceberg renames). ``nbytes`` is the
    file size for split packing (0 when unknown)."""

    def __init__(self, path, nbytes=0, drop_pos=None, emit_pos=None,
                 change=None, schema_json=None, pv=None, phys=None,
                 id_map=None):
        self.path = path
        self.nbytes = nbytes
        self.drop_pos = drop_pos
        self.emit_pos = emit_pos
        self.change = change
        self.schema_json = schema_json
        self.pv = pv or {}
        self.phys = phys or {}
        self.id_map = id_map


class _GroupPart(InputPartition):
    """Several file parts read by ONE task (split-size packing).

    Each Python DataSource partition costs a fixed JVM<->Python bridge
    round trip (~100-200 ms measured, independent of data volume), so
    one-task-per-file turns a many-small-files table into pure task
    overhead — the Python-source analog of
    ``spark.sql.files.maxPartitionBytes``/``openCostInBytes`` packing
    (optimization r8, guide §2.2/§6). Files keep their individual
    masks/metadata; the reader just loops them inside one task, so
    results are byte-identical and per-file parallelism returns
    exactly when files are split-target sized."""

    def __init__(self, parts: list):
        self.parts = parts


_DS_OPEN_COST = 4 << 20  # per-file open cost, mirrors Spark's default


def _split_target() -> int:
    """Target bytes per Python-source read task. Scale-adaptive by
    construction: big files never co-group, tiny files pack ~32 to a
    task (open-cost charging) — same behavior as Spark's own scan
    packing. Env-tunable for deployments with different task budgets."""
    return int(os.environ.get("SPARK_GRAFT_DS_SPLIT_BYTES",
                              str(128 << 20)))


def _pack_parts(parts: list, nbytes) -> list:
    """Greedily pack per-file parts into ~split-target groups (order
    preserved). ``nbytes(part)`` returns the file's size when known
    (0/None charges only the open cost, packing ~32 files per task)."""
    target = _split_target()
    if target <= 0 or len(parts) <= 1:
        return parts
    groups: list[list] = []
    cur: list = []
    acc = 0
    for p in parts:
        sz = int(nbytes(p) or 0) + _DS_OPEN_COST
        if cur and acc + sz > target:
            groups.append(cur)
            cur, acc = [], 0
        cur.append(p)
        acc += sz
    if cur:
        groups.append(cur)
    if len(groups) == len(parts):
        return parts
    return [g[0] if len(g) == 1 else _GroupPart(g) for g in groups]


def _part_files(parts: list) -> int:
    """Number of FILES across partitions (pruning evidence: grouping
    changes partition counts, never the planned file set)."""
    return sum(
        len(p.parts) if isinstance(p, _GroupPart) else 1 for p in parts
    )


def _opt_int(options, key: str):
    v = options.get(key)
    return int(v) if v is not None else None


def _arrow_schema(schema_json: dict):
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    return to_arrow_schema(StructType.fromJson(schema_json))


def _collect_bounds(filters, where: dict) -> None:
    """Fold Spark's pushed comparison filters into ``where[col] =
    [lo, hi]`` interval bounds (tightest wins; incomparable values keep
    the old bound). Each format's own metadata planner consumes the
    intervals."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        LessThan,
        LessThanOrEqual,
    )

    def bound(col, lo=None, hi=None):
        cur = where.setdefault(col, [None, None])
        for i, v in ((0, lo), (1, hi)):
            if v is None:
                continue
            old = cur[i]
            try:
                tighter = (old is None or (v > old if i == 0 else
                                           v < old))
            except TypeError:
                tighter = False
            if tighter:
                cur[i] = v

    for f in filters:
        attr = getattr(f, "attribute", None)
        if not attr or len(attr) != 1:
            continue
        col = attr[0]
        if isinstance(f, EqualTo):
            bound(col, lo=f.value, hi=f.value)
        elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
            bound(col, lo=f.value)
        elif isinstance(f, (LessThan, LessThanOrEqual)):
            bound(col, hi=f.value)


def _read_file_batches(part: _FilePart):
    """Arrow leaf: read the parquet file, resolve renamed columns by
    field id, apply the position mask, then align to the declared
    schema: partition values injected as constants (the spec serializes
    them as strings; an empty string on a non-string type is null),
    physical names mapped, narrower types cast up (the typeWidening read
    rule), evolved-away columns null-filled. When streaming, the last
    two declared fields are the CDC columns and are filled from
    ``part.change``. Yields RecordBatches."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    target = _arrow_schema(json.loads(part.schema_json))
    tbl = pq.read_table(part.path)
    if part.id_map:
        # a file written before a column RENAME carries the old name
        # but the same field id: resolve by id so the column is read,
        # not null-filled
        names = []
        for f in tbl.schema:
            fid = (f.metadata or {}).get(b"PARQUET:field_id")
            cur = part.id_map.get(int(fid)) if fid is not None else None
            names.append(cur if cur is not None else f.name)
        if names != tbl.schema.names:
            tbl = tbl.rename_columns(names)
    n = tbl.num_rows
    if part.emit_pos is not None:
        idx = sorted(p for p in part.emit_pos if p < n)
        tbl = tbl.take(pa.array(idx, type=pa.int64()))
    elif part.drop_pos:
        keep = [i for i in range(n) if i not in part.drop_pos]
        if len(keep) != n:
            tbl = tbl.take(pa.array(keep, type=pa.int64()))
    rows = tbl.num_rows
    fields = list(target)[:-2] if part.change else list(target)
    cols = []
    for field in fields:
        name = part.phys.get(field.name, field.name)
        if field.name in part.pv:
            v = part.pv[field.name]
            if v is None or (v == "" and not pa.types.is_string(
                    field.type)):
                cols.append(pa.nulls(rows, type=field.type))
            else:
                cols.append(pa.array([v] * rows,
                                     type=pa.string()).cast(field.type))
        elif name in tbl.column_names:
            col = tbl.column(name)
            if col.type != field.type:
                col = col.cast(field.type)
            cols.append(col.combine_chunks())
        else:
            cols.append(pa.nulls(rows, type=field.type))
    if part.change:
        cols.append(pa.array([part.change[0]] * rows, type=pa.string()))
        cols.append(pa.array([part.change[1]] * rows, type=pa.int64()))
    out = pa.table(cols, schema=target)
    yield from out.to_batches(max_chunksize=1 << 16)


def _emit(before: dict, after: dict, masks_a: dict, masks_b: dict,
          version: int, mk) -> list:
    """Turn one history step into change parts. ``before``/``after``
    map file path -> file record, ``masks_*`` map path -> masked row
    positions on that side, and ``mk(path, record, **part_kw)`` builds
    the adapter's file part. An added file is an insert of its rows
    minus its after-mask, a removed file a delete of its live rows; on
    a kept file, positions masked only after are exact deletes and
    positions masked only before (a restore) exact inserts."""
    parts = []
    for p in sorted(after.keys() - before.keys()):
        parts.append(mk(p, after[p], drop_pos=masks_b.get(p),
                        change=("insert", version)))
    for p in sorted(before.keys() - after.keys()):
        parts.append(mk(p, before[p], drop_pos=masks_a.get(p),
                        change=("delete", version)))
    for p in sorted(before.keys() & after.keys()):
        ma = masks_a.get(p, frozenset())
        mb = masks_b.get(p, frozenset())
        if mb - ma:
            parts.append(mk(p, after[p], emit_pos=mb - ma,
                            change=("delete", version)))
        if ma - mb:
            parts.append(mk(p, after[p], emit_pos=ma - mb,
                            change=("insert", version)))
    return parts


class _Scan:
    """What batch and stream readers share: options, the declared
    schema, the packing tail and ``read``. Adapters define
    ``_handle()`` (their Spark-free table object) and
    ``_part(handle, path, record, **part_kw)``."""

    def __init__(self, options, schema_json: str):
        self._options = dict(options)
        self._schema_json = schema_json

    @staticmethod
    def _finish(parts: list) -> list:
        parts = _pack_parts(parts, lambda p: p.nbytes)
        # an empty scan is legal but the engine needs >= 1 split
        return parts or [_FilePart(None)]

    def read(self, partition):
        if isinstance(partition, _GroupPart):
            return (b for p in partition.parts
                    for b in _read_file_batches(p))
        if partition.path is None:
            return iter(())
        return _read_file_batches(partition)


class _BatchReader(_Scan, DataSourceReader):
    """File-pruned batch scan. ``pushFilters`` records the predicates
    the format's metadata can act on and returns EVERY filter back to
    Spark: pruning only decides which FILES to open, Spark still
    evaluates rows, so a conservative prune is always correct."""

    def __init__(self, options, schema_json: str):
        super().__init__(options, schema_json)
        self._where: dict = {}  # col -> [lo, hi] interval bounds

    def pushFilters(self, filters):
        _collect_bounds(filters, self._where)
        return filters  # Spark re-applies every predicate row-level

    def _bounds(self) -> dict:
        return {c: tuple(b) for c, b in self._where.items()
                if b != [None, None]}


class _StreamReader(_Scan, DataSourceStreamReader):
    """CDC tail over the format's history. Adapters define
    ``_head(handle)`` and ``_step(handle, before_state, offset) ->
    (after_state, diff)``, where ``diff`` is ``(before files, after
    files, before masks, after masks)`` for ``_emit`` or None for a
    step that provably changes no rows; optionally ``_range`` (the
    offsets strictly after lo up to hi) and ``_begin`` (the state at
    lo; None lets the first step load it)."""

    _offset = "version"
    _start_option = "starting_version"

    def __init__(self, options, schema_json: str):
        super().__init__(options, schema_json)
        start = self._options.get(self._start_option)
        # kafka `latest` convention: tail only NEW commits by default;
        # the start option replays history from the NEXT offset on
        self._initial = (int(start) if start is not None
                         else self._head(self._handle()))

    def initialOffset(self):
        return {self._offset: self._initial}

    def latestOffset(self):
        return {self._offset: self._head(self._handle())}

    def commit(self, end):
        pass  # offsets name durable versions; nothing to release

    def _range(self, h, lo: int, hi: int):
        return range(lo + 1, hi + 1)

    def _begin(self, h, lo: int, hi: int):
        return None

    def partitions(self, start, end):
        h = self._handle()
        lo, hi = int(start[self._offset]), int(end[self._offset])
        steps = self._range(h, lo, hi)
        # one walk over the range: each step's after-state is the next
        # step's before-state, so no version is decoded twice
        state = self._begin(h, lo, hi) if steps else None
        mk = functools.partial(self._part, h)
        parts: list = []
        for v in steps:
            state, diff = self._step(h, state, v)
            if diff is not None:
                parts.extend(_emit(*diff, v, mk))
        return self._finish(parts)


class _CdcSource(DataSource):
    """The ``cdc`` option shell: batch reads the table, ``cdc=true``
    streams change events with two appended columns. Adapters set the
    reader classes, ``_version_col``, the wording of the refusals and
    ``_table_schema()``."""

    _version_col = "_commit_version"

    def _cdc(self) -> bool:
        return str(self.options.get("cdc", "")).lower() == "true"

    def schema(self):
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        base = self._table_schema()
        if not self._cdc():
            return base
        return StructType(
            base.fields
            + [StructField("_change_type", StringType(), False),
               StructField(self._version_col, LongType(), False)])

    def reader(self, schema):
        if self._cdc():
            raise ValueError(
                "cdc=true is a streaming option; use spark.readStream "
                f"(batch change feeds: {self._batch_feed})")
        return self._batch_reader(
            self.options, json.dumps(self._table_schema().jsonValue()))

    def streamReader(self, schema):
        if not self._cdc():
            raise ValueError(
                f"streaming {self._what} requires .option('cdc', 'true'): "
                f"the feed carries _change_type/{self._version_col} "
                "change events, not a table snapshot")
        return self._stream_reader(self.options, json.dumps(
            self.schema().jsonValue()))


# --------------------------------------------------------------------------
# manifest adapter
# --------------------------------------------------------------------------


def _mt(options):
    """Spark-free ManifestTable handle for metadata access only."""
    from forklift_spark.manifest import ManifestTable

    root = options.get("path")
    table = options.get("table")
    if not root or not table:
        raise ValueError(
            "forklift_manifest needs .load(<warehouse root>) and "
            ".option('table', <name>)")
    return ManifestTable(None, root, table)


def _dv_positions(mt, entries) -> dict[str, frozenset]:
    """file path -> masked row positions, resolved from the dv parquet
    sidecars (positions accumulate; duplicate pairs are deduped here)."""
    import pyarrow.parquet as pq

    dv_dirs = sorted({e["dv"] for e in entries if e.get("dv")})
    if not dv_dirs:
        return {}
    want = {e["path"] for e in entries if e.get("dv")}
    out: dict[str, set] = {}
    for d in dv_dirs:
        t = pq.read_table(os.path.join(mt.path, d),
                          columns=["file_ref", "pos"])
        for ref, pos in zip(t.column("file_ref").to_pylist(),
                            t.column("pos").to_pylist()):
            if ref in want:
                out.setdefault(ref, set()).add(pos)
    return {k: frozenset(v) for k, v in out.items()}


class _ManifestScan:
    def _handle(self):
        return _mt(self._options)

    def _part(self, mt, path, e, **kw) -> _FilePart:
        return _FilePart(os.path.join(mt.path, path), nbytes=e.get("bytes", 0),
                         schema_json=self._schema_json, **kw)


class _ManifestBatchReader(_ManifestScan, _BatchReader):
    """Besides the interval bounds (per-file zone maps, bucket cells,
    blooms), equality / IN / IS NULL on the partition column prune
    whole partitions in the manifest's own ``_entries`` planner."""

    _partitions_in: list | None = None  # partition-value prune

    def pushFilters(self, filters):
        from pyspark.sql.datasource import EqualTo, In, IsNull

        pcol = self._handle()._raw(
            _opt_int(self._options, "version")).get("partition_by")
        for f in filters:
            if tuple(getattr(f, "attribute", ())) != (pcol,):
                continue
            if isinstance(f, EqualTo):
                self._partitions_in = [f.value]
            elif isinstance(f, In):
                self._partitions_in = list(f.value)
            elif isinstance(f, IsNull):
                self._partitions_in = [None]
        return super().pushFilters(filters)

    def partitions(self):
        mt = self._handle()
        entries = [dict(e) for e in mt._entries(
            _opt_int(self._options, "version"),
            partitions=self._partitions_in, where=self._bounds() or None)]
        dv = _dv_positions(mt, entries)
        return self._finish([self._part(mt, e["path"], e,
                                        drop_pos=dv.get(e["path"]))
                             for e in entries])


class _ManifestStreamReader(_ManifestScan, _StreamReader):
    """Steps are manifest versions; the carried state is the previous
    version's raw manifest JSON. Only segments NOT shared by the two
    adjacent manifests are parsed, so tail planning is O(changed
    files), flat in history depth."""

    def _head(self, mt):
        return mt.current_version()

    def _step(self, mt, a_raw, v: int):
        b_raw = mt._raw(v)
        op = (b_raw.get("operation") or "").split("(")[0]
        if op in _LAYOUT_ONLY_OPS:
            return b_raw, None  # row multiset provably unchanged
        if a_raw is None:
            a_raw = self._predecessor(mt, v)

        def delta(m, other):
            if "entries" in m or "entries" in other:
                return mt._m_entries(m)
            shared = {s["path"] for s in other["segments"]}
            es = []
            for s in m["segments"]:
                if s["path"] not in shared:
                    es.extend(mt._load_segment(s["path"]))
            return es

        ea = {e["path"]: e for e in delta(a_raw, b_raw)}
        eb = {e["path"]: e for e in delta(b_raw, a_raw)}
        return b_raw, (ea, eb, _dv_positions(mt, list(ea.values())),
                       _dv_positions(mt, list(eb.values())))

    @staticmethod
    def _predecessor(mt, v: int) -> dict:
        try:
            return mt._raw(v - 1)
        except KeyError:
            if v - 1 >= 1:
                # the predecessor EXISTED and was vacuumed away: the CDC
                # delta for v is unreconstructable. Falling back to
                # genesis here would silently re-emit every live row as
                # an insert (and swallow the gap's deletes) into a
                # consumer that already holds them — refuse loudly
                # instead (ADVICE r6: exactly-once contract).
                raise ValueError(
                    f"{mt.table}: manifest version {v - 1} was vacuumed; "
                    f"the change feed for version {v} cannot be "
                    "reconstructed. Restart the stream with a fresh "
                    "checkpoint (full re-sync) or set starting_version "
                    "to a retained version."
                ) from None
            # true genesis (v == 1, the create commit; there is no v0):
            # everything live at v is an insert
            return {"entries": [], "segments": []}


class ManifestDataSource(_CdcSource):
    """format name: ``forklift_manifest`` (see module docstring)."""

    _batch_reader = _ManifestBatchReader
    _stream_reader = _ManifestStreamReader
    _batch_feed = "ManifestTable.changes()"
    _what = "the manifest format"

    @classmethod
    def name(cls):
        return "forklift_manifest"

    def _table_schema(self):
        from pyspark.sql.types import StructType

        m = _mt(self.options)._raw(_opt_int(self.options, "version"))
        return StructType.fromJson(m["schema"])
