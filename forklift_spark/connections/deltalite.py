"""Read-only Delta Lake table reader over the PUBLIC transaction-log
protocol — no delta-spark jar, no Delta runtime.

Interop surface: a user migrating off a Delta lakehouse (or pointing
this engine at one a Spark-with-Delta writer maintains) can read those
tables — current snapshot or ``version=`` time travel — through the
standard Connection API, exactly like the reference lets every pattern
target any registered endpoint (`base/connection.rb`).

Scope is the delta.io PROTOCOL.md **reader version 1** feature set,
implemented from the spec:

- ``_delta_log/{version:020d}.json`` commit files, one JSON action per
  line: ``protocol`` / ``metaData`` / ``add`` / ``remove`` (``txn`` /
  ``commitInfo`` are ignored per spec — they don't affect table state).
- Parquet checkpoints (single-file ``{v:020d}.checkpoint.parquet`` and
  multi-part ``{v:020d}.checkpoint.{i:010d}.{n:010d}.parquet``) located
  via ``_last_checkpoint``; the snapshot replays checkpoint state plus
  the JSON tail after it — so logs whose early JSON commits were
  cleaned up (the Delta retention job) still read correctly.
- State reconstruction: last-writer-wins ``metaData``, live files =
  adds minus later removes keyed by ``path`` (URL-decoded per spec).
- Partition columns are NOT stored in the data files; they are attached
  from each file's ``partitionValues`` string map, cast to the schema
  dtype (empty string stays NULL for non-strings, per the spec's
  serialization rules).

**Deletion vectors (reader version 3 feature ``deletionVectors``) are
supported** (r7): ``add.deletionVector`` descriptors are decoded from
the PUBLIC formats — Z85 path/inline encoding, the DV file layout
(version byte, per-DV ``[int32 BE size][portable RoaringBitmapArray]
[int32 BE crc32]``), and the portable 64-bit roaring serialization
(functions/roaring.py) — and applied as anti-joins on
``_metadata.file_path``/``row_index``, the same plan the Iceberg reader
uses for position deletes. Bitmap expansion happens in EXECUTORS
(mapInPandas over the descriptor list), so a 100M-row DV never
materializes on the driver.

**Column mapping (reader version 2 / v3 feature ``columnMapping``) is
supported** (r8): when ``delta.columnMapping.mode`` is ``name`` or
``id``, the parquet files carry PHYSICAL column names
(``delta.columnMapping.physicalName`` in each schema field's metadata,
recursively for nested structs) and ``add.partitionValues`` are keyed
by physical name — the scan reads the physical schema and renames back
to the logical one (nested renames via positional struct cast, a
Catalyst no-op on matching types). In ``id`` mode the reader
additionally verifies, on a bounded sample of parquet footers, that
each physical column carries the declared ``delta.columnMapping.id``
as its parquet field id — refusing on mismatch rather than risking a
silent name-vs-id resolution divergence (spec: id mode resolves by
field id; spec-conformant writers write parquet names == physicalName,
which is what makes the name-based scan correct — the footer check is
what catches a writer that didn't).

``timestampNtz`` (v3) is supported natively: Spark's
``TimestampNTZType`` round-trips the ``timestamp_ntz`` schema type.

**V2 spec checkpoints (v3 feature ``v2Checkpoint``) are supported**
(r8): uuid-named ``{v:020d}.checkpoint.<uuid>.{json|parquet}``
manifests holding a ``checkpointMetadata`` action (version
cross-checked against the file name) plus either inline file actions
or ``sidecar`` pointers into ``_delta_log/_sidecars/`` — sidecar
parquet is parsed with the same action extractor as classic
checkpoints.

**Type widening (v3 feature ``typeWidening`` / ``typeWidening-preview``)
is supported** (r8): a widened table holds parquet files written under
the OLD (narrower) type next to files written under the new one; the
spec requires readers to surface every file under the table's current
(widest) schema. The scan already reads every file with the snapshot's
logical schema, and Spark 4's parquet reader promotes each of the
spec's allowed widenings in the scan itself (byte/short/int -> long,
float -> double, date -> timestamp_ntz, int -> double, and
byte/short/int/long -> decimal / decimal precision-scale growth) —
verified by test against hand-built mixed-type tables, vectorized, no
per-row cast layer. The ``delta.typeChanges`` field metadata the writer
records is informational for readers and is preserved verbatim in the
returned schema's field metadata.

**Change Data Feed reads are supported** (r8): ``change_feed()``
surfaces row-level changes with delta-spark's ``table_changes`` output
shape (``_change_type`` / ``_commit_version`` / ``_commit_timestamp``).
The per-commit rule, stated once here:

- a commit carrying ``cdc`` actions reads its ``_change_data`` files
  verbatim, ``_change_type`` included (its add/remove actions are
  ignored for CDF purposes, per the CDF convention — they would
  double-count);
- any other commit is synthesized as a row-level diff: adds are
  inserts of their live rows, removed files' live rows are deletes,
  and a DV update emits the newly-masked positions as deletes and the
  newly-unmasked ones (a restore) as inserts, via executor-side
  bitmap diff;
- ``dataChange=false`` actions (OPTIMIZE/compaction) are invisible;
- every row is read by the snapshot scan (``_scan``: column mapping,
  the id-mode footer check, partition values, DV masks), under the
  end version's schema, and stamped with the commit's version and
  timestamp (``inCommitTimestamp``, then ``commitInfo.timestamp``,
  then the commit file's mtime — the rule ``history()`` shares).

Other reader-v3 features still degrade LOUDLY via ``DeltaUnsupported``
instead of returning wrong rows.

Driver bound: the live-file list is held on the driver (paths +
partition values), same O(files) bound as the manifest format's entry
list — the read itself is one distributed parquet scan per touched
partition-value combination, unioned lazily.
"""

from __future__ import annotations

import json
import os
import re
from typing import NamedTuple
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from forklift_spark import zonemap
from forklift_spark.changelog import position_changelog
from forklift_spark.connections.base import Connection
from forklift_spark.connections.publish import (
    dv_masks,
    link_or_copy,
    live_rows,
    vacuum_dest,
)
from forklift_spark.functions.roaring import (
    deserialize_roaring64,
    z85_decode,
)

_COMMIT_RE = re.compile(r"^(\d{20})\.json$")
_CKPT_RE = re.compile(r"^(\d{20})\.checkpoint(\.\d{10}\.\d{10})?\.parquet$")
# V2 spec checkpoints: uuid-named, json or parquet flavoured
_CKPT_V2_RE = re.compile(
    r"^(\d{20})\.checkpoint\.([0-9a-fA-F-]{8,})\.(json|parquet)$")

# reader-version-3 features this reader actually implements; any other
# listed feature refuses loudly (spec: a v3 reader MUST support every
# feature in readerFeatures to read the table)
_SUPPORTED_READER_FEATURES = {"deletionVectors", "columnMapping",
                              "timestampNtz", "v2Checkpoint",
                              "typeWidening", "typeWidening-preview"}

# column-mapping metadata keys (PROTOCOL.md 'Column Mapping')
_CM_PHYS = "delta.columnMapping.physicalName"
_CM_ID = "delta.columnMapping.id"
_CM_MODE_KEY = "delta.columnMapping.mode"


class DeltaUnsupported(NotImplementedError):
    """The table requires a reader feature this reader lacks."""


def dv_unique_id(dv: dict | None) -> str | None:
    """The spec's DV unique id (storageType + pathOrInlineDv [+ @offset]):
    together with the file path it keys a LOGICAL file — log
    reconciliation must match remove actions to add actions by
    (path, dv uniqueId), not by path alone (delta.io PROTOCOL.md,
    'Deletion Vector Descriptor Schema' / 'Action Reconciliation')."""
    if not dv:
        return None
    uid = f"{dv['storageType']}{dv['pathOrInlineDv']}"
    off = dv.get("offset")
    return f"{uid}@{off}" if off is not None else uid


def dv_file_path(table_path: str, dv: dict) -> str:
    """Resolve a deletion-vector descriptor to its ``.bin`` file.

    storageType 'u': pathOrInlineDv = ``<optional random prefix><20-char
    Z85 uuid>``; the file is ``<prefix>/deletion_vector_<uuid>.bin``
    under the table root. storageType 'p': an absolute path."""
    st = dv["storageType"]
    if st == "p":
        return re.sub(r"^file:(//)?", "", dv["pathOrInlineDv"])
    if st != "u":
        raise DeltaUnsupported(f"deletion vector storageType {st!r}")
    import uuid as _uuid

    enc = dv["pathOrInlineDv"]
    prefix, uuid_enc = enc[:-20], enc[-20:]
    u = _uuid.UUID(bytes=z85_decode(uuid_enc, 16))
    name = f"deletion_vector_{u}.bin"
    return os.path.join(table_path, prefix, name) if prefix \
        else os.path.join(table_path, name)


def dv_positions(table_path: str, dv: dict) -> list[int]:
    """Decode a DV descriptor into the deleted row indexes.

    On-disk layout (delta.io PROTOCOL.md): the file starts with a
    format-version byte (1); at ``offset`` sits ``[int32 BE size]
    [<size> bytes: portable RoaringBitmapArray][int32 BE crc32(data)]``.
    Inline ('i') descriptors Z85-encode the bitmap bytes directly, with
    ``sizeInBytes`` the true (unpadded) length."""
    import zlib

    if dv["storageType"] == "i":
        data = z85_decode(dv["pathOrInlineDv"], int(dv["sizeInBytes"]))
    else:
        path = dv_file_path(table_path, dv)
        with open(path, "rb") as fh:
            version = fh.read(1)
            if version != b"\x01":
                raise DeltaUnsupported(
                    f"DV file format version {version!r} at {path}")
            fh.seek(int(dv.get("offset") or 1))
            import struct as _s

            size, = _s.unpack(">i", fh.read(4))
            if size != int(dv["sizeInBytes"]):
                raise ValueError(
                    f"DV size mismatch at {path}: file says {size}, "
                    f"descriptor says {dv['sizeInBytes']}")
            data = fh.read(size)
            crc, = _s.unpack(">I", fh.read(4))
            if zlib.crc32(data) & 0xFFFFFFFF != crc:
                raise ValueError(f"DV checksum mismatch at {path}")
    positions = deserialize_roaring64(data)
    card = dv.get("cardinality")
    if card is not None and int(card) != len(positions):
        raise ValueError(
            f"DV cardinality mismatch: descriptor {card}, "
            f"bitmap {len(positions)}")
    return positions


def _cm_phys_name(field: T.StructField, where: str) -> str:
    """A column-mapped field's physical (on-disk parquet) name; the
    spec REQUIRES writers to record one for every field — a missing
    one means the table is malformed, and guessing the logical name
    would silently read the wrong (or no) column."""
    pn = (field.metadata or {}).get(_CM_PHYS)
    if not pn:
        raise DeltaUnsupported(
            f"columnMapping: field {where!r} has no {_CM_PHYS} in its "
            "schema metadata — refusing rather than guessing which "
            "parquet column it maps to")
    return str(pn)


def _cm_physical_type(dt: T.DataType, where: str) -> T.DataType:
    """Recursively rename nested struct fields to their physical names
    (PROTOCOL.md: column mapping applies to nested fields too)."""
    if isinstance(dt, T.StructType):
        return T.StructType([
            T.StructField(
                _cm_phys_name(f, f"{where}.{f.name}"),
                _cm_physical_type(f.dataType, f"{where}.{f.name}"),
                f.nullable,
            )
            for f in dt.fields
        ])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(
            _cm_physical_type(dt.elementType, where + ".element"),
            dt.containsNull,
        )
    if isinstance(dt, T.MapType):
        return T.MapType(
            dt.keyType,
            _cm_physical_type(dt.valueType, where + ".value"),
            dt.valueContainsNull,
        )
    return dt


class _Layout(NamedTuple):
    """A snapshot's columns as the files hold them (``_layout``)."""

    pcols: list[str]  # partition columns, LOGICAL names
    phys: dict[str, str]  # logical -> physical name, every field
    # data columns: (field as the files hold it, logical field)
    data: list[tuple[T.StructField, T.StructField]]

    def partition_values(self, pv: dict) -> dict:
        """Logical partition column -> its raw ``partitionValues``
        string (spec: keyed by PHYSICAL name; the logical key is the
        fallback for writers that didn't)."""
        return {c: pv.get(self.phys.get(c, c), pv.get(c))
                for c in self.pcols}


def _layout(snap: dict) -> _Layout:
    """The one column-mapping resolution of a snapshot: its logical
    partition columns, every field's physical name, and the physical
    read schema of its data columns with the rename back to logical.
    Without column mapping every name is its own physical name.
    ``partitionColumns``: delta-spark records logical names, but the
    spec leaves it writer-shaped — either resolves to the logical
    field, and a name that is neither refuses (the column genuinely
    isn't in the schema)."""
    schema: T.StructType = snap["schema"]
    pcols = list(snap["partition_columns"])
    cm = snap.get("cm_mode", "none") != "none"
    if not cm:
        phys = {f.name: f.name for f in schema.fields}
    else:
        phys = {f.name: _cm_phys_name(f, f.name) for f in schema.fields}
        by_phys = {pn: c for c, pn in phys.items()}
        for i, c in enumerate(pcols):
            if c not in phys:
                if c not in by_phys:
                    raise DeltaUnsupported(
                        f"columnMapping: partition column {c!r} matches "
                        "neither a logical field name nor any field's "
                        "physicalName")
                pcols[i] = by_phys[c]
    # nested struct fields rename by a positional struct cast back to
    # the logical type (same types, so Catalyst folds it into the scan)
    data = [(T.StructField(phys[f.name],
                           _cm_physical_type(f.dataType, f.name),
                           f.nullable) if cm else f, f)
            for f in schema.fields if f.name not in pcols]
    return _Layout(pcols, phys, data)


def _actions(path: str):
    """The actions of a JSON-lines log file (a commit, or a JSON v2
    checkpoint), parsed one per line."""
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if line:
                yield json.loads(line)


def _file_actions(acts: list[dict]) -> tuple[list[dict], list[dict]]:
    """A commit's ``add`` and ``remove`` actions."""
    return ([a["add"] for a in acts if "add" in a],
            [a["remove"] for a in acts if "remove" in a])


def _entry_of(a: dict) -> dict:
    """Live-file entry from an ``add`` action: partition values, DV
    descriptor, tags, plus the fields the read planner prunes with —
    ``stats`` (the spec's per-file JSON statistics string) and
    ``size``."""
    return {
        "pv": a.get("partitionValues") or {},
        "dv": a.get("deletionVector"),
        "tags": a.get("tags") or {},
        "stats": a.get("stats"),
        "size": a.get("size"),
    }


def _decoded_path():
    """``_metadata.file_path`` is a URI: strip the scheme and
    PERCENT-DECODE it (Spark encodes spaces etc.), so it matches the
    literal filesystem paths the position frames carry; literal ``+``
    is protected first because ``url_decode`` is form-decoding
    (``+`` -> space)."""
    return F.url_decode(F.regexp_replace(
        F.regexp_replace(F.col("_metadata.file_path"), "^file:(//)?", ""),
        r"\+", "%2B"))


def _cm_verify_field_ids(paths: list[str], fields: list[T.StructField],
                         sample: int = 4) -> None:
    """id-mode footer check: on up to ``sample`` data files, assert
    each top-level physical column exists in the parquet footer with
    the declared ``delta.columnMapping.id`` as its parquet field id.

    Rationale: in id mode the spec makes field ids authoritative; this
    reader resolves by physical NAME (correct for spec-conformant
    writers, which write parquet names == physicalName), so the footer
    check is what catches a writer whose names diverged from its ids —
    the silent-null failure mode of name resolution. Driver-side
    metadata reads, O(sample) footers."""
    import pyarrow.parquet as pq

    want = {}
    for f in fields:
        pn = _cm_phys_name(f, f.name)
        fid = (f.metadata or {}).get(_CM_ID)
        if fid is None:
            raise DeltaUnsupported(
                f"columnMapping mode=id: field {f.name!r} has no "
                f"{_CM_ID} in its schema metadata")
        want[pn] = int(fid)
    for p in paths[:sample]:
        sch = pq.read_schema(p)
        got = {}
        for i in range(len(sch)):
            fld = sch.field(i)
            md = fld.metadata or {}
            raw = md.get(b"PARQUET:field_id")
            if raw is not None:
                got[fld.name] = int(raw)
        for pn, fid in want.items():
            if got.get(pn) != fid:
                raise DeltaUnsupported(
                    f"columnMapping mode=id: parquet file {p!r} carries "
                    f"field id {got.get(pn)!r} for physical column "
                    f"{pn!r} but the schema declares id {fid} — name "
                    "and id resolution would disagree; refusing rather "
                    "than reading by the wrong key")


class DeltaLiteTable:
    # Replay-path cutoff (r8, measured in SCALE_DELTA_r8.json): the
    # pure-Python JSON replay costs ~40us/commit while reading the
    # checkpoint parquet is a flat ~0.25s Spark job, so a full JSON
    # history of at most this many commits replays ~100x faster than
    # the checkpoint; past a few thousand commits the checkpoint wins.
    JSON_REPLAY_MAX = 512

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        # absolute path: the DV anti-join matches file paths built from
        # self.path against Spark's _metadata.file_path URI (always
        # absolute) — a relative table path would silently never match
        # and KEEP deleted rows
        self.path = os.path.abspath(path)
        self.log_dir = os.path.join(self.path, "_delta_log")
        # planning counters of the most recent read(where=...) — the
        # manifest reader's observability contract, mirrored
        self.last_read_stats: dict | None = None

    # -- log listing -------------------------------------------------------

    def exists(self) -> bool:
        return os.path.isdir(self.log_dir)

    def versions(self) -> list[int]:
        """JSON commit versions present on disk (checkpointed history may
        have had its early JSON files cleaned; see snapshot())."""
        out = []
        for f in os.listdir(self.log_dir):
            m = _COMMIT_RE.match(f)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def latest_version(self) -> int:
        vs = self.versions()
        ck = self._last_checkpoint()
        cand = vs + ([ck["version"]] if ck else [])
        if not cand:
            raise FileNotFoundError(f"no Delta log at {self.log_dir}")
        return max(cand)

    def _last_checkpoint(self) -> dict | None:
        p = os.path.join(self.log_dir, "_last_checkpoint")
        if not os.path.exists(p):
            return None
        with open(p) as fh:
            return json.load(fh)

    def _needs_checkpoint(self, target: int) -> bool:
        """The one replay-path rule: does replaying to ``target`` need
        the parquet checkpoint? Yes when retention cleaned any JSON
        commit in 0..target, or when that history is longer than
        ``JSON_REPLAY_MAX`` commits and a checkpoint at or before
        ``target`` exists; otherwise the JSON commits alone replay it."""
        have = set(self.versions())
        if any(v not in have for v in range(target + 1)):
            return True
        ck = self._last_checkpoint()
        return (target + 1 > self.JSON_REPLAY_MAX and ck is not None
                and int(ck["version"]) <= target)

    def _read_commit(self, v: int) -> tuple[list[dict], int]:
        """Commit ``v``: its actions and its timestamp in epoch millis
        (``commitInfo.inCommitTimestamp``, then ``commitInfo.timestamp``,
        then the commit file's mtime). Every ``protocol`` action is
        checked; a commit absent from disk raises the one ``missing
        commit`` error."""
        path = os.path.join(self.log_dir, f"{v:020d}.json")
        try:
            acts = list(_actions(path))
        except FileNotFoundError:
            raise FileNotFoundError(
                f"missing commit {v} in {self.log_dir} (log cleaned past "
                "the usable checkpoint? history reads need the JSON "
                "commits)") from None
        ts = None
        for act in acts:
            if "protocol" in act:
                self._check_protocol(act["protocol"])
            elif "commitInfo" in act:
                ci = act["commitInfo"]
                ts = ci.get("inCommitTimestamp") or ci.get("timestamp") or ts
        if ts is None:
            ts = os.path.getmtime(path) * 1000
        return acts, int(ts)

    # -- state reconstruction ------------------------------------------------

    def snapshot(self, version: int | None = None) -> dict:
        """Replay the log to ``version`` (default: latest), from the
        checkpoint when ``_needs_checkpoint`` says so: returns
        {"version", "schema" (StructType), "partition_columns",
        "files": {path: partitionValues}}."""
        latest = self.latest_version()
        target = latest if version is None else int(version)
        if target > latest:
            raise ValueError(f"version {target} > latest {latest}")

        files: dict[str, dict] = {}
        meta: dict | None = None
        proto: dict | None = None
        start = 0
        ck = self._last_checkpoint()
        if ck and int(ck["version"]) <= target \
                and self._needs_checkpoint(target):
            meta, files, proto = self._read_checkpoint(int(ck["version"]))
            start = int(ck["version"]) + 1

        for v in range(start, target + 1):
            acts, _ts = self._read_commit(v)
            for act in acts:
                if "protocol" in act:
                    proto = act["protocol"]
                elif "metaData" in act:
                    meta = act["metaData"]
            self._reconcile_commit(files, *_file_actions(acts))

        if meta is None:
            raise ValueError(f"no metaData action found in {self.log_dir}")
        fmt = (meta.get("format") or {}).get("provider", "parquet")
        if fmt != "parquet":
            raise DeltaUnsupported(f"format provider {fmt!r} (parquet only)")
        schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
        cm_mode = str(
            (meta.get("configuration") or {}).get(_CM_MODE_KEY) or "none"
        ).lower()
        if cm_mode not in ("none", "name", "id"):
            raise DeltaUnsupported(
                f"{_CM_MODE_KEY}={cm_mode!r} (supported: none/name/id)")
        return {
            "version": target,
            "schema": schema,
            "partition_columns": list(meta.get("partitionColumns") or []),
            "cm_mode": cm_mode,
            "files": files,
            "meta": meta,
            # last-written protocol: checkpoints must restate the table
            # protocol AS DECLARED (protocols never downgrade), not one
            # inferred from whether masks happen to be live right now
            "protocol": proto,
        }

    def _read_checkpoint(self, version: int) -> tuple[dict | None, dict]:
        parts = sorted(
            f for f in os.listdir(self.log_dir)
            if (m := _CKPT_RE.match(f)) and int(m.group(1)) == version
        )
        if parts:
            return self._parse_ckpt_parquet(
                [os.path.join(self.log_dir, p) for p in parts])[:3]
        # V2 spec checkpoints: {v:020d}.checkpoint.<uuid>.{json|parquet}
        # holding a checkpointMetadata action plus either inline file
        # actions or `sidecar` pointers into _delta_log/_sidecars/
        v2 = sorted(
            f for f in os.listdir(self.log_dir)
            if (m := _CKPT_V2_RE.match(f)) and int(m.group(1)) == version
        )
        if not v2:
            raise FileNotFoundError(
                f"_last_checkpoint points at {version} but no checkpoint "
                f"file exists in {self.log_dir}"
            )
        # any complete checkpoint at the version is valid; prefer parquet
        pick = next((f for f in v2 if f.endswith(".parquet")), v2[0])
        path = os.path.join(self.log_dir, pick)
        if pick.endswith(".parquet"):
            meta, files, proto, ckpt_meta, sidecars = \
                self._parse_ckpt_parquet([path], v2_actions=True)
        else:
            meta, files, proto, ckpt_meta, sidecars = \
                self._parse_ckpt_json(path)
        if ckpt_meta is None:
            raise DeltaUnsupported(
                f"uuid-named checkpoint {pick!r} carries no "
                "checkpointMetadata action (spec: a v2 checkpoint must "
                "hold exactly one)")
        if int(ckpt_meta.get("version", -1)) != int(version):
            raise ValueError(
                f"checkpointMetadata.version {ckpt_meta.get('version')} "
                f"!= file name version {version} in {pick!r}")
        if sidecars:
            side_dir = os.path.join(self.log_dir, "_sidecars")
            paths = []
            for s in sidecars:
                sp = s["path"]
                full = sp if os.path.isabs(sp) else os.path.join(
                    side_dir, sp)
                if not os.path.exists(full):
                    raise FileNotFoundError(
                        f"v2 checkpoint sidecar missing: {full}")
                paths.append(full)
            _m, side_files, _p, _cm, _sc = self._parse_ckpt_parquet(
                paths, v2_actions=True)
            files.update(side_files)
        return meta, files, proto

    def _parse_ckpt_json(self, path: str) -> tuple:
        """JSON-flavoured v2 checkpoint: one action per line, same
        shapes as commit files plus checkpointMetadata/sidecar."""
        meta: dict | None = None
        files: dict[str, dict] = {}
        proto: dict | None = None
        ckpt_meta: dict | None = None
        sidecars: list[dict] = []
        for act in _actions(path):
            if "protocol" in act:
                self._check_protocol(act["protocol"])
                proto = act["protocol"]
            elif "metaData" in act:
                meta = act["metaData"]
            elif "checkpointMetadata" in act:
                ckpt_meta = act["checkpointMetadata"]
            elif "sidecar" in act:
                sidecars.append(act["sidecar"])
            elif "add" in act:
                a = act["add"]
                files[unquote(a["path"])] = _entry_of(a)
        return meta, files, proto, ckpt_meta, sidecars

    def _parse_ckpt_parquet(self, paths: list[str],
                            v2_actions: bool = False) -> tuple:
        """Extract (meta, live files, protocol[, checkpointMetadata,
        sidecars]) from checkpoint-shaped parquet: one action per row,
        one top-level struct column per action type. Used for classic
        checkpoints, v2 checkpoint manifests, and v2 sidecar files
        (sidecars carry only file actions)."""
        df = self.spark.read.parquet(*paths)
        meta: dict | None = None
        files: dict[str, dict] = {}
        proto: dict | None = None
        ckpt_meta: dict | None = None
        sidecars: list[dict] = []
        cols = set(df.columns)
        if "protocol" in cols:
            for r in df.filter(F.col("protocol").isNotNull()).select(
                "protocol.*"
            ).collect():
                proto = {k: (list(v) if isinstance(v, (list, tuple))
                             else v)
                         for k, v in r.asDict().items() if v is not None}
                self._check_protocol(proto)
        if "metaData" in cols:
            rows = df.filter(F.col("metaData").isNotNull()).select(
                "metaData.*"
            ).collect()
            if rows:
                meta = {k: v for k, v in rows[-1].asDict().items()}
                if isinstance(meta.get("format"), object) and hasattr(
                    meta.get("format"), "asDict"
                ):
                    meta["format"] = meta["format"].asDict()
        # checkpoints hold the full live set: adds present, removes are
        # tombstones only (already excluded from add rows by the writer)
        if "add" in cols:
            add_fields = {
                f.name for f in df.schema["add"].dataType.fields  # type: ignore[union-attr]
            }
            sel = ["add.path", "add.partitionValues"]
            if "deletionVector" in add_fields:
                sel.append("add.deletionVector")
            if "tags" in add_fields:  # sync's dv-churn detection reads
                sel.append("add.tags")  # the forklift_dv_src tag
            if "stats" in add_fields:  # read-planner file skipping
                sel.append("add.stats")
            if "size" in add_fields:
                sel.append("add.size")
            for r in (
                df.filter(F.col("add").isNotNull()).select(*sel).collect()
            ):
                dv = r["deletionVector"] if "deletionVector" in add_fields \
                    else None
                files[unquote(r["path"])] = {
                    "pv": dict(r["partitionValues"] or {}),
                    "dv": dv.asDict() if dv is not None else None,
                    "tags": dict(r["tags"] or {})
                    if "tags" in add_fields else {},
                    "stats": r["stats"] if "stats" in add_fields
                    else None,
                    "size": r["size"] if "size" in add_fields else None,
                }
        if v2_actions:
            if "checkpointMetadata" in cols:
                rows = df.filter(
                    F.col("checkpointMetadata").isNotNull()
                ).select("checkpointMetadata.*").collect()
                if rows:
                    ckpt_meta = rows[-1].asDict()
            if "sidecar" in cols:
                sidecars = [
                    r.asDict() for r in df.filter(
                        F.col("sidecar").isNotNull()
                    ).select("sidecar.*").collect()
                ]
        return meta, files, proto, ckpt_meta, sidecars

    @staticmethod
    def _reconcile_commit(files: dict[str, dict], adds: list[dict],
                          removes: list[dict]) -> None:
        """Per-commit reconciliation, ORDER-INDEPENDENT within the
        commit (spec: logical files are keyed by (path, dv uniqueId)):
        a real DV-update commit holds remove(path, oldDV) and add(path,
        newDV) in writer-dependent line order — applying removes
        against the PRE-commit state first, matched by dv uniqueId,
        keeps the new logical file alive whichever line comes first. A
        remove with no DV descriptor pops the path unconditionally
        (protocol-v1 writers never carry one). Re-adding a path
        replaces its entry, INCLUDING the DV descriptor (a DV update is
        exactly an add of the same path with a new DV, per spec)."""
        for r in removes:
            p = unquote(r["path"])
            cur = files.get(p)
            if cur is None:
                continue
            rdv = r.get("deletionVector")
            if rdv is None or dv_unique_id(rdv) == dv_unique_id(
                cur.get("dv")
            ):
                files.pop(p, None)
        for a in adds:
            files[unquote(a["path"])] = _entry_of(a)

    @staticmethod
    def _check_protocol(proto: dict) -> None:
        mrv = int(proto.get("minReaderVersion", 1) or 1)
        if mrv == 1:
            return
        if mrv == 2:
            # reader version 2 == column mapping (PROTOCOL.md: the only
            # capability v2 adds over v1), which this reader implements
            return
        if mrv == 3:
            feats = set(proto.get("readerFeatures") or [])
            extra = feats - _SUPPORTED_READER_FEATURES
            if extra:
                raise DeltaUnsupported(
                    f"readerFeatures {sorted(extra)} not implemented "
                    f"(supported: {sorted(_SUPPORTED_READER_FEATURES)}) — "
                    "refusing rather than returning rows that ignore "
                    "reader-mandatory features"
                )
            return
        raise DeltaUnsupported(
            f"minReaderVersion={mrv}: this reader implements protocol "
            "v1/v2 plus the v3 deletionVectors / columnMapping / "
            "timestampNtz / v2Checkpoint / typeWidening features — "
            "refusing rather than returning rows that ignore "
            "reader-mandatory features"
        )

    # -- read ----------------------------------------------------------------

    def version_as_of(self, as_of_ms: int) -> int:
        """TIMESTAMP AS OF resolution, per the Delta spec's rule: the
        latest commit whose file modification time is at or before the
        given epoch millis. The clock is the commit file's mtime ONLY —
        not the ``commitInfo`` timestamps ``history()`` and
        ``change_feed()`` report. Raises when every retained commit is
        newer — returning a later state would silently violate the
        requested as-of point."""
        cands = []
        for v in self.versions():
            p = os.path.join(self.log_dir, f"{v:020d}.json")
            if int(os.path.getmtime(p) * 1000) <= as_of_ms:
                cands.append(v)
        if not cands:
            raise ValueError(
                f"no commit at or before {as_of_ms} in {self.log_dir} "
                "(earliest retained commit is newer)")
        return max(cands)

    def _prune_files(self, snap: dict, where: dict) -> dict:
        """File skipping by the rule in ``forklift_spark/zonemap.py``,
        from the log's own metadata: a partition value ``v`` is the stat
        ``(v, v)`` (NULL: all-NULL); a data column's stat comes from
        ``add.stats`` minValues/maxValues by physical name, with
        ``nullCount == numRecords`` as all-NULL and a timestamp max
        widened by 1 ms (spec writers truncate timestamp stats to
        milliseconds). Returns the surviving files; planning counters
        land on ``self.last_read_stats``."""
        lay = _layout(snap)
        pcols = set(lay.pcols)
        types = {f.name: f.dataType for f in snap["schema"].fields}
        checks = zonemap.checks(where, types)

        def stat(e: dict, col: str):
            pk = lay.phys[col]
            if col in pcols:
                v = lay.partition_values(e.get("pv") or {})[col]
                if v == "" and not isinstance(types[col], T.StringType):
                    v = None
                return zonemap.ALL_NULL if v is None else (v, v)
            st = e.get("stats") or {}
            try:
                st = (json.loads(st) if isinstance(st, str) else st) or {}
            except ValueError:
                st = {}
            minv = (st.get("minValues") or {}).get(pk)
            maxv = (st.get("maxValues") or {}).get(pk)
            if minv is None or maxv is None:
                nulls = (st.get("nullCount") or {}).get(pk)
                nrec = st.get("numRecords")
                if nulls is not None and nulls == nrec:
                    return zonemap.ALL_NULL
                return None
            if isinstance(types[col], (T.TimestampType, T.TimestampNTZType)):
                try:
                    maxv = zonemap.key_of(types[col])(maxv) + zonemap.MS
                except (TypeError, ValueError, OverflowError):
                    pass  # unparseable: the keep test keeps the file
            return (minv, maxv)

        kept = {
            p: e for p, e in snap["files"].items()
            if all(zonemap.keeps(stat(e, c), lo, hi, key)
                   for c, key, lo, hi in checks)
        }
        self.last_read_stats = zonemap.read_stats(
            self.path, len(snap["files"]), list(kept.values()),
            [c for c, *_ in checks if c not in pcols], stat,
            lambda e: e.get("size"),
        )
        return kept

    def read(self, version: int | None = None,
             as_of_ms: int | None = None,
             where: dict | None = None) -> DataFrame:
        """Snapshot read. With ``where = {col: (lo, hi)}`` (None =
        unbounded), files are SKIPPED at plan time from the Delta log's
        own metadata (``_prune_files``) and the row-level interval
        filter is applied on top, so results are exact whether or not a
        file carries stats (counters on ``self.last_read_stats``)."""
        if as_of_ms is not None:
            if version is not None:
                raise ValueError("pass version OR as_of_ms, not both")
            version = self.version_as_of(int(as_of_ms))
        snap = self.snapshot(version)
        if where:
            snap = {**snap, "files": self._prune_files(snap, where)}
        if not snap["files"]:
            return self.spark.createDataFrame([], snap["schema"])
        # one scan per distinct partition-value combination; the lit
        # columns are constant-folded, the union is lazy (spec:
        # partition values serialize as strings; empty string means
        # NULL for non-string types — handled in _scan)
        return zonemap.filter_where(self._scan(snap), where)

    def changes(self, from_version: int, to_version: int | None = None
                ) -> DataFrame:
        """Append-only version-diff feed: rows of data files ADDED after
        ``from_version`` up to ``to_version`` (default latest) — the
        version-cursor incremental-consumption primitive, symmetric with
        the Iceberg reader's ``changes()`` and the manifest format's
        feed. O(log delta) to plan (JSON replay of the range only), one
        scan of just the new files. Ranges containing ``remove`` actions
        refuse loudly: emitting only the adds would misrepresent
        updates/deletes as pure inserts (Delta's real CDF lives in
        ``_change_data``, a writer feature outside protocol v1)."""
        latest = self.latest_version()
        to_v = latest if to_version is None else int(to_version)
        if to_v > latest:
            raise ValueError(f"version {to_v} > latest {latest}")
        base = self.snapshot(int(from_version))
        added: dict[str, dict] = {}
        removed = 0
        for v in range(int(from_version) + 1, to_v + 1):
            adds, removes = _file_actions(self._read_commit(v)[0])
            removed += len(removes)
            for a in adds:
                if a.get("deletionVector"):
                    # a DV-carrying add IS a delete (of the masked
                    # rows) — not append-only
                    removed += 1
                    continue
                added[unquote(a["path"])] = {
                    "pv": a.get("partitionValues") or {}, "dv": None}
        if removed:
            raise NotImplementedError(
                f"version range {from_version}..{to_v} is not append-only "
                f"({removed} remove/DV actions): the appended-rows feed "
                "would misrepresent updates/deletes as inserts — use "
                "change_feed() for the full row-level CDF, or read "
                "full snapshots instead")
        if not added:
            return self.spark.createDataFrame([], base["schema"])
        # same partition-value attachment as read()
        return self._scan({**base, "files": added})

    def files(self, version: int | None = None) -> DataFrame:
        """Live logical files as a metadata DataFrame (path, partition
        values, size, stats row count, DV cardinality) — the Delta twin
        of ``ManifestTable.files()`` / delta-spark's file inventory.
        Driver-side metadata only; bounded by the log's own size."""
        snap = self.snapshot(version)
        rows = []
        for p, e in sorted(snap["files"].items()):
            n = None
            if e.get("stats"):
                try:
                    n = int(json.loads(e["stats"]).get("numRecords"))
                except (ValueError, TypeError):
                    n = None
            dv = e.get("dv") or {}
            rows.append((p, {k: v for k, v in (e.get("pv") or {}).items()},
                         e.get("size"), n,
                         int(dv.get("cardinality") or 0),
                         e.get("stats")))
        schema = ("path string, partition map<string,string>, "
                  "size_bytes long, num_records long, "
                  "dv_cardinality long, stats string")
        return self.spark.createDataFrame(rows, schema)

    def history(self) -> DataFrame:
        """Commit history as a metadata DataFrame: version, timestamp,
        operation, add/remove action counts — the reader-side answer to
        delta-spark's ``DESCRIBE HISTORY``. The timestamp is the one
        commit-timestamp rule ``change_feed()`` also stamps rows with:
        ``commitInfo.inCommitTimestamp``, then ``commitInfo.timestamp``,
        then the commit file's mtime."""
        rows = []
        for v in self.versions():
            acts, ts = self._read_commit(v)
            op = next((a["commitInfo"].get("operation") for a in acts
                       if "commitInfo" in a), None)
            adds, removes = _file_actions(acts)
            rows.append((v, ts, op, len(adds), len(removes)))
        return self.spark.createDataFrame(
            rows, "version long, timestamp_ms long, operation string, "
                  "n_adds long, n_removes long")

    def changelog(self, from_version: int, to_version: int | None = None,
                  net: bool = False) -> DataFrame:
        """Row-level version-diff changelog: the table's columns plus
        ``_change_type`` (``'insert'`` | ``'delete'``) for every row
        whose liveness differs between the two versions — the
        full-fidelity companion to the append-only ``changes()`` feed,
        for tables WITHOUT Change Data Feed enabled (``change_feed()``
        reads the writer-recorded CDF when it exists and distinguishes
        updates; this feed synthesizes from the log alone, so updates
        surface as delete+insert pairs). Symmetric with the Iceberg
        reader's ``changelog()``; reference analog: the
        incremental-consumption contract (S2,
        `transports/mysql.rb:149-158`) extended to deletions.

        O(changed files) by construction: Delta keys logical files by
        (path, deletionVector.uniqueId), so the replayed snapshots
        already name exactly which files were added, removed, or had
        their DV change — only those are scanned (both sides), and the
        (path, position) anti-join diffs them. Untouched files never
        enter the plan (``self.last_changelog_stats`` records the
        split). A DV GROWING yields deletes of the newly-masked
        positions; a DV SHRINKING (restore) yields inserts of the
        unmasked ones.

        Schema evolution: each version reads under its OWN metaData
        (additive evolution null-fills the old side); a column dropped
        or renamed across the range refuses loudly — the diff would be
        ambiguous. ``net=True`` cancels exact-duplicate insert/delete
        pairs so pure compaction/rewrite ranges net to zero rows.
        """
        old = self.snapshot(int(from_version))
        new = self.snapshot(to_version)
        old_names = [f.name for f in old["schema"].fields]
        names = [f.name for f in new["schema"].fields]
        if not set(old_names) <= set(names):
            raise DeltaUnsupported(
                "changelog across a column drop/rename is ambiguous "
                f"(old columns {sorted(set(old_names) - set(names))} "
                "missing from the target schema) — read full snapshots "
                "instead")

        def _dvid(e: dict):
            return dv_unique_id(e.get("dv"))

        of, nf = old["files"], new["files"]
        changed_old = {p: e for p, e in of.items()
                       if p not in nf or _dvid(e) != _dvid(nf[p])}
        changed_new = {p: e for p, e in nf.items()
                       if p not in of or _dvid(e) != _dvid(of[p])}
        self.last_changelog_stats = {
            "files_old": len(of), "files_new": len(nf),
            "scanned_old": len(changed_old),
            "scanned_new": len(changed_new),
        }

        def _side(snap: dict, files: dict) -> DataFrame:
            if not files:
                return self.spark.createDataFrame([], T.StructType(
                    list(snap["schema"].fields) + [
                        T.StructField("___path", T.StringType()),
                        T.StructField("___pos", T.LongType()),
                    ]))
            return self._scan({**snap, "files": files}, keep_meta=True)

        old_side = _side(old, changed_old)
        new_side = _side(new, changed_new)
        for f in new["schema"].fields:
            if f.name not in old_names:
                old_side = old_side.withColumn(
                    f.name, F.lit(None).cast(f.dataType))

        return position_changelog(old_side, new_side, names, net)

    def _dv_diff_positions(self, diffs: list[tuple[str, dict | None,
                                                   dict | None]]
                           ) -> DataFrame:
        """Expand (path, old DV, new DV) descriptor pairs into a
        (``___path``, ``___pos``, ``___ct``) frame: positions newly
        masked (in new, not old) surface as ``delete``; positions
        UNmasked (in old, not new — a row restore) surface as
        ``insert``. With no old DV this is the file's deleted set. The
        bitmap expansion runs in EXECUTORS (mapInPandas over the
        descriptor rows — metadata-sized), so a DV marking millions of
        rows never materializes on the driver; inline DVs travel in the
        descriptor itself, on-disk DVs are read from shared storage by
        the task."""
        import pandas as pd

        table_path = self.path
        rows = [
            (os.path.join(table_path, p),
             json.dumps(odv) if odv else None,
             json.dumps(ndv) if ndv else None)
            for p, odv, ndv in diffs
        ]
        ddf = self.spark.createDataFrame(
            rows, "___path string, ___old string, ___new string"
        ).repartition(min(len(rows), 32))

        def expand(batches):
            for pdf in batches:
                for path, oj, nj in zip(pdf["___path"], pdf["___old"],
                                        pdf["___new"]):
                    new = dv_positions(table_path, json.loads(nj)) \
                        if nj else []
                    if not oj:  # no old side: no set building
                        dels, ins = new, []
                    else:
                        old = set(dv_positions(table_path, json.loads(oj)))
                        dels = sorted(set(new) - old)
                        ins = sorted(old - set(new))
                    yield pd.DataFrame({
                        "___path": path,
                        "___pos": pd.array(dels + ins, dtype="int64"),
                        "___ct": ["delete"] * len(dels)
                        + ["insert"] * len(ins),
                    })

        return ddf.mapInPandas(
            expand, "___path string, ___pos long, ___ct string")

    def change_feed(self, from_version: int,
                    to_version: int | None = None) -> DataFrame:
        """Delta **Change Data Feed** read: row-level changes committed
        AFTER ``from_version`` up to ``to_version`` (default latest),
        under the end-version schema plus the three CDF columns
        delta-spark's ``table_changes`` emits: ``_change_type``
        (insert / delete / update_preimage / update_postimage),
        ``_commit_version``, ``_commit_timestamp``. Which rows each
        commit contributes, and its timestamp, follow the per-commit
        rule in the module docstring ("Change Data Feed reads").
        Reference analog: the incremental consumption patterns in
        lib/forklift/patterns/mysql_patterns.rb (HWM pipes), upgraded
        to full row-level CDC."""
        latest = self.latest_version()
        to_v = latest if to_version is None else int(to_version)
        if to_v > latest:
            raise ValueError(f"version {to_v} > latest {latest}")
        from_v = int(from_version)
        end = self.snapshot(to_v)
        names = end["schema"].fieldNames()
        cur = {p: dict(e) for p, e
               in self.snapshot(from_v)["files"].items()}

        def scan(files: dict, **kw) -> DataFrame:
            return self._scan({**end, "files": files}, **kw)

        parts: list[DataFrame] = []
        for v in range(from_v + 1, to_v + 1):
            acts, ts_ms = self._read_commit(v)
            adds, removes = _file_actions(acts)
            cdc = [a["cdc"] for a in acts if "cdc" in a]
            rows: list[DataFrame] = []
            if cdc:
                # _change_type is a literal extra column of the cdc
                # files, never column-mapped (it is not a schema field)
                rows.append(scan(
                    {unquote(c["path"]): {"pv": c.get("partitionValues")
                                          or {}} for c in cdc},
                    extra=(T.StructField("_change_type", T.StringType()),)))
            else:
                inserts: dict[str, dict] = {}
                deletes: dict[str, dict] = {}
                diffs: list[tuple[str, dict | None, dict | None]] = []
                diff_files: dict[str, dict] = {}
                readded: set[str] = set()
                for a in adds:
                    if not a.get("dataChange", True):
                        continue
                    p = unquote(a["path"])
                    readded.add(p)
                    old = cur.get(p)
                    ndv = a.get("deletionVector")
                    pv = a.get("partitionValues") or {}
                    if old is None:
                        inserts[p] = {"pv": pv, "dv": ndv}
                    elif dv_unique_id(ndv) != dv_unique_id(
                            old.get("dv")):
                        diffs.append((p, old.get("dv"), ndv))
                        diff_files[p] = {"pv": pv or old["pv"]}
                for r in removes:
                    if not r.get("dataChange", True):
                        continue
                    p = unquote(r["path"])
                    if p in readded:
                        # remove(path, oldDV) + add(path, newDV) in ONE
                        # commit is a logical-file REPLACE (the spec's
                        # DV-update shape) — the add side already
                        # emitted the row-level diff; a delete here
                        # would double-count the file's live rows
                        continue
                    old = cur.get(p)
                    if old is None:
                        continue  # nothing was live under this path
                    rdv = r.get("deletionVector")
                    if rdv is not None and dv_unique_id(rdv) != \
                            dv_unique_id(old.get("dv")):
                        continue  # removes a superseded logical file
                    deletes[p] = {"pv": r.get("partitionValues")
                                  or old["pv"], "dv": old.get("dv")}
                for files, ct in ((inserts, "insert"), (deletes, "delete")):
                    if files:
                        rows.append(scan(files).withColumn(
                            "_change_type", F.lit(ct)))
                if diffs:
                    rows.append(
                        scan(diff_files, keep_meta=True)
                        .join(self._dv_diff_positions(diffs),
                              ["___path", "___pos"])
                        .withColumnRenamed("___ct", "_change_type"))
            parts += [df.select(
                *names, "_change_type",
                F.lit(v).cast("bigint").alias("_commit_version"),
                F.timestamp_millis(F.lit(ts_ms).cast("bigint"))
                .alias("_commit_timestamp")) for df in rows]
            self._reconcile_commit(cur, adds, removes)

        if not parts:
            return self.spark.createDataFrame([], T.StructType(
                list(end["schema"].fields) + [
                    T.StructField("_change_type", T.StringType()),
                    T.StructField("_commit_version", T.LongType(), False),
                    T.StructField("_commit_timestamp", T.TimestampType(),
                                  False),
                ]))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _scan(self, snap: dict, keep_meta: bool = False,
              extra: tuple[T.StructField, ...] = ()) -> DataFrame:
        """Read ``snap["files"]``: one distributed parquet scan per
        partition-value combination, unioned lazily. Files are read
        under their physical schema and renamed back to logical
        (``_layout``; in ``id`` mode the footers are checked first),
        partition values are attached as typed literals (empty string
        is NULL for non-strings, per the spec's serialization rules),
        and DV-masked files are anti-joined on their deleted positions.
        ``extra``: fields read verbatim after the data columns, never
        column-mapped (the CDF ``_change_type``). ``keep_meta`` carries
        normalized ``___path``/``___pos`` provenance columns (decoded
        absolute path + physical row position) through to the result —
        the changelog diff keys on them."""
        schema: T.StructType = snap["schema"]
        lay = _layout(snap)
        ptypes = {f.name: f.dataType for f in schema.fields
                  if f.name in lay.pcols}
        read_schema = T.StructType([rf for rf, _f in lay.data] + list(extra))
        carry = [f.name for f in extra] + (
            ["___path", "___pos"] if keep_meta else [])
        logical = [(F.col(rf.name).cast(f.dataType)
                    if rf.dataType != f.dataType
                    else F.col(rf.name)).alias(f.name)
                   for rf, f in lay.data] + carry
        groups: dict[tuple, dict[bool, list[str]]] = {}
        for path, e in snap["files"].items():
            key = tuple(lay.partition_values(e["pv"]).values())
            groups.setdefault(key, {False: [], True: []})[
                bool(e.get("dv"))].append(os.path.join(self.path, path))
        if snap.get("cm_mode") == "id":
            _cm_verify_field_ids(
                sorted(os.path.join(self.path, p) for p in snap["files"]),
                [f for _rf, f in lay.data])
        dv_files = [(p, None, e["dv"]) for p, e in snap["files"].items()
                    if e.get("dv")]
        deleted = self._dv_diff_positions(dv_files).drop("___ct") \
            if dv_files else None

        def read(paths: list[str], masked: bool) -> DataFrame:
            df = self.spark.read.schema(read_schema).parquet(*paths)
            if masked or keep_meta:
                df = (df.withColumn("___path", _decoded_path())
                      .withColumn("___pos", F.col("_metadata.row_index")))
            if masked:
                # attach the scan's physical row position and anti-join
                # the deleted set — the same plan shape iceberglite uses
                # for position deletes (per-file positions, no shuffle
                # of the big side beyond the join itself)
                df = df.join(deleted, ["___path", "___pos"], "left_anti")
            return df.select(*logical)

        parts = []
        for key, by_dv in sorted(groups.items(), key=lambda kv: str(kv[0])):
            sub = [read(paths, masked) for masked, paths in by_dv.items()
                   if paths]
            df = sub[0]
            for s in sub[1:]:
                df = df.unionByName(s)
            for c, v in zip(lay.pcols, key):
                if v is None or (v == "" and not isinstance(
                    ptypes[c], T.StringType
                )):
                    lit = F.lit(None).cast(ptypes[c])
                else:
                    lit = F.lit(v).cast(ptypes[c])
                df = df.withColumn(c, lit)
            parts.append(df.select(*schema.fieldNames(), *carry))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out


class DeltaLiteConnection(Connection):
    """Config: ``path`` — a directory whose subdirectories are Delta
    tables (each containing ``_delta_log``). Read-only by design: this
    engine WRITES through its own manifest format; Delta interop is for
    reading someone else's lakehouse."""

    def __init__(self, config, engine, name: str = ""):
        super().__init__(config, engine, name)
        self.root = config["path"]
        self.spark = getattr(engine, "spark", engine)

    def _table(self, name: str) -> DeltaLiteTable:
        return DeltaLiteTable(self.spark, os.path.join(self.root, name))

    def read(self, query_or_table: str, version: int | None = None,
             as_of_ms: int | None = None, **kwargs) -> DataFrame:
        return self._table(query_or_table).read(
            version=version, as_of_ms=as_of_ms)

    # uniform cursor surface (shared with IcebergLiteConnection) for
    # patterns.lakehouse_incremental_pipe
    def head_cursor(self, table: str) -> int:
        return self._table(table).latest_version()

    def read_at_cursor(self, table: str, cursor: int) -> DataFrame:
        return self._table(table).read(version=cursor)

    def changes(self, table: str, from_cursor: int,
                to_cursor: int | None = None) -> DataFrame:
        return self._table(table).changes(from_cursor, to_cursor)

    def changelog(self, table: str, from_cursor: int,
                  to_cursor: int | None = None,
                  net: bool = False) -> DataFrame:
        return self._table(table).changelog(from_cursor, to_cursor,
                                            net=net)

    def change_feed(self, table: str, from_cursor: int,
                    to_cursor: int | None = None) -> DataFrame:
        return self._table(table).change_feed(from_cursor, to_cursor)

    def files(self, table: str, version: int | None = None) -> DataFrame:
        return self._table(table).files(version)

    def history(self, table: str) -> DataFrame:
        return self._table(table).history()

    def write(self, df, table, mode="upsert", primary_key="id", **kwargs):
        raise NotImplementedError(
            "DeltaLiteConnection is read-only (protocol v1 reader); "
            "write through a manifest/parquet connection instead"
        )

    def tables(self) -> list[str]:
        if not os.path.isdir(self.root):
            return []
        return sorted(
            d for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d, "_delta_log"))
        )


def write_dv_bin(dest: str, masks: dict[str, list[int]]) -> dict[str, dict]:
    """Write ONE spec-shaped DV file at ``dest`` holding every mask
    (version byte, then per mask ``[int32 BE size][portable
    RoaringBitmapArray][int32 BE crc32]``); returns {path: 'u'
    descriptor} with per-mask offsets — the multi-DV-per-file layout
    real Delta writers use."""
    import struct as _s
    import uuid as _uuid
    import zlib

    from forklift_spark.functions.roaring import (
        serialize_roaring64,
        z85_encode,
    )

    u = _uuid.uuid4()
    enc = z85_encode(u.bytes)
    descs: dict[str, dict] = {}
    os.makedirs(dest, exist_ok=True)
    with open(os.path.join(dest, f"deletion_vector_{u}.bin"), "wb") as fh:
        fh.write(b"\x01")
        pos = 1
        for p in sorted(masks):
            data = serialize_roaring64(masks[p])
            fh.write(_s.pack(">i", len(data)))
            fh.write(data)
            fh.write(_s.pack(">I", zlib.crc32(data) & 0xFFFFFFFF))
            descs[p] = {"storageType": "u", "pathOrInlineDv": enc,
                        "offset": pos, "sizeInBytes": len(data),
                        "cardinality": len(masks[p])}
            pos += 4 + len(data) + 4
    return descs


def _protocol_action(with_dv: bool, cdf: bool = False) -> dict:
    if with_dv:
        wf = ["deletionVectors"] + (["changeDataFeed"] if cdf else [])
        return {"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors"],
            "writerFeatures": wf}}
    if cdf:
        # CDF is writer-side only: readers need no feature, writers
        # declare it (minWriterVersion 7 + table feature)
        return {"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["changeDataFeed"]}}
    return {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}


def _delta_stats_of(types: dict, e: dict) -> str | None:
    """Render a manifest entry's zone maps as the Delta spec's per-file
    ``stats`` JSON (numRecords / minValues / maxValues), so EXTERNAL
    Delta readers (delta-spark data skipping, and this reader's own
    ``read(where=...)``) file-skip on the exported table. Value typing
    follows the spec: JSON numbers for integer/floating columns
    (manifest bounds are Spark cast-to-string, round-trip exact),
    ISO strings for dates, ISO-T for timestamps. Decimal bounds are
    OMITTED: a float re-encode could round a bound inward and prune a
    file that actually matches — no stat beats a wrong stat."""
    zmaps = e.get("stats")
    rows = e.get("rows")
    if not zmaps and rows is None:
        return None
    minv: dict = {}
    maxv: dict = {}
    for col, bound in (zmaps or {}).items():
        lo, hi = bound
        if lo is None or hi is None:
            continue  # all-NULL column: no bounds (nullCount unknown)
        dt = types.get(col)
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType,
                           T.LongType)):
            minv[col], maxv[col] = int(lo), int(hi)
        elif isinstance(dt, (T.FloatType, T.DoubleType)):
            minv[col], maxv[col] = float(lo), float(hi)
        elif isinstance(dt, (T.DateType, T.StringType)):
            minv[col], maxv[col] = str(lo), str(hi)
        elif isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            minv[col] = str(lo).replace(" ", "T", 1)
            maxv[col] = str(hi).replace(" ", "T", 1)
        # decimals and anything else: omitted (see docstring)
    out: dict = {}
    if rows is not None:
        out["numRecords"] = int(rows)
    if minv:
        out["minValues"] = minv
        out["maxValues"] = maxv
    return json.dumps(out) if out else None


def _add_action(table, dest: str, e: dict,
                descs: dict[str, dict],
                types: dict | None = None) -> dict:
    """Hard-link entry ``e`` into ``dest`` and build its add action
    (DV descriptor + source-dv tag when the entry is masked, zone maps
    re-rendered as spec stats for external data skipping). ``types``:
    {col: DataType} of the manifest schema, computed ONCE per commit by
    the caller (per-entry schema loads would be O(files^2))."""
    dst = link_or_copy(table, dest, e["path"])
    a = {"path": e["path"], "partitionValues": {},
         "size": os.path.getsize(dst),
         "modificationTime": int(os.path.getmtime(dst) * 1000),
         "dataChange": True}
    stats = _delta_stats_of(types or {}, e)
    if stats:
        a["stats"] = stats
    if e["path"] in descs:
        a["deletionVector"] = descs[e["path"]]
        # spec-legal free-form tags: record WHICH manifest dv dir this
        # mask came from, so sync can detect mask churn exactly
        a["tags"] = {"forklift_dv_src": e.get("dv") or ""}
    return a


def export_manifest_to_delta(table, dest: str,
                             dv_mode: str = "refuse",
                             cdf: bool = False) -> dict:
    """Publish a ManifestTable as a Delta-readable table at ``dest`` —
    the first sync; on an existing destination, an incremental sync
    (``sync_manifest_to_delta``, which documents the layout; ``dv_mode``
    policy: ``connections/publish.py``). The reverse interop direction:
    external Delta readers consume a table this engine maintains.

    Returns {"files": n, "rows": n or None, "version": source version}
    for the published state.
    """
    out = sync_manifest_to_delta(table, dest, dv_mode=dv_mode, cdf=cdf)
    return {k: out[k] for k in ("files", "rows", "version")}


def sync_manifest_to_delta(table, dest: str,
                           dv_mode: str = "refuse",
                           checkpoint_interval: int = 10,
                           cdf: bool = False) -> dict:
    """Bring the Delta log at ``dest`` up to the manifest table's current
    state with ONE new commit containing only the delta (the
    recurring-publish story, the reference's repeated ``pipe`` publish,
    patterns/mysql_patterns.rb:28-43, without re-snapshotting). The one
    publish path (``connections/publish.py``, which also holds the
    ``dv_mode`` policy): the first sync is this same diff against an
    empty log.

    The manifest keeps every real column INSIDE its data files (the
    partition dir column is the synthetic ``__fsp__``), so the log
    declares an UNPARTITIONED Delta table and adds every live file
    as-is — any spec-conformant reader gets full rows with no
    partition-value reconstruction. Files are hard-linked when the
    filesystem allows (copied otherwise). The log is written at
    ``dest``, never inside the manifest table directory — vacuum()
    treats foreign files there as orphans and would reclaim the log.

    Each call replays the destination log (O(metadata); no log = the
    empty snapshot, version -1), diffs its live file set against the
    manifest's by path, and writes commit ``v + 1`` holding ``remove``
    actions for files gone from the manifest and ``add`` actions
    (hard-linked, zone maps re-rendered as spec ``stats``) for new ones.
    Version 0 also declares the ``protocol`` (reader v1, or v3 when
    masks are published) and the ``metaData``; later commits carry a
    ``metaData`` only when the schema changed. No-op diffs write NO
    commit. A commit introducing the table's first DV re-states the
    protocol at reader version 3 (spec-legal in-commit upgrade).

    ``cdf=True`` on the FIRST sync creates the destination with
    ``delta.enableChangeDataFeed=true`` (+ the changeDataFeed writer
    feature); every later sync honors the destination's own config and
    writes real ``_change_data`` files for commits carrying deletes or
    DV churn — external ``table_changes`` consumers (and this reader's
    ``change_feed()``) get the exact row-level feed, with updates as
    delete+insert pairs (the manifest's dv diff names exact rows, not
    update identity). Insert-only commits stay cdc-less (readers
    synthesize inserts from the adds, delta-spark's own rule).

    Every ``checkpoint_interval``-th version (default 10, Delta's own
    cadence; 0 disables; never version 0) the sync also writes a spec
    parquet checkpoint + ``_last_checkpoint`` so external replay stays
    bounded at checkpoint + tail however long the publisher lives
    (``checkpoint_delta_export``).

    Returns {"mode": "full"|"incremental"|"noop", "added", "removed",
    "dv_updated", "version", "delta_version", "files", "rows"
    [, "checkpoint"]} — ``files``/``rows``: the published live state.
    """
    m = table.manifest()
    entries = {e["path"]: e for e in m["entries"]}
    masks = dv_masks(table, m["entries"], dv_mode, "Delta-v1",
                     "real Delta deletion vectors (requires "
                     "reader-version-3-capable consumers)")
    log_dir = os.path.join(dest, "_delta_log")
    ts = int(m.get("committed_at", 0) or 0)
    if os.path.isdir(log_dir):
        snap = DeltaLiteTable(table.spark, dest).snapshot()
    else:  # genesis: the empty snapshot, and the metaData v0 declares
        snap = {"version": -1, "files": {}, "schema": None, "meta": {
            "id": f"forklift-spark-export-{m.get('version', 0)}",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": None, "partitionColumns": [],
            "configuration": ({"delta.enableChangeDataFeed": "true"}
                              if cdf else {}),
            "createdTime": ts}}
    exported = snap["files"]
    added = sorted(set(entries) - set(exported))
    removed = sorted(set(exported) - set(entries))
    # kept files whose mask changed since export: manifest dv dirs are
    # write-once, so comparing the exported tag to the entry's dv dir
    # detects every churn (incl. restore() rewinds) with no data read
    dv_updated = sorted(
        p for p in set(entries) & set(exported)
        if (entries[p].get("dv") or "")
        != (exported[p].get("tags") or {}).get("forklift_dv_src", "")
    )
    schema = T.StructType.fromJson(m["schema"])
    schema_changed = schema != snap["schema"]
    out = {"mode": "noop", "added": len(added), "removed": len(removed),
           "dv_updated": len(dv_updated), "version": m.get("version", 0),
           "delta_version": snap["version"], "files": len(entries),
           "rows": live_rows(m["entries"])}
    if not added and not removed and not dv_updated and not schema_changed:
        return out
    need_dv = {p: masks[p] for p in (*added, *dv_updated) if p in masks}
    descs = write_dv_bin(dest, need_dv) if need_dv else {}
    v = snap["version"] + 1

    # ---- Change Data Feed (r8): when the destination declares
    # delta.enableChangeDataFeed, any commit carrying deletes or DV
    # churn writes REAL _change_data files describing ALL of the
    # commit's row-level changes (spec: when cdc actions are present
    # they are the SOLE source of that commit's changes, so the adds
    # must be included too). Insert-only commits stay cdc-less —
    # readers synthesize inserts from the adds, same as delta-spark.
    # Updates surface as delete+insert pairs (the manifest's dv diff
    # names exact rows; it does not carry update identity).
    cdf_on = (snap["meta"].get("configuration") or {}).get(
        "delta.enableChangeDataFeed") == "true"
    cdc_actions: list[dict] = []
    if cdf_on and (removed or dv_updated):
        import glob as _glob

        spark = table.spark
        absd = os.path.abspath(dest)
        pos_schema = "___path string, ___pos long"
        names = [f.name for f in schema.fields]

        def _with_pos(paths):
            return (spark.read.schema(schema).parquet(*paths)
                    .withColumn("___path", _decoded_path())
                    .withColumn("___pos", F.col("_metadata.row_index")))

        def _old_mask(p):
            dv = exported[p].get("dv")
            return dv_positions(absd, dv) if dv else []

        parts = []
        if added:
            # added files are not hard-linked into dest until the
            # commit's add actions are built — read the SOURCE copies
            # (same physical rows, positions identical)
            srcd = os.path.abspath(table.path)
            ins = _with_pos([os.path.join(srcd, p) for p in added])
            mrows = [(os.path.join(srcd, p), int(x))
                     for p in added for x in masks.get(p, ())]
            if mrows:
                ins = ins.join(
                    spark.createDataFrame(mrows, pos_schema),
                    ["___path", "___pos"], "left_anti")
            parts.append(ins.select(*names).withColumn(
                "_change_type", F.lit("insert")))
        if removed:
            rem = _with_pos([os.path.join(absd, p) for p in removed])
            mrows = [(os.path.join(absd, p), int(x))
                     for p in removed for x in _old_mask(p)]
            if mrows:
                rem = rem.join(
                    spark.createDataFrame(mrows, pos_schema),
                    ["___path", "___pos"], "left_anti")
            parts.append(rem.select(*names).withColumn(
                "_change_type", F.lit("delete")))
        del_rows: list = []
        ins_rows: list = []
        for p in dv_updated:
            old_m = set(_old_mask(p))
            new_m = set(masks.get(p, ()))
            ap = os.path.join(absd, p)
            del_rows += [(ap, int(x)) for x in new_m - old_m]
            ins_rows += [(ap, int(x)) for x in old_m - new_m]  # restore
        for rows_list, ct in ((del_rows, "delete"),
                              (ins_rows, "insert")):
            if rows_list:
                dfp = _with_pos(sorted({r[0] for r in rows_list})).join(
                    spark.createDataFrame(rows_list, pos_schema),
                    ["___path", "___pos"])
                parts.append(dfp.select(*names).withColumn(
                    "_change_type", F.lit(ct)))
        cdc_df = parts[0]
        for pdf in parts[1:]:
            cdc_df = cdc_df.unionByName(pdf)
        cdir_rel = os.path.join("_change_data", f"cdc-{v:020d}")
        cdc_df.write.mode("overwrite").parquet(
            os.path.join(absd, cdir_rel))
        for f in sorted(_glob.glob(os.path.join(
                absd, cdir_rel, "part-*.parquet"))):
            cdc_actions.append({"cdc": {
                "path": os.path.relpath(f, absd).replace(os.sep, "/"),
                "partitionValues": {},
                "size": os.path.getsize(f), "dataChange": False}})

    types = {f.name: f.dataType for f in schema.fields}
    os.makedirs(log_dir, exist_ok=True)
    with open(os.path.join(log_dir, f"{v:020d}.json"), "w") as fh:
        if descs or v == 0:  # v0 declares the protocol; first-DV
            # commits upgrade it, and re-stating it on later DV commits
            # is spec-legal (last writer wins)
            fh.write(json.dumps(_protocol_action(bool(descs), cdf_on))
                     + "\n")
        if schema_changed:
            meta = dict(snap["meta"])
            meta["schemaString"] = json.dumps(schema.jsonValue())
            fh.write(json.dumps({"metaData": meta}) + "\n")
        # Spec conformance (Action Reconciliation): logical files are
        # keyed by (path, dv uniqueId), so (a) removing a DV-carrying
        # file must restate ITS deletionVector on the remove action —
        # a bare remove{path} would fail to tombstone the logical file
        # (path, oldDV) and conformant readers would resurrect its
        # deleted rows; (b) a DV UPDATE is remove(path, oldDV) +
        # add(path, newDV) in the same commit — re-adding alone would
        # leave (path, oldDV) live alongside (path, newDV) -> duplicate
        # rows in delta-spark/kernel/delta-rs.
        def _remove_action(rel: str) -> dict:
            r = {"path": rel, "deletionTimestamp": ts,
                 "dataChange": True}
            old_dv = exported[rel].get("dv")
            if old_dv:
                r["deletionVector"] = dict(old_dv)
            return r

        for rel in (*removed, *dv_updated):
            fh.write(json.dumps({"remove": _remove_action(rel)}) + "\n")
        for rel in (*added, *dv_updated):
            fh.write(json.dumps(
                {"add": _add_action(table, dest, entries[rel], descs,
                                    types)}) + "\n")
        for act in cdc_actions:
            fh.write(json.dumps(act) + "\n")
    out.update(mode="incremental" if v else "full", delta_version=v)
    # bounded external replay (r8): real Delta writers checkpoint every
    # N commits so readers replay checkpoint + tail, not every JSON
    # commit ever published; 0/None disables
    if checkpoint_interval and v and v % checkpoint_interval == 0:
        ck = checkpoint_delta_export(table.spark, dest, version=v)
        out["checkpoint"] = ck["version"]
    return out


_DV_PA_FIELDS = [
    ("storageType", "string"), ("pathOrInlineDv", "string"),
    ("offset", "int32"), ("sizeInBytes", "int32"),
    ("cardinality", "int64"),
]


def checkpoint_delta_export(spark: SparkSession, dest: str,
                            version: int | None = None) -> dict:
    """Write a spec-shaped single-file parquet CHECKPOINT for an
    exported Delta log (r8: the long-lived-publisher companion of the
    incremental sync — without checkpoints an external reader replays
    EVERY JSON commit ever published; real Delta writers checkpoint
    every N commits so replay cost is bounded at checkpoint + tail).

    Per PROTOCOL.md 'Checkpoints': one row per action — the protocol,
    the latest metaData, every live add (including deletionVector
    descriptors), and the remove TOMBSTONES still present in the
    retained JSON commits (readers use them for vacuum coordination) —
    at ``_delta_log/{v:020d}.checkpoint.parquet``, plus the
    ``_last_checkpoint`` pointer. Written with pyarrow directly
    (driver-side, O(files) metadata — same bound as the log itself).

    Returns {"version": v, "actions": n}.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = DeltaLiteTable(spark, dest)
    v = t.latest_version() if version is None else int(version)
    snap = t.snapshot(v)

    # tombstones: removes from the retained JSON commits up to v
    tombstones = [r for cv in t.versions() if cv <= v
                  for r in _file_actions(t._read_commit(cv)[0])[1]]

    dv_type = pa.struct([(n, getattr(pa, tp)()) for n, tp in _DV_PA_FIELDS])
    str_map = pa.map_(pa.string(), pa.string())
    protocol_type = pa.struct([
        ("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32()),
        ("readerFeatures", pa.list_(pa.string())),
        ("writerFeatures", pa.list_(pa.string())),
    ])
    meta_type = pa.struct([
        ("id", pa.string()),
        ("format", pa.struct([("provider", pa.string()),
                              ("options", str_map)])),
        ("schemaString", pa.string()),
        ("partitionColumns", pa.list_(pa.string())),
        ("configuration", str_map),
        ("createdTime", pa.int64()),
    ])
    add_type = pa.struct([
        ("path", pa.string()), ("partitionValues", str_map),
        ("size", pa.int64()), ("modificationTime", pa.int64()),
        ("dataChange", pa.bool_()), ("deletionVector", dv_type),
        ("tags", str_map), ("stats", pa.string()),
    ])
    remove_type = pa.struct([
        ("path", pa.string()), ("deletionTimestamp", pa.int64()),
        ("dataChange", pa.bool_()), ("deletionVector", dv_type),
    ])

    proto = snap.get("protocol")
    if not proto:  # log never declared one (not spec-legal, but be safe)
        has_dv = any(e.get("dv") for e in snap["files"].values())
        proto = _protocol_action(has_dv)["protocol"]
    proto = dict(proto)
    proto.setdefault("readerFeatures", None)
    proto.setdefault("writerFeatures", None)

    def _dv_of(dv):
        if not dv:
            return None
        return {n: dv.get(n) for n, _tp in _DV_PA_FIELDS}

    def _m(d):
        return list((d or {}).items())

    rows_p, rows_m, rows_a, rows_r = [proto], [None], [None], [None]
    meta = dict(snap["meta"])
    fmt = meta.get("format") or {"provider": "parquet", "options": {}}
    rows_m.append({
        "id": meta.get("id"),
        "format": {"provider": fmt.get("provider", "parquet"),
                   "options": _m(fmt.get("options"))},
        "schemaString": meta.get("schemaString"),
        "partitionColumns": list(meta.get("partitionColumns") or []),
        "configuration": _m(meta.get("configuration")),
        "createdTime": meta.get("createdTime"),
    })
    rows_p.append(None)
    rows_a.append(None)
    rows_r.append(None)
    for rel, e in sorted(snap["files"].items()):
        ap = os.path.join(t.path, rel)
        rows_a.append({
            "path": rel, "partitionValues": _m(e.get("pv")),
            "size": os.path.getsize(ap) if os.path.exists(ap) else 0,
            "modificationTime": int(os.path.getmtime(ap) * 1000)
            if os.path.exists(ap) else 0,
            "dataChange": False, "deletionVector": _dv_of(e.get("dv")),
            "tags": _m(e.get("tags")),
            "stats": e.get("stats"),
        })
        rows_p.append(None)
        rows_m.append(None)
        rows_r.append(None)
    for r in tombstones:
        rows_r.append({
            "path": unquote(r["path"]),
            "deletionTimestamp": r.get("deletionTimestamp"),
            "dataChange": bool(r.get("dataChange", True)),
            "deletionVector": _dv_of(r.get("deletionVector")),
        })
        rows_p.append(None)
        rows_m.append(None)
        rows_a.append(None)

    table = pa.table({
        "protocol": pa.array(rows_p, protocol_type),
        "metaData": pa.array(rows_m, meta_type),
        "add": pa.array(rows_a, add_type),
        "remove": pa.array(rows_r, remove_type),
    })
    out = os.path.join(t.log_dir, f"{v:020d}.checkpoint.parquet")
    pq.write_table(table, out)
    with open(os.path.join(t.log_dir, "_last_checkpoint"), "w") as fh:
        json.dump({"version": v, "size": table.num_rows}, fh)
    return {"version": v, "actions": table.num_rows}


def vacuum_delta_export(spark: SparkSession, dest: str,
                        grace_ms: int = 7 * 24 * 3600 * 1000,
                        now_ms: int | None = None) -> dict:
    """Dest-side VACUUM for a (sync-)exported Delta table (VERDICT r7
    item 2): each ``dv_mode='native'`` sync writes a NEW deletion-vector
    bin and each rewrite tombstones data files, so a long-lived
    publisher accumulates files no live add references. This walks the
    CURRENT snapshot's live set (data files + DV bins), then deletes
    any other file under ``dest`` whose mtime is older than
    ``grace_ms`` — the same semantics as Delta's own VACUUM (reference
    analog: the recurring-publish hygiene the reference's repeated
    pipe implies, patterns/mysql_patterns.rb:28-43; spec analog:
    delta.io VACUUM docs).

    Like Delta's VACUUM: time travel to versions whose files were
    reclaimed stops working; the ``_delta_log`` directory itself is
    NEVER touched (history stays replayable as metadata); the grace
    window protects in-flight readers of the previous snapshot.

    Returns {"removed": n, "kept_live": n, "kept_grace": n}.
    """
    t = DeltaLiteTable(spark, dest)
    live: set[str] = set()
    for rel, e in t.snapshot()["files"].items():
        live.add(os.path.join(t.path, rel))
        dv = e.get("dv")
        if dv and dv.get("storageType") in ("u", "p"):
            live.add(dv_file_path(t.path, dv))
    return vacuum_dest(t.path, live, "_delta_log", grace_ms, now_ms)
