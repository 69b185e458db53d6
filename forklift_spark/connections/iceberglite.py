"""Read-only Apache Iceberg table reader over the PUBLIC table spec —
no iceberg-spark runtime jar.

Interop sibling of ``deltalite.py``: a user pointing this engine at an
Iceberg warehouse (Hadoop-catalog directory layout) reads its tables —
current snapshot or ``snapshot_id=`` time travel — through the standard
Connection API. Everything here is implemented from the apache/iceberg
spec document: ``metadata/*.metadata.json`` (format-version 1 and 2),
Avro manifest lists and manifest files (decoded by the pure-Python
``functions/avrocodec.py`` — Iceberg metadata is Avro, which is why the
codec exists), parquet data files, and the v2 row-level delete types:

- **position deletes** (``content=1``): parquet files of
  ``(file_path, pos)`` — applied with an anti-join against the scan's
  ``_metadata.file_path`` / ``_metadata.row_index`` columns, honoring
  the spec rule that a position delete applies to data files with data
  sequence number <= the delete's.
- **equality deletes** (``content=2``): parquet files of key columns
  (named by ``equality_ids`` field ids) — applied with a null-safe
  anti-join, honoring the STRICT rule (data seq < delete seq): a row
  re-inserted after the delete survives.

Loud refusals, never silent wrongness: format-version > 2, non-parquet
data/delete files, equality ids naming nested fields, and unreadable
metadata all raise ``IcebergUnsupported``/``FileNotFoundError`` rather
than returning partial rows.

Scope notes (documented, not hidden): column resolution is BY NAME
against the current schema by default — ``resolve="id"`` opts into
Iceberg's field-id resolution for renamed columns (parquet footers'
``PARQUET:field_id`` metadata groups files by rename generation; costs
one footer read per data file at plan time, nested renames excluded).
Identity-partition source columns are stored inside Iceberg data files
(spec: partition data is redundant with file columns), so no
partition-value reconstruction is needed — transform partitions
(bucket/truncate/days) are metadata-only and don't affect row values.

Driver bound: manifest lists and manifests are decoded on the driver —
O(files) metadata, the same bound as deltalite and the manifest format's
entry list. The data scan is one distributed parquet read; delete files
are assumed small relative to data (the spec's own design point) and are
broadcast into the anti-joins.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from forklift_spark.changelog import position_changelog
from forklift_spark.connections.base import Connection
from forklift_spark.connections.publish import (
    dv_masks,
    link_or_copy,
    live_rows,
    vacuum_dest,
)
from forklift_spark.functions import avrocodec as av

_DECIMAL_RE = re.compile(r"^decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)$")
_FIXED_RE = re.compile(r"^fixed\[(\d+)\]$")
_META_NUM_RE = re.compile(r"^v?(\d+)")


class IcebergUnsupported(NotImplementedError):
    """The table requires a feature outside this reader's spec scope."""


# Avro record shapes of the spec's manifest-entry and manifest-list
# rows (the fields this reader consumes; real Iceberg writers add
# stats/bounds fields, which the decoder simply carries through).
# Exported so tests and fixtures can build spec-conformant metadata
# without an Iceberg writer.
# Avro schemas for EXPORTED manifests / manifest lists. Field ids are
# attached as ``field-id`` props (spec: "Avro schemas for manifests must
# carry the Iceberg field ids") so external readers resolve columns by
# id, not name — ADVICE r6 item 1. Ids per the spec's manifest tables.
MANIFEST_ENTRY_SCHEMA: dict = {
    "type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "default": None,
         "field-id": 1},
        {"name": "sequence_number", "type": ["null", "long"],
         "default": None, "field-id": 3},
        {"name": "file_sequence_number", "type": ["null", "long"],
         "default": None, "field-id": 4},
        {"name": "data_file", "field-id": 2, "type": {
            "type": "record", "name": "r2", "fields": [
                {"name": "content", "type": "int", "field-id": 134},
                {"name": "file_path", "type": "string", "field-id": 100},
                {"name": "file_format", "type": "string", "field-id": 101},
                {"name": "partition", "field-id": 102, "type": {
                    "type": "record", "name": "r102", "fields": []}},
                {"name": "record_count", "type": "long", "field-id": 103},
                {"name": "file_size_in_bytes", "type": "long",
                 "field-id": 104},
                # per-column value bounds (spec field-ids 125/128; the
                # k/v-array-with-logicalType-map shape java Iceberg
                # writes, keyed by field id, single-value-serialized
                # binary) — the read planner's file-skipping input
                {"name": "lower_bounds", "field-id": 125,
                 "default": None,
                 "type": ["null", {
                     "type": "array", "logicalType": "map",
                     "items": {
                         "type": "record", "name": "k126_v127",
                         "fields": [
                             {"name": "key", "type": "int",
                              "field-id": 126},
                             {"name": "value", "type": "bytes",
                              "field-id": 127},
                         ]}}]},
                {"name": "upper_bounds", "field-id": 128,
                 "default": None,
                 "type": ["null", {
                     "type": "array", "logicalType": "map",
                     "items": {
                         "type": "record", "name": "k129_v130",
                         "fields": [
                             {"name": "key", "type": "int",
                              "field-id": 129},
                             {"name": "value", "type": "bytes",
                              "field-id": 130},
                         ]}}]},
                {"name": "equality_ids",
                 "type": ["null", {"type": "array", "items": "int",
                                   "element-id": 136}],
                 "default": None, "field-id": 135},
            ]}},
    ]}


# -- Iceberg single-value serialization (spec Appendix D) -------------------
# bounds in manifest entries are binary: little-endian for fixed-width
# numerics, UTF-8 for strings, big-endian two's-complement unscaled for
# decimals. Types a range can't prune (uuid/fixed/binary/nested) decode
# to None and are skipped.

def decode_bound(ice_type, b):
    import struct as _s

    if b is None or not isinstance(b, (bytes, bytearray)):
        return None
    if not isinstance(ice_type, str):
        return None  # struct/list/map: no single-value form
    t = ice_type
    try:
        if t == "boolean":
            return bool(b[0])
        if t == "int":
            return _s.unpack("<i", bytes(b[:4]))[0]
        if t == "long":
            return _s.unpack("<q", bytes(b[:8]))[0]
        if t == "float":
            return _s.unpack("<f", bytes(b[:4]))[0]
        if t == "double":
            return _s.unpack("<d", bytes(b[:8]))[0]
        if t == "date":  # days from epoch
            return _s.unpack("<i", bytes(b[:4]))[0]
        if t in ("timestamp", "timestamptz", "time"):  # micros
            return _s.unpack("<q", bytes(b[:8]))[0]
        if t == "string":
            return bytes(b).decode("utf-8", "replace")
        if t.startswith("decimal("):
            from decimal import Decimal

            scale = int(t[8:-1].split(",")[1])
            unscaled = int.from_bytes(bytes(b), "big", signed=True)
            return Decimal(unscaled).scaleb(-scale)
    except (ValueError, _s.error):
        return None
    return None


def encode_bound(ice_type, v) -> bytes | None:
    """Inverse of :func:`decode_bound` for the EXPORT path: the value
    arrives as the manifest zone map's cast-to-string form."""
    import struct as _s

    if v is None or not isinstance(ice_type, str):
        return None
    t = ice_type
    if t == "boolean":
        return b"\x01" if str(v).lower() == "true" else b"\x00"
    if t == "int":
        return _s.pack("<i", int(v))
    if t == "long":
        return _s.pack("<q", int(v))
    if t == "float":
        return _s.pack("<f", float(v))
    if t == "double":
        return _s.pack("<d", float(v))
    if t == "date":
        import datetime as _dt

        d = _dt.date.fromisoformat(str(v))
        return _s.pack("<i", (d - _dt.date(1970, 1, 1)).days)
    if t in ("timestamp", "timestamptz"):
        import datetime as _dt

        s = str(v).replace("T", " ", 1)
        dt = _dt.datetime.fromisoformat(s)
        if dt.tzinfo is not None:
            dt = dt.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        epoch = _dt.datetime(1970, 1, 1)
        return _s.pack("<q", int((dt - epoch).total_seconds() * 1_000_000
                                 + 0.5) if dt >= epoch
                       else -int((epoch - dt).total_seconds() * 1_000_000
                                 + 0.5))
    if t == "string":
        return str(v).encode("utf-8")
    if t.startswith("decimal("):
        from decimal import Decimal

        scale = int(t[8:-1].split(",")[1])
        unscaled = int(Decimal(str(v)).scaleb(scale).to_integral_value())
        n = max(1, (unscaled.bit_length() + 8) // 8)
        return unscaled.to_bytes(n, "big", signed=True)
    return None


def _bound_probe(ice_type, v):
    """Normalize a user-level ``where`` bound into the decoded-bound
    domain (days for dates, micros for timestamps, Decimal for
    decimals, float for other numerics, str for strings)."""
    import datetime as _dt

    if v is None or not isinstance(ice_type, str):
        return None
    t = ice_type
    if t in ("int", "long", "float", "double"):
        return float(v)
    if t == "date":
        d = v if isinstance(v, _dt.date) else \
            _dt.date.fromisoformat(str(v))
        return (d - _dt.date(1970, 1, 1)).days
    if t in ("timestamp", "timestamptz"):
        if isinstance(v, _dt.datetime):
            dt = v
        else:
            dt = _dt.datetime.fromisoformat(str(v).replace("T", " ", 1))
        if dt.tzinfo is not None:
            dt = dt.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return int((dt - _dt.datetime(1970, 1, 1)).total_seconds()
                   * 1_000_000)
    if t == "string":
        return str(v)
    if t.startswith("decimal("):
        from decimal import Decimal

        return Decimal(str(v))
    return None


_TRANSFORM_RE = re.compile(r"^(bucket|truncate)\[(\d+)\]$")

# plural aliases appear in older metadata JSON; the spec names are
# singular
_TEMPORAL_UNITS = {"year": "year", "years": "year",
                   "month": "month", "months": "month",
                   "day": "day", "days": "day",
                   "hour": "hour", "hours": "hour"}


def _bucket_hash_bytes(ice_type: str, raw, probe):
    """Iceberg spec Appendix B single-value hash layout for the bucket
    transform; ``None`` = type unsupported for bucket pruning. ``raw``
    is the user's bound, ``probe`` the normalized one (days/micros for
    temporal, Decimal for decimals)."""
    import struct as _s
    from decimal import Decimal

    t = ice_type
    if t in ("int", "long"):
        try:
            v = int(raw)
        except (TypeError, ValueError):
            return None
        if isinstance(raw, float) and raw != v:
            return None
        return _s.pack("<q", v)
    if t in ("date", "timestamp", "timestamptz"):
        return _s.pack("<q", int(probe))
    if t == "string":
        return str(raw).encode("utf-8")
    if t.startswith("decimal("):
        scale = int(t[:-1].split(",")[1])
        unscaled = int(Decimal(str(probe)).scaleb(scale))
        nbytes = max(1, (unscaled.bit_length() + 8) // 8)
        return unscaled.to_bytes(nbytes, "big", signed=True)
    return None


def _temporal_index(unit: str, ice_type: str, probe: int) -> int | None:
    """Transform a normalized temporal probe (days for dates, micros
    for timestamps) into the partition-value domain: hours/days/months/
    years SINCE EPOCH (spec: hour/day/month/year transform results)."""
    import datetime as _dt

    if ice_type == "date":
        days = int(probe)
        if unit == "day":
            return days
        d = _dt.date(1970, 1, 1) + _dt.timedelta(days=days)
    elif ice_type in ("timestamp", "timestamptz"):
        micros = int(probe)
        if unit == "hour":
            return micros // 3_600_000_000
        if unit == "day":
            return micros // 86_400_000_000
        d = (_dt.datetime(1970, 1, 1)
             + _dt.timedelta(microseconds=micros)).date()
    else:
        return None
    if unit == "hour":
        return None  # hour of a date is undefined
    if unit == "month":
        return (d.year - 1970) * 12 + (d.month - 1)
    if unit == "year":
        return d.year - 1970
    return None


def _transform_interval(transform: str, ice_type: str, lo_raw, hi_raw,
                        lo_p, hi_p):
    """[lo, hi] mapped through an ORDER-PRESERVING partition transform
    (identity / truncate / hour / day / month / year): returns the
    transformed interval ``(tlo, thi)`` (either end None = unbounded),
    or ``None`` when this transform cannot bound a range. Soundness
    rests on monotonicity: v >= lo implies f(v) >= f(lo) for these
    transforms (spec: 'preserve order')."""
    import math

    if transform == "identity":
        return lo_p, hi_p
    m = _TRANSFORM_RE.match(transform)
    if m and m.group(1) == "truncate":
        w = int(m.group(2))
        if w <= 0:
            return None
        if ice_type in ("int", "long"):
            def tnc(v, up):
                if v is None:
                    return None
                i = math.ceil(v) if up else math.floor(v)
                return i - (i % w)  # Python %: floored, spec-exact
            return tnc(lo_p, True), tnc(hi_p, False)
        if ice_type == "string":
            return (None if lo_p is None else str(lo_p)[:w],
                    None if hi_p is None else str(hi_p)[:w])
        if ice_type.startswith("decimal("):
            # spec: unscaled - (unscaled % W), result scaled back so it
            # compares against the file's decimal partition value
            from decimal import Decimal
            scale = int(ice_type[:-1].split(",")[1])

            def tnc(v):
                if v is None:
                    return None
                u = int(Decimal(str(v)).scaleb(scale))
                return Decimal(u - (u % w)).scaleb(-scale)
            return tnc(lo_p), tnc(hi_p)
        return None
    unit = _TEMPORAL_UNITS.get(transform)
    if unit:
        tlo = None if lo_p is None else _temporal_index(
            unit, ice_type, lo_p)
        thi = None if hi_p is None else _temporal_index(
            unit, ice_type, hi_p)
        if (lo_p is not None and tlo is None) or \
                (hi_p is not None and thi is None):
            return None
        return tlo, thi
    return None


def _entry_bounds(fields_map: dict, e: dict) -> tuple:
    """A manifest entry's zone maps re-encoded as the spec's 125/128
    bounds arrays (k/v records keyed by field id, single-value
    serialization), so external Iceberg readers — and this reader's own
    ``read(where=...)`` — file-skip on the exported table.
    ``fields_map``: {col: (field_id, iceberg_type)} from the schema
    actually written to metadata.json."""
    lo_arr: list = []
    hi_arr: list = []
    for col, bound in (e.get("stats") or {}).items():
        lo, hi = bound
        if lo is None or hi is None:
            continue  # all-NULL column: no bounds
        fid_t = fields_map.get(col)
        if not fid_t:
            continue
        fid, t = fid_t
        lb = encode_bound(t, lo)
        ub = encode_bound(t, hi)
        if lb is None or ub is None:
            continue
        lo_arr.append({"key": fid, "value": lb})
        hi_arr.append({"key": fid, "value": ub})
    return (lo_arr or None, hi_arr or None)


def _fields_map(schema_json: dict) -> dict:
    return {f["name"]: (int(f["id"]), f["type"])
            for f in schema_json.get("fields", [])
            if isinstance(f.get("type"), str)}


def _bounds_map(raw) -> dict:
    """Normalize an avro-decoded bounds field to {field_id: bytes} —
    java Iceberg writes the k/v-array form, a permissive decoder may
    yield a plain dict."""
    if not raw:
        return {}
    if isinstance(raw, dict):
        return {int(k): v for k, v in raw.items()}
    out = {}
    for kv in raw:
        if isinstance(kv, dict) and "key" in kv:
            out[int(kv["key"])] = kv.get("value")
    return out

MANIFEST_FILE_SCHEMA: dict = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        # v2-required file/row counts (ADVICE r6 item 1: real readers
        # reject manifest lists without them). Write-time defaults let
        # hand-built reader fixtures omit them; the EXPORT path always
        # fills real values.
        {"name": "added_files_count", "type": "int", "field-id": 504,
         "default": 0},
        {"name": "existing_files_count", "type": "int", "field-id": 505,
         "default": 0},
        {"name": "deleted_files_count", "type": "int", "field-id": 506,
         "default": 0},
        {"name": "added_rows_count", "type": "long", "field-id": 512,
         "default": 0},
        {"name": "existing_rows_count", "type": "long", "field-id": 513,
         "default": 0},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514,
         "default": 0},
    ]}


def _norm_path(p: str) -> str:
    """file:///a/b and file:/a/b -> /a/b (URI scheme off, path kept)."""
    return re.sub(r"^file:(//)?", "", p)


def _decoded_meta_path() -> F.Column:
    """``_metadata.file_path`` is a URI: strip the scheme and
    PERCENT-DECODE it (Spark encodes spaces etc.), so it matches the
    literal filesystem paths the manifests carry. Literal ``+`` is
    protected first because ``url_decode`` is form-decoding
    (``+`` -> space). Same discipline as the Delta reader — a raw
    compare silently KEEPS deleted rows whenever the table path
    contains any URI-encodable character."""
    return F.url_decode(F.regexp_replace(
        F.regexp_replace(F.col("_metadata.file_path"), "^file:(//)?", ""),
        r"\+", "%2B"))


# ---------------------------------------------------------------------------
# Iceberg JSON schema -> Spark
# ---------------------------------------------------------------------------

def iceberg_type_to_spark(t) -> T.DataType:
    if isinstance(t, str):
        m = _DECIMAL_RE.match(t)
        if m:
            return T.DecimalType(int(m.group(1)), int(m.group(2)))
        if _FIXED_RE.match(t):
            return T.BinaryType()
        simple = {
            "boolean": T.BooleanType(), "int": T.IntegerType(),
            "long": T.LongType(), "float": T.FloatType(),
            "double": T.DoubleType(), "date": T.DateType(),
            "timestamp": T.TimestampType(),
            "timestamptz": T.TimestampType(),
            "string": T.StringType(), "uuid": T.StringType(),
            "binary": T.BinaryType(),
        }
        if t in simple:
            return simple[t]
        raise IcebergUnsupported(f"iceberg type {t!r} has no Spark mapping")
    kind = t.get("type")
    if kind == "struct":
        return T.StructType([
            T.StructField(f["name"], iceberg_type_to_spark(f["type"]),
                          nullable=not f.get("required", False))
            for f in t["fields"]
        ])
    if kind == "list":
        return T.ArrayType(iceberg_type_to_spark(t["element"]),
                           containsNull=not t.get("element-required", False))
    if kind == "map":
        return T.MapType(iceberg_type_to_spark(t["key"]),
                         iceberg_type_to_spark(t["value"]),
                         valueContainsNull=not t.get("value-required", False))
    raise IcebergUnsupported(f"iceberg type {t!r} has no Spark mapping")


def _schema_struct(schema_json: dict) -> T.StructType:
    return iceberg_type_to_spark({"type": "struct",
                                  "fields": schema_json["fields"]})


# ---------------------------------------------------------------------------
# Table
# ---------------------------------------------------------------------------

class IcebergLiteTable:
    def __init__(self, spark: SparkSession, path: str,
                 metadata_file: str | None = None):
        self.spark = spark
        # absolute from the start: _metadata.file_path is always an
        # absolute URI, so a relative table path would silently break
        # every path-keyed join (delete application, seq attach)
        self.path = os.path.abspath(path)
        self.meta_dir = os.path.join(self.path, "metadata")
        self.metadata_file = metadata_file
        # planning counters of the most recent read(where=...) — the
        # manifest reader's observability contract, mirrored
        self.last_read_stats: dict | None = None

    def exists(self) -> bool:
        return os.path.isdir(self.meta_dir)

    # -- metadata resolution -------------------------------------------------

    def _resolve_metadata_file(self) -> str:
        if self.metadata_file:
            return self.metadata_file
        hint = os.path.join(self.meta_dir, "version-hint.text")
        if os.path.exists(hint):
            with open(hint) as fh:
                v = fh.read().strip()
            cand = os.path.join(self.meta_dir, f"v{v}.metadata.json")
            if os.path.exists(cand):
                return cand
        metas = [f for f in os.listdir(self.meta_dir)
                 if f.endswith(".metadata.json")]
        if not metas:
            raise FileNotFoundError(
                f"no *.metadata.json under {self.meta_dir}")

        def key(f: str):
            m = _META_NUM_RE.match(f)
            return (int(m.group(1)) if m else -1, f)
        return os.path.join(self.meta_dir, max(metas, key=key))

    def metadata(self) -> dict:
        with open(self._resolve_metadata_file()) as fh:
            meta = json.load(fh)
        fv = int(meta.get("format-version", 1))
        if fv > 2:
            raise IcebergUnsupported(
                f"format-version={fv}: this reader implements spec v1/v2 "
                "only — refusing rather than ignoring v3 row lineage / "
                "deletion vectors")
        return meta

    def schema_struct(self, meta: dict) -> tuple[T.StructType, dict]:
        if "schemas" in meta:
            sid = meta.get("current-schema-id", 0)
            for s in meta["schemas"]:
                if s.get("schema-id") == sid:
                    return _schema_struct(s), s
            raise IcebergUnsupported(f"current-schema-id {sid} not found")
        return _schema_struct(meta["schema"]), meta["schema"]  # v1

    # -- snapshot -> file inventory -------------------------------------------

    def snapshots(self) -> list[dict]:
        return list(self.metadata().get("snapshots") or [])

    def _snapshot_entry(self, meta: dict, snapshot_id=None) -> dict:
        snaps = meta.get("snapshots") or []
        target = snapshot_id if snapshot_id is not None else \
            meta.get("current-snapshot-id")
        if target in (None, -1):
            return {}
        for s in snaps:
            if s["snapshot-id"] == target:
                return s
        raise ValueError(f"snapshot {target} not in {self.path}")

    def resolve_ref(self, name: str) -> int:
        """Branch/tag resolution (spec: ``refs`` in table metadata —
        named snapshot references, ``type`` branch|tag). Returns the
        ref's snapshot id; unknown names raise LISTING the refs that
        exist, so a typo can't silently read the main branch."""
        refs = self.metadata().get("refs") or {}
        r = refs.get(name)
        if r is None:
            raise ValueError(
                f"ref {name!r} not in {self.path} "
                f"(refs: {sorted(refs)})")
        return int(r["snapshot-id"])

    def snapshot_as_of(self, as_of_ms: int) -> int:
        """TIMESTAMP AS OF resolution: the latest snapshot whose
        ``timestamp-ms`` <= the given epoch millis (the Iceberg
        time-travel rule). Raises when the table has no snapshot that
        old — time travel must not silently return the wrong state."""
        snaps = self.metadata().get("snapshots") or []
        older = [s for s in snaps if s.get("timestamp-ms", 0) <= as_of_ms]
        if not older:
            raise ValueError(
                f"no snapshot at or before {as_of_ms} in {self.path} "
                f"(earliest: "
                f"{min((s.get('timestamp-ms', 0) for s in snaps), default=None)})"
            )
        return max(older, key=lambda s: s["timestamp-ms"])["snapshot-id"]

    def _abs(self, p: str) -> str:
        p = _norm_path(p)
        return p if os.path.isabs(p) else os.path.join(self.path, p)

    def file_inventory(self, snapshot_id=None) -> dict:
        """Replay metadata -> {"schema": StructType, "data": [...],
        "pos_deletes": [...], "eq_deletes": [...]}, each file a dict
        with path (absolute, normalized) and sequence number."""
        meta = self.metadata()
        schema, schema_json = self.schema_struct(meta)
        snap = self._snapshot_entry(meta, snapshot_id)
        out = {"schema": schema, "schema_json": schema_json,
               "data": [], "pos_deletes": [], "eq_deletes": [],
               # spec-id -> partition field defs (name/transform/
               # source-id), for hidden-partition pruning
               "specs": {s["spec-id"]: list(s.get("fields") or [])
                         for s in meta.get("partition-specs") or []}}
        if not snap:
            return out

        if "manifest-list" in snap:
            _, mf_entries = av.read_container_file(
                self._abs(snap["manifest-list"]))
        else:  # v1 inline manifest paths
            mf_entries = [{"manifest_path": p, "sequence_number": 0}
                          for p in snap.get("manifests", [])]

        for mf in mf_entries:
            _, entries = av.read_container_file(
                self._abs(mf["manifest_path"]))
            for e in entries:
                if e.get("status") == 2:  # DELETED — not live in this snap
                    continue
                df_rec = e.get("data_file") or {}
                seq = _entry_seq(e, mf)
                fmt = str(df_rec.get("file_format", "PARQUET")).upper()
                if fmt != "PARQUET":
                    raise IcebergUnsupported(
                        f"{fmt} data files unsupported (parquet only): "
                        f"{df_rec.get('file_path')}")
                rec = {"path": self._abs(df_rec["file_path"]), "seq": seq,
                       "record_count": df_rec.get("record_count"),
                       "bytes": df_rec.get("file_size_in_bytes"),
                       "partition": df_rec.get("partition") or {},
                       "spec_id": mf.get("partition_spec_id", 0),
                       "lower_bounds": _bounds_map(
                           df_rec.get("lower_bounds")),
                       "upper_bounds": _bounds_map(
                           df_rec.get("upper_bounds")),
                       "null_value_counts": _bounds_map(
                           df_rec.get("null_value_counts"))}
                content = df_rec.get("content") or 0
                if content == 0:
                    out["data"].append(rec)
                elif content == 1:
                    out["pos_deletes"].append(rec)
                elif content == 2:
                    ids = list(df_rec.get("equality_ids") or [])
                    if not ids:
                        raise IcebergUnsupported(
                            "equality delete file without equality_ids")
                    rec["equality_ids"] = ids
                    out["eq_deletes"].append(rec)
                else:
                    raise IcebergUnsupported(
                        f"data_file content={content} (spec defines 0/1/2)")
        return out

    # -- read ------------------------------------------------------------------

    def _data_scan(self, inv: dict, resolve: str = "name",
                   with_meta: bool = False) -> DataFrame:
        """Scan the snapshot's data files. ``resolve="name"`` (default)
        is one parquet scan matching columns by name. ``resolve="id"``
        implements Iceberg's field-id resolution for RENAMED columns:
        each file's parquet footer carries ``PARQUET:field_id`` metadata
        per column; files whose id->name mapping differs from the
        current schema are read under their OWN column names and
        aliased back — one scan per distinct rename generation (usually
        1-2), unioned lazily. Costs one footer read per data file at
        plan time (driver-side pyarrow), which is why it is opt-in.
        ``with_meta`` attaches normalized ``___path``/``___pos``
        provenance columns (per group, so they survive the union)."""
        schema: T.StructType = inv["schema"]
        paths = [f["path"] for f in inv["data"]]
        groups: dict[tuple, list[str]] = {}
        if resolve == "id":
            import pyarrow.parquet as pq

            id_to_cur = {f["id"]: f["name"]
                         for f in inv["schema_json"]["fields"]}
            for p in paths:
                fs = pq.read_schema(p)
                renames = []
                for fld in fs:
                    fid = (fld.metadata or {}).get(b"PARQUET:field_id")
                    if fid is None:
                        continue
                    cur = id_to_cur.get(int(fid))
                    if cur is not None and cur != fld.name:
                        renames.append((fld.name, cur))
                groups.setdefault(tuple(sorted(renames)), []).append(p)
        else:
            groups[()] = paths

        parts = []
        for renames, ps in sorted(groups.items()):
            if renames:
                back = {cur: old for old, cur in renames}
                file_schema = T.StructType([
                    T.StructField(back.get(f.name, f.name), f.dataType,
                                  f.nullable)
                    for f in schema.fields
                ])
                df = self.spark.read.schema(file_schema).parquet(*ps)
                for old, cur in renames:
                    df = df.withColumnRenamed(old, cur)
            else:
                df = self.spark.read.schema(schema).parquet(*ps)
            cols = [f.name for f in schema.fields]
            if with_meta:
                df = df.select(
                    *cols,
                    _decoded_meta_path().alias("___path"),
                    F.col("_metadata.row_index").alias("___pos"),
                )
            else:
                df = df.select(*cols)
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _prune_data_files(self, inv: dict, where: dict) -> None:
        """File skipping from the manifests' per-column value bounds
        (spec fields 125/128, single-value-serialized by field id) and
        the all-NULL ``null_value_counts == record_count`` case — the
        same plan-time discipline as the manifest reader's zone maps
        and the Delta reader's ``add.stats`` pruning. Files without
        usable bounds always survive (bounds are an optimization, never
        a correctness dependency); planning counters land on
        ``self.last_read_stats``. Prunes ``inv["data"]`` in place
        (delete files are untouched: a pruned data file's position
        deletes simply never match)."""
        fields = {f["name"]: f for f in inv["schema_json"]["fields"]}
        unknown = [c for c in where if c not in fields]
        if unknown:
            raise ValueError(
                f"where columns {unknown} not in the table schema "
                f"({sorted(fields)})")
        checks = []  # (col, field_id, ice_type, lo/hi raw, lo/hi probe)
        for col, (lo, hi) in where.items():
            if lo is None and hi is None:
                continue
            f = fields[col]
            t = f["type"]
            lo_p = _bound_probe(t, lo)
            hi_p = _bound_probe(t, hi)
            if (lo is not None and lo_p is None) or \
                    (hi is not None and hi_p is None):
                continue  # unprunable type: residual filter only
            checks.append((col, int(f["id"]), t, lo, hi, lo_p, hi_p))

        total = len(inv["data"])
        part_pruned = 0
        kept = []
        for rec in inv["data"]:
            keep = True
            for _col, fid, t, lo, hi, lo_p, hi_p in checks:
                if not self._part_keeps(inv, rec, fid, t, lo, hi,
                                        lo_p, hi_p):
                    keep = False
                    part_pruned += 1
                    break
                fmin = decode_bound(t, rec["lower_bounds"].get(fid))
                fmax = decode_bound(t, rec["upper_bounds"].get(fid))
                if fmin is None or fmax is None:
                    nulls = rec["null_value_counts"].get(fid)
                    nrec = rec.get("record_count")
                    if nulls is not None and nrec is not None \
                            and nulls == nrec:
                        keep = False  # all-NULL column
                        break
                    continue  # no usable bound: keep
                if isinstance(fmin, (int, float)) and not isinstance(
                        fmin, bool) and isinstance(lo_p, float):
                    fmin, fmax = float(fmin), float(fmax)
                if lo_p is not None and fmax < lo_p:
                    keep = False
                    break
                if hi_p is not None and fmin > hi_p:
                    keep = False
                    break
            if keep:
                kept.append(rec)
        inv["data"] = kept

        stat_less = {}
        for col, fid, _t, _lor, _hir, _lo, _hi in checks:
            miss = sum(1 for r in kept if fid not in r["lower_bounds"])
            stat_less[col] = miss
            if miss == len(kept) and miss > 1:
                import logging

                logging.getLogger(__name__).warning(
                    "%s: bounds pruning on %r degraded to full scan — "
                    "none of the %d planned files carry lower_bounds "
                    "for it (writer collected no column stats?)",
                    self.path, col, miss,
                )
        self.last_read_stats = {
            "files_total": total,
            "files_planned": len(kept),
            "bytes_planned": sum(r.get("bytes") or 0 for r in kept),
            "partition_pruned": part_pruned,
            "stat_less": stat_less,
        }

    def _part_keeps(self, inv: dict, rec: dict, fid: int, ice_type: str,
                    lo, hi, lo_p, hi_p) -> bool:
        """HIDDEN-PARTITION pruning (spec: partition transforms): can
        this data file's partition tuple possibly hold a row of the
        source column inside [lo, hi]? Order-preserving transforms
        (identity / truncate / hour / day / month / year) map the
        interval through the transform; bucket[N] prunes POINT
        predicates via the spec's murmur3(seed 0) hash. Unknown
        transforms, absent partition keys, and incomparable values all
        KEEP the file — partition pruning is an optimization, never a
        correctness dependency. A null partition value under a non-void
        transform means every source value in the file is null, which a
        bounded interval excludes."""
        from forklift_spark.functions.hashing import murmur3_x86_32

        for pf in inv.get("specs", {}).get(rec.get("spec_id"), []):
            if pf.get("source-id") != fid:
                continue
            tr = pf.get("transform") or ""
            if tr == "void":
                continue
            pname = pf.get("name")
            part = rec.get("partition") or {}
            if pname not in part:
                continue  # spec evolution: no value recorded
            pval = part[pname]
            if pval is None:
                return False
            m = _TRANSFORM_RE.match(tr)
            if m and m.group(1) == "bucket":
                n = int(m.group(2))
                if n > 0 and lo is not None and hi is not None \
                        and lo == hi:
                    b = _bucket_hash_bytes(ice_type, lo, lo_p)
                    if b is not None:
                        want = (murmur3_x86_32(b) & 0x7FFFFFFF) % n
                        try:
                            if int(pval) != want:
                                return False
                        except (TypeError, ValueError):
                            pass
                continue
            iv = _transform_interval(tr, ice_type, lo, hi, lo_p, hi_p)
            if iv is None:
                continue
            tlo, thi = iv
            try:
                pv = pval
                if isinstance(pv, int) and not isinstance(pv, bool) \
                        and isinstance(tlo if tlo is not None else thi,
                                       float):
                    pv = float(pv)
                if tlo is not None and pv < tlo:
                    return False
                if thi is not None and pv > thi:
                    return False
            except TypeError:
                continue
        return True

    def read(self, snapshot_id=None, as_of_ms: int | None = None,
             resolve: str = "name", where: dict | None = None,
             ref: str | None = None) -> DataFrame:
        """Snapshot read. With ``where = {col: (lo, hi)}`` (None =
        unbounded), data files are SKIPPED at plan time from the
        manifests' value bounds and the row-level interval filter is
        applied on top, so results are exact whether or not a file
        carries bounds (counters on ``self.last_read_stats``).
        ``ref`` reads a named branch/tag (spec ``refs``)."""
        if sum(x is not None for x in (snapshot_id, as_of_ms, ref)) > 1:
            raise ValueError(
                "pass AT MOST ONE of snapshot_id / as_of_ms / ref "
                "(not both)")
        if ref is not None:
            snapshot_id = self.resolve_ref(ref)
        if as_of_ms is not None:
            snapshot_id = self.snapshot_as_of(int(as_of_ms))
        inv = self.file_inventory(snapshot_id)
        schema: T.StructType = inv["schema"]
        cols = [f.name for f in schema.fields]
        if where:
            self._prune_data_files(inv, where)
            df = self._read_inventory(inv, resolve)
            for col, (lo, hi) in where.items():
                if lo is not None:
                    df = df.filter(F.col(col) >= F.lit(lo))
                if hi is not None:
                    df = df.filter(F.col(col) <= F.lit(hi))
            return df
        return self._read_inventory(inv, resolve)

    def _read_inventory(self, inv: dict, resolve: str = "name",
                        keep_meta: bool = False) -> DataFrame:
        schema: T.StructType = inv["schema"]
        cols = [f.name for f in schema.fields]
        if keep_meta:
            cols = cols + ["___path", "___pos"]
        if not inv["data"]:
            meta_fields = [
                T.StructField("___path", T.StringType()),
                T.StructField("___pos", T.LongType()),
            ] if keep_meta else []
            return self.spark.createDataFrame(
                [], T.StructType(list(schema.fields) + meta_fields))
        has_deletes = bool(inv["pos_deletes"] or inv["eq_deletes"])
        scan = self._data_scan(inv, resolve=resolve,
                               with_meta=has_deletes or keep_meta)
        if not has_deletes:
            return scan.select(*cols)

        # attach the file's data sequence number (tiny path->seq dim,
        # broadcast); per-row provenance came from _data_scan
        seq_rows = [(f["path"], f["seq"]) for f in inv["data"]]
        seq_df = self.spark.createDataFrame(
            seq_rows, "___path string, ___seq long")
        base = scan.join(F.broadcast(seq_df), "___path", "left")

        if inv["pos_deletes"]:
            dseq = self.spark.createDataFrame(
                [(f["path"], f["seq"]) for f in inv["pos_deletes"]],
                "___dfile string, ___dseq long")
            dels = (
                self.spark.read.parquet(*[f["path"]
                                          for f in inv["pos_deletes"]])
                .select(
                    F.regexp_replace("file_path", "^file:(//)?", "")
                     .alias("___tpath"),
                    F.col("pos").alias("___tpos"),
                    _decoded_meta_path().alias("___dfile"))
                .join(F.broadcast(dseq), "___dfile", "left")
            )
            base = base.join(
                F.broadcast(dels),
                (base["___path"] == dels["___tpath"])
                & (base["___pos"] == dels["___tpos"])
                & (dels["___dseq"] >= base["___seq"]),  # spec: pos <= del
                "left_anti",
            )

        if inv["eq_deletes"]:
            by_ids: dict[tuple, list[dict]] = {}
            for f in inv["eq_deletes"]:
                by_ids.setdefault(tuple(sorted(f["equality_ids"])),
                                  []).append(f)
            id_to_name = {f["id"]: f["name"]
                          for f in inv["schema_json"]["fields"]}
            for ids, files in sorted(by_ids.items()):
                try:
                    names = [id_to_name[i] for i in ids]
                except KeyError as exc:
                    raise IcebergUnsupported(
                        f"equality_ids {list(ids)} name non-top-level "
                        "fields") from exc
                dseq = self.spark.createDataFrame(
                    [(f["path"], f["seq"]) for f in files],
                    "___dfile string, ___dseq long")
                dels = (
                    self.spark.read.parquet(*[f["path"] for f in files])
                    .select(
                        *[F.col(n).alias(f"___eq_{n}") for n in names],
                        _decoded_meta_path().alias("___dfile"))
                    .join(F.broadcast(dseq), "___dfile", "left")
                )
                cond = dels["___dseq"] > base["___seq"]  # STRICTLY newer
                for n in names:
                    cond = cond & base[n].eqNullSafe(dels[f"___eq_{n}"])
                base = base.join(F.broadcast(dels), cond, "left_anti")

        return base.select(*cols)


    # -- incremental consumption ------------------------------------------------

    def changes(self, from_snapshot_id, to_snapshot_id=None) -> DataFrame:
        """Append-only snapshot-diff feed: the rows of data files added
        AFTER ``from_snapshot_id`` up to ``to_snapshot_id`` (default
        current) — the Iceberg-native incremental-consumption primitive
        (a snapshot-id cursor instead of a high-water-mark column),
        mirroring the manifest format's ``changes()`` feed and the
        reference's ``read_since`` contract (S2).

        O(metadata) to compute the diff (two manifest replays), then one
        distributed scan of ONLY the new files — never a re-read of the
        base table. Refuses LOUDLY when the range is not append-only
        (data files removed, or position/equality delete files added):
        emitting just the appended rows would silently misrepresent
        updates/deletes as pure inserts.
        """
        old = self.file_inventory(from_snapshot_id)
        new = self.file_inventory(to_snapshot_id)
        old_data = {f["path"] for f in old["data"]}
        new_data = {f["path"] for f in new["data"]}
        removed = old_data - new_data
        old_dels = {f["path"] for f in old["pos_deletes"]} | {
            f["path"] for f in old["eq_deletes"]}
        new_dels = {f["path"] for f in new["pos_deletes"]} | {
            f["path"] for f in new["eq_deletes"]}
        if removed or (new_dels - old_dels):
            raise IcebergUnsupported(
                f"snapshot range is not append-only ({len(removed)} data "
                f"files removed, {len(new_dels - old_dels)} delete files "
                "added): the appended-rows feed would misrepresent "
                "updates/deletes as inserts — read full snapshots instead"
            )
        added = sorted(new_data - old_data)
        schema: T.StructType = new["schema"]
        if not added:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(*added)

    def files(self, snapshot_id=None) -> DataFrame:
        """Live files as a metadata DataFrame (content kind, path,
        partition tuple, record count, size, data sequence number) —
        the reader-side answer to Iceberg's ``files`` metadata table.
        Driver-side metadata only; bounded by the manifests' size."""
        inv = self.file_inventory(snapshot_id)
        rows = []
        for kind, files in (("data", inv["data"]),
                            ("pos_delete", inv["pos_deletes"]),
                            ("eq_delete", inv["eq_deletes"])):
            for f in files:
                rows.append((
                    kind, f["path"],
                    {k: (None if v is None else str(v))
                     for k, v in (f.get("partition") or {}).items()},
                    f.get("record_count"), f.get("bytes"),
                    int(f["seq"])))
        schema = ("content string, path string, "
                  "partition map<string,string>, record_count long, "
                  "size_bytes long, seq long")
        return self.spark.createDataFrame(rows, schema)

    def history(self) -> DataFrame:
        """Snapshot history as a metadata DataFrame — the reader-side
        answer to Iceberg's ``history``/``snapshots`` metadata tables."""
        rows = [
            (int(s["snapshot-id"]),
             s.get("parent-snapshot-id"),
             int(s.get("sequence-number") or 0),
             int(s.get("timestamp-ms") or 0),
             (s.get("summary") or {}).get("operation"))
            for s in self.snapshots()
        ]
        return self.spark.createDataFrame(
            rows, "snapshot_id long, parent_id long, "
                  "sequence_number long, timestamp_ms long, "
                  "operation string")

    def changelog(self, from_snapshot_id, to_snapshot_id=None,
                  net: bool = False) -> DataFrame:
        """Row-level snapshot-diff changelog: the table's columns plus
        ``_change_type`` (``'insert'`` | ``'delete'``) for every row
        whose liveness differs between the two snapshots — the
        full-fidelity companion to the append-only ``changes()`` feed,
        covering ranges that include deletes and rewrites (the cases
        ``changes()`` refuses loudly). Updates surface as a
        delete+insert pair, matching Spark-Iceberg's
        ``create_changelog_view`` without compute-updates (Iceberg v2
        carries no CDF metadata to do better from). Reference analog:
        the incremental-consumption contract (S2,
        `transports/mysql.rb:149-158`) extended to deletions.

        O(changed files), not O(table): the scan set is the data files
        added/removed in the range plus the retained files actually
        TARGETED by changed position-delete files (targets come from
        the delete files' own ``file_path`` column — a metadata-scale
        read, delete files are small by construction). Only a changed
        EQUALITY-delete set widens the diff to every retained file
        (equality deletes are value predicates; their targets are
        unknowable without the scan that is being avoided). A changed
        delete file that is already physically gone (expired + vacuumed
        on the source) refuses LOUDLY — the from-snapshot's live set
        can no longer be reconstructed, and guessing would emit a wrong
        feed. Both snapshots read under the CURRENT table schema
        (Iceberg read semantics). ``self.last_changelog_stats`` records
        the planned scan so callers (and tests) can hold the O(delta)
        line.

        ``net=True`` cancels exact-duplicate insert/delete pairs
        (groupBy row value, emit ``|Σ±1|`` survivors), so a pure
        compaction/rewrite — same rows, new files — nets to zero rows
        instead of N delete+insert echoes. Default off: the raw feed is
        cheaper (no all-columns shuffle) and some consumers want the
        file-level motion.
        """
        old = self.file_inventory(from_snapshot_id)
        new = self.file_inventory(to_snapshot_id)
        names = [f.name for f in new["schema"].fields]
        old_paths = {f["path"] for f in old["data"]}
        new_paths = {f["path"] for f in new["data"]}
        added = new_paths - old_paths
        removed = old_paths - new_paths
        retained = old_paths & new_paths

        def _key(files):
            return {(f["path"], f["seq"]) for f in files}

        pos_changed = _key(old["pos_deletes"]) ^ _key(new["pos_deletes"])
        eq_changed = _key(old["eq_deletes"]) ^ _key(new["eq_deletes"])
        affected: set = set()
        widened = None
        if eq_changed:
            affected = set(retained)
            widened = "equality-delete set changed"
        elif pos_changed:
            dfiles = sorted({p for p, _ in pos_changed})
            missing = [p for p in dfiles if not os.path.exists(p)]
            if missing:
                raise IcebergUnsupported(
                    f"{len(missing)} position-delete file(s) in the "
                    "changelog range are gone from disk (snapshot "
                    "expired/vacuumed?) — the from-snapshot live set "
                    f"cannot be reconstructed: {missing[0]}")
            if dfiles:
                targets = (
                    self.spark.read.parquet(*dfiles)
                    .select(F.regexp_replace(
                        "file_path", "^file:(//)?", "").alias("p"))
                    .distinct().collect())
                affected = {r["p"] for r in targets} & retained

        self.last_changelog_stats = {
            "files_added": len(added), "files_removed": len(removed),
            "files_retained": len(retained),
            "retained_scanned": len(affected),
            "widened_reason": widened,
        }

        def _sub(inv, paths):
            s = dict(inv)
            s["data"] = [f for f in inv["data"] if f["path"] in paths]
            return s

        old_side = self._read_inventory(_sub(old, removed | affected),
                                        keep_meta=True)
        new_side = self._read_inventory(_sub(new, added | affected),
                                        keep_meta=True)

        return position_changelog(old_side, new_side, names, net)


class IcebergLiteConnection(Connection):
    """Config: ``path`` — a directory whose subdirectories are Iceberg
    tables (each containing ``metadata/``). Read-only by design, like
    the Delta reader: this engine writes through its own manifest
    format; Iceberg interop is for reading someone else's lakehouse."""

    def __init__(self, config, engine, name: str = ""):
        super().__init__(config, engine, name)
        self.root = config["path"]
        self.spark = getattr(engine, "spark", engine)

    def _table(self, name: str) -> IcebergLiteTable:
        return IcebergLiteTable(self.spark, os.path.join(self.root, name))

    def read(self, query_or_table: str, snapshot_id=None,
             as_of_ms: int | None = None, resolve: str = "name",
             ref: str | None = None, **kwargs) -> DataFrame:
        return self._table(query_or_table).read(
            snapshot_id=snapshot_id, as_of_ms=as_of_ms, resolve=resolve,
            ref=ref)

    def changes(self, table: str, from_snapshot_id,
                to_snapshot_id=None) -> DataFrame:
        """Append-only snapshot-diff feed (see IcebergLiteTable.changes);
        the snapshot-id cursor form of the read_since contract."""
        return self._table(table).changes(from_snapshot_id, to_snapshot_id)

    def changelog(self, table: str, from_snapshot_id,
                  to_snapshot_id=None, net: bool = False) -> DataFrame:
        """Row-level snapshot-diff changelog with deletes (see
        IcebergLiteTable.changelog)."""
        return self._table(table).changelog(
            from_snapshot_id, to_snapshot_id, net=net)

    def files(self, table: str, snapshot_id=None) -> DataFrame:
        return self._table(table).files(snapshot_id)

    def history(self, table: str) -> DataFrame:
        return self._table(table).history()

    # uniform cursor surface (shared with DeltaLiteConnection) for
    # patterns.lakehouse_incremental_pipe — the cursor is a snapshot id
    def head_cursor(self, table: str):
        t = self._table(table)
        cur = t.metadata().get("current-snapshot-id")
        if cur in (None, -1):
            raise ValueError(f"{table} has no snapshot yet")
        return cur

    def read_at_cursor(self, table: str, cursor) -> DataFrame:
        return self._table(table).read(snapshot_id=cursor)

    def write(self, df, table, mode="upsert", primary_key="id", **kwargs):
        raise NotImplementedError(
            "IcebergLiteConnection is read-only (spec v1/v2 reader); "
            "write through a manifest/parquet connection instead"
        )

    def tables(self) -> list[str]:
        if not os.path.isdir(self.root):
            return []
        return sorted(
            d for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d, "metadata"))
        )


# ---------------------------------------------------------------------------
# Spark -> Iceberg schema (for export)
# ---------------------------------------------------------------------------

def spark_type_to_iceberg(dt: T.DataType, next_id) -> object:
    """Spark DataType -> Iceberg JSON type. ``next_id`` is a callable
    allocating monotonically-increasing field ids (the spec requires
    every nested field/element/key/value to carry one)."""
    if isinstance(dt, T.StructType):
        fields = []
        for f in dt.fields:
            fid = next_id()
            fields.append({"id": fid, "name": f.name,
                           "required": not f.nullable,
                           "type": spark_type_to_iceberg(f.dataType,
                                                         next_id)})
        return {"type": "struct", "fields": fields}
    if isinstance(dt, T.ArrayType):
        eid = next_id()
        return {"type": "list", "element-id": eid,
                "element": spark_type_to_iceberg(dt.elementType, next_id),
                "element-required": not dt.containsNull}
    if isinstance(dt, T.MapType):
        kid, vid = next_id(), next_id()
        return {"type": "map", "key-id": kid,
                "key": spark_type_to_iceberg(dt.keyType, next_id),
                "value-id": vid,
                "value": spark_type_to_iceberg(dt.valueType, next_id),
                "value-required": not dt.valueContainsNull}
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    simple = {T.BooleanType: "boolean", T.IntegerType: "int",
              T.ShortType: "int", T.ByteType: "int", T.LongType: "long",
              T.FloatType: "float", T.DoubleType: "double",
              T.DateType: "date", T.TimestampType: "timestamptz",
              T.StringType: "string", T.BinaryType: "binary"}
    for cls, name in simple.items():
        if isinstance(dt, cls):
            return name
    raise IcebergUnsupported(f"Spark type {dt} has no Iceberg mapping")


_PART_AVRO = {"int": "int", "long": "long", "string": "string",
              "double": "double", "float": "float",
              "boolean": "boolean"}


def _identity_partition(m: dict, schema_json: dict,
                        field_id: int = 1000):
    """Publisher-side hidden partitioning: the manifest table's
    ``partition_by`` column rendered as an Iceberg IDENTITY partition —
    ``(spec_fields, entry_schema_json, value_fn)``. External planners
    (and this reader's transform pruning) data-skip exported tables
    from the r102 partition tuples; identity source values also live in
    the data files, so falling back to ``(None, <empty r102>, None)``
    for unpartitioned tables or partition types without a 1:1 Avro
    primitive keeps the export exactly as correct, just less prunable.
    """
    import copy

    pcol = m.get("partition_by")
    if not pcol:
        return None, json.dumps(MANIFEST_ENTRY_SCHEMA), None
    fld = next((f for f in schema_json["fields"] if f["name"] == pcol),
               None)
    if fld is None or not isinstance(fld["type"], str) \
            or fld["type"] not in _PART_AVRO:
        return None, json.dumps(MANIFEST_ENTRY_SCHEMA), None
    ice_t = fld["type"]
    spec_fields = [{"name": pcol, "transform": "identity",
                    "source-id": int(fld["id"]), "field-id": field_id}]
    es = copy.deepcopy(MANIFEST_ENTRY_SCHEMA)
    df_t = next(f for f in es["fields"] if f["name"] == "data_file")["type"]
    rec = (next(x for x in df_t if x != "null")
           if isinstance(df_t, list) else df_t)
    next(f for f in rec["fields"] if f["name"] == "partition")[
        "type"]["fields"] = [
        {"name": pcol, "type": ["null", _PART_AVRO[ice_t]],
         "field-id": field_id, "default": None}]

    def value(token):
        # manifest partition tokens are strings; None (or the hive
        # null-dir token) = null partition value
        if token is None or token == "__HIVE_DEFAULT_PARTITION__":
            return None
        if ice_t in ("int", "long"):
            return int(token)
        if ice_t in ("double", "float"):
            return float(token)
        if ice_t == "boolean":
            return str(token).lower() in ("true", "1")
        return str(token)

    return spec_fields, json.dumps(es), value


def _write_pos_delete_file(dest: str, masks: dict[str, list[int]]) -> dict:
    """Write ONE v2 position-delete parquet at ``dest/deletes/`` holding
    every mask as spec rows ``(file_path, pos)`` — file_path absolute
    under the export, matching the data_file paths the manifests carry.
    Returns {"path": abs path, "rows": n}."""
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    ddir = os.path.join(dest, "deletes")
    os.makedirs(ddir, exist_ok=True)
    paths, poss = [], []
    for rel in sorted(masks):
        ap = os.path.join(dest, rel)
        for p in masks[rel]:
            paths.append(ap)
            poss.append(int(p))
    out = os.path.join(ddir, f"delete-{_uuid.uuid4().hex[:12]}.parquet")
    # Spec: position-delete columns carry RESERVED field ids
    # (file_path=2147483546, pos=2147483545) — Java/pyiceberg readers
    # resolve delete-file columns BY FIELD ID, not name, so the parquet
    # must embed them (pyarrow maps the PARQUET:field_id field-metadata
    # key onto the parquet field_id). Rows stay sorted by
    # (file_path, pos) as the spec requires.
    schema = pa.schema([
        pa.field("file_path", pa.string(), nullable=False,
                 metadata={b"PARQUET:field_id": b"2147483546"}),
        pa.field("pos", pa.int64(), nullable=False,
                 metadata={b"PARQUET:field_id": b"2147483545"}),
    ])
    pq.write_table(
        pa.table({"file_path": pa.array(paths, pa.string()),
                  "pos": pa.array(poss, pa.int64())}, schema=schema),
        out,
    )
    return {"path": out, "rows": len(poss)}


def _delete_manifest_entry(meta_dir: str, tag: str, delete_file: dict,
                           snap_id: int, seq: int) -> dict:
    """Write an Avro DELETE manifest (content=1) adding one position-
    delete file; returns its manifest-list entry."""
    entries = [{
        "status": 1, "snapshot_id": snap_id, "sequence_number": seq,
        "data_file": {
            "content": 1, "file_path": delete_file["path"],
            "file_format": "PARQUET", "partition": {},
            "record_count": delete_file["rows"],
            "file_size_in_bytes": os.path.getsize(delete_file["path"]),
            "equality_ids": None,
        }}]
    mpath = os.path.join(meta_dir, f"m-{tag}-del.avro")
    av.write_container_file(mpath, json.dumps(MANIFEST_ENTRY_SCHEMA),
                            entries)
    return {"manifest_path": mpath,
            "manifest_length": os.path.getsize(mpath),
            "partition_spec_id": 0, "content": 1,
            "sequence_number": seq, "min_sequence_number": seq,
            "added_snapshot_id": snap_id,
            "added_files_count": 1, "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": delete_file["rows"],
            "existing_rows_count": 0, "deleted_rows_count": 0}


_COUNT_FIELDS = (
    ("added_files_count", 1, "record_count", False),
    ("existing_files_count", 0, "record_count", False),
    ("deleted_files_count", 2, "record_count", False),
    ("added_rows_count", 1, "record_count", True),
    ("existing_rows_count", 0, "record_count", True),
    ("deleted_rows_count", 2, "record_count", True),
)


def _ensure_list_counts(mf: dict, entries: list[dict]) -> dict:
    """Manifest-list entries read from a pre-r7 export lack the
    v2-required file/row count fields; rewriting them with
    MANIFEST_FILE_SCHEMA would default them to 0, and readers that skip
    manifests with zero live-file counts would silently plan no data
    files. Recompute missing counts from the manifest's own entries
    (one O(metadata) Avro read the sync already performs)."""
    if all(mf.get(n) is not None for n, _s, _f, _r in _COUNT_FIELDS):
        return mf
    by_status: dict[int, list[dict]] = {0: [], 1: [], 2: []}
    for e in entries:
        by_status.setdefault(int(e.get("status") or 0), []).append(e)
    out = dict(mf)
    for name, status, _field, is_rows in _COUNT_FIELDS:
        if out.get(name) is not None:
            continue
        es = by_status.get(status, [])
        out[name] = (
            sum(int(e["data_file"].get("record_count") or 0) for e in es)
            if is_rows else len(es)
        )
    return out


def export_manifest_to_iceberg(table, dest: str,
                               dv_mode: str = "refuse") -> dict:
    """Publish a ManifestTable as an Iceberg spec-v2 table at ``dest`` —
    the first sync; on an existing destination, an incremental sync
    (``sync_manifest_to_iceberg``, which documents the layout;
    ``dv_mode`` policy: ``connections/publish.py``). The reverse interop
    direction, sibling of ``deltalite.export_manifest_to_delta``: any
    spec-conformant Iceberg reader consumes a table this engine
    maintains.

    Returns {"files": n, "rows": n or None, "version": source version}
    for the published state.
    """
    out = sync_manifest_to_iceberg(table, dest, dv_mode=dv_mode)
    return {k: out[k] for k in ("files", "rows", "version")}


def _entry_seq(e: dict, mf: dict) -> int:
    """Spec sequence-number inheritance for manifest entry ``e`` of
    manifest-list entry ``mf``: the entry's data sequence number, else
    its sequence number, else the manifest's (null means inherit), else
    0 (v1 tables carry none)."""
    for seq in (e.get("data_sequence_number"), e.get("sequence_number"),
                mf.get("sequence_number")):
        if seq is not None:
            return int(seq)
    return 0


def _write_metadata(meta_dir: str, prev_file: str | None,
                    meta: dict) -> None:
    """Write ``meta`` as the ``v{N}.metadata.json`` after ``prev_file``
    (None: v1) and point ``version-hint.text`` at it."""
    num = _META_NUM_RE.match(os.path.basename(prev_file or "v0"))
    v = int(num.group(1)) + 1 if num else 2
    with open(os.path.join(meta_dir, f"v{v}.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as fh:
        fh.write(str(v))


def sync_manifest_to_iceberg(table, dest: str,
                             dv_mode: str = "refuse") -> dict:
    """Append ONE new Iceberg snapshot at ``dest`` covering the manifest
    table's commits since the last publish (recurring publish without
    re-snapshotting; sibling of ``deltalite.sync_manifest_to_delta``).
    The one publish path (``connections/publish.py``, which also holds
    the ``dv_mode`` policy): the first sync is this same diff against
    empty metadata.

    Each call replays the destination's CURRENT snapshot (Avro manifest
    list + manifests — O(metadata); no ``metadata/`` = no snapshot, no
    schema, no spec), diffs its live data files against the manifest
    table's by path (paths are write-once), then writes:

    - untouched Avro manifests REUSED verbatim in the new manifest list
      (zero rewrite — this is what makes the sync O(delta)),
    - manifests containing newly-removed files REWRITTEN once each:
      survivors become status=EXISTING with their original data
      sequence numbers, removed files become status=DELETED (readers
      skip them; changelog consumers see an honest delete),
    - one NEW manifest with status=ADDED entries (hard-linked files)
      at the next sequence number,
    - under ``dv_mode='native'``, one position-delete file holding just
      the positions not yet published, at that same sequence number (a
      position delete applies to data seq <= its own),
    - a new manifest list, a new snapshot appended to the metadata
      (operation=overwrite when anything existing was removed or
      deleted, append otherwise), ``v{N+1}.metadata.json`` +
      version-hint bump.

    The first snapshot is therefore: schema-id 0 with field ids from 1,
    spec-id 0 (the source's ``partition_by`` as an identity partition at
    field-id 1000 when its type allows, else unpartitioned),
    ``m-00001.avro``, ``snap-1.avro``, snapshot 1 (append, no parent)
    at sequence number 1, ``v1.metadata.json`` and version-hint 1.

    Schema evolution: appended top-level columns get fresh field ids;
    existing columns keep their ids by name (the manifest format only
    evolves by appending nullable columns). A type CHANGE on an
    existing column refuses loudly — silently re-assigning ids would
    corrupt column resolution in external readers.

    Returns {"mode": "full"|"incremental"|"noop", "added", "removed",
    "rewritten_manifests", "dv_updated", "version", "snapshot_id",
    "files", "rows"} — ``files``/``rows``: the published live state.
    """
    m = table.manifest()
    masks = dv_masks(table, m["entries"], dv_mode, "Iceberg",
                     "spec-v2 POSITION DELETES")
    meta_dir = os.path.join(dest, "metadata")
    genesis = not os.path.isdir(meta_dir)
    t = IcebergLiteTable(table.spark, dest)
    if genesis:
        import uuid as _uuid

        meta_file, snap, mf_entries = None, {}, []
        schema_json = {"type": "struct", "fields": []}
        meta = {
            "format-version": 2, "table-uuid": str(_uuid.uuid4()),
            "location": dest, "last-column-id": 0,
            "current-schema-id": -1,  # so the first schema is id 0
            # spec-required even for unpartitioned/unsorted tables
            # (ADVICE r6 item 1: pyiceberg/Java reject their absence):
            # 999 = highest pre-assigned partition field id baseline
            "last-partition-id": 999,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "default-sort-order-id": 0,
        }
    else:
        meta_file = t._resolve_metadata_file()
        meta = t.metadata()
        _, schema_json = t.schema_struct(meta)
        snap = t._snapshot_entry(meta)
        _, mf_entries = av.read_container_file(
            t._abs(snap["manifest-list"]))
    src = {e["path"]: e for e in m["entries"]}
    current = set(src)

    # inventory each manifest: (list-entry, entries, rel path per entry)
    def _rel(fp: str) -> str:
        return os.path.relpath(_norm_path(fp), dest)

    manifests = []
    delete_manifests = []  # content=1: position deletes, reused verbatim
    exported: set[str] = set()
    for mf in mf_entries:
        if mf.get("content") == 1:
            delete_manifests.append(mf)
            continue
        _, entries = av.read_container_file(t._abs(mf["manifest_path"]))
        live = [e for e in entries if e.get("status") != 2]
        rels = [_rel(e["data_file"]["file_path"]) for e in live]
        exported.update(rels)
        manifests.append((_ensure_list_counts(mf, entries), live, rels))

    added = sorted(current - exported)
    removed = exported - current

    # ---- dv diff (dv_mode='native'): positions already exported live
    # in the destination's pos-delete files; positions only GROW per
    # live file in the manifest format, so the sync appends the DELTA
    # as one new delete file. A rewind (restore() shrinking a mask) is
    # not expressible by adding v2 delete content — refuse loudly.
    # Delete manifests whose position deletes reference NO post-sync
    # live data file are DROPPED from the new manifest list (dead
    # weight once compact() rewrote the masked files — this is the
    # delete-file-compaction story: compact the SOURCE, then sync;
    # rewritten files arrive mask-free and their old delete files fall
    # out of the snapshot here). Old snapshots keep referencing them
    # until vacuum_iceberg_export reclaims the parquet.
    exported_masks: dict[str, set[int]] = {}
    live_delete_manifests: list[dict] = []
    if delete_manifests:
        import pyarrow.parquet as pq

        for mf in delete_manifests:
            _, dentries = av.read_container_file(t._abs(mf["manifest_path"]))
            refs: set[str] = set()
            for de in dentries:
                if de.get("status") == 2:
                    continue
                tb = pq.read_table(_norm_path(de["data_file"]["file_path"]),
                                   columns=["file_path", "pos"])
                for fp, p in zip(tb.column(0).to_pylist(),
                                 tb.column(1).to_pylist()):
                    rel = _rel(fp)
                    refs.add(rel)
                    exported_masks.setdefault(rel, set()).add(int(p))
            if refs & current:
                live_delete_manifests.append(mf)
    delete_manifests = live_delete_manifests
    new_positions: dict[str, list[int]] = {}
    for p_rel in current:
        cur = set(masks.get(p_rel, ()))
        exp = exported_masks.get(p_rel, set())
        if exp - cur:
            raise IcebergUnsupported(
                f"exported position deletes for {p_rel!r} exceed the "
                "table's current mask (restore()/rewind?): v2 delete "
                "content cannot un-delete rows — export to a fresh "
                "location instead")
        if cur - exp:
            new_positions[p_rel] = sorted(cur - exp)

    # ---- schema evolution (append-only; id-stable by name) ----
    new_schema_json = schema_json
    old_struct = _schema_struct(schema_json)
    new_struct = T.StructType.fromJson(m["schema"])
    schema_changed = old_struct != new_struct
    if schema_changed:
        old_fields = {f["name"]: f for f in schema_json["fields"]}
        old_by_name = {f.name: f for f in old_struct.fields}
        for f in new_struct.fields:
            if f.name in old_by_name and \
                    old_by_name[f.name].dataType != f.dataType:
                raise IcebergUnsupported(
                    f"column {f.name!r} changed type "
                    f"({old_by_name[f.name].dataType} -> {f.dataType}); "
                    "incremental export cannot re-map its field id — "
                    "export to a fresh location instead")
        last_col = int(meta.get("last-column-id", 0))
        counter = iter(range(last_col + 1, last_col + 1 + (1 << 20)))
        fresh = spark_type_to_iceberg(new_struct, lambda: next(counter))
        new_schema_json = {
            "type": "struct",
            "schema-id": int(meta.get("current-schema-id", 0)) + 1,
            "fields": [old_fields.get(f["name"], f)
                       for f in fresh["fields"]],
        }

    out = {"mode": "noop", "added": len(added), "removed": len(removed),
           "rewritten_manifests": 0, "dv_updated": len(new_positions),
           "version": m.get("version", 0),
           "snapshot_id": snap.get("snapshot-id"), "files": len(src),
           "rows": live_rows(m["entries"])}
    if not added and not removed and not schema_changed \
            and not new_positions:
        return out

    new_meta = dict(meta)
    # ---- identity partition spec (r8): new manifests carry r102
    # tuples; a pre-feature destination (empty spec) gets a proper
    # PARTITION SPEC EVOLUTION — a new spec-id appended, old manifests
    # keep referencing theirs. Genesis has no spec yet: its first spec
    # is spec-id 0 (the spec-required empty spec when unpartitioned).
    specs = [] if genesis else [
        dict(s) for s in meta.get("partition-specs")
        or [{"spec-id": 0, "fields": []}]]
    data_spec_id = int(meta.get("default-spec-id", 0))
    spec_evolved = genesis
    spec_fields, entry_schema, part_val = _identity_partition(
        m, new_schema_json)
    if spec_fields:

        def _sig(fs):
            return [(f["name"], f["transform"], f["source-id"])
                    for f in fs]

        match = next((s for s in specs
                      if _sig(list(s.get("fields") or []))
                      == _sig(spec_fields)), None)
        if match is not None:
            data_spec_id = int(match["spec-id"])
            fid = int(match["fields"][0]["field-id"])
        else:
            fid = max(int(meta.get("last-partition-id", 999)), 999) + 1
            data_spec_id = max((int(s["spec-id"]) for s in specs),
                               default=-1) + 1
            spec_evolved = True
            new_meta["last-partition-id"] = fid
        spec_fields, entry_schema, part_val = _identity_partition(
            m, new_schema_json, field_id=fid)
        if match is None:
            specs.append({"spec-id": data_spec_id,
                          "fields": spec_fields})
    if spec_evolved:
        new_meta["partition-specs"] = specs or [{"spec-id": 0,
                                                 "fields": []}]
        new_meta["default-spec-id"] = data_spec_id

    os.makedirs(meta_dir, exist_ok=True)
    new_seq = int(meta.get("last-sequence-number", 0)) + 1
    new_snap_id = max((s["snapshot-id"] for s in meta.get("snapshots")
                       or []), default=0) + 1
    tag = "00001" if genesis else f"sync{new_snap_id}"
    ts = int(m.get("committed_at", 0) or 0)
    fields_map = _fields_map(new_schema_json)

    new_list = list(delete_manifests)  # pos-delete manifests reused
    rewritten = 0
    for mf, live, rels in manifests:
        gone = [e for e, r in zip(live, rels) if r in removed]
        if not gone:
            new_list.append(mf)  # reused verbatim — O(delta) core
            continue
        rewritten += 1
        out_entries = []
        kept_rows = gone_rows = 0
        for e, r in zip(live, rels):
            seq = _entry_seq(e, mf)
            rec = {"status": 0 if r not in removed else 2,
                   "snapshot_id": new_snap_id if r in removed
                   else e.get("snapshot_id"),
                   "sequence_number": seq,
                   "data_file": e["data_file"]}
            n = int(e["data_file"].get("record_count") or 0)
            if r in removed:
                gone_rows += n
            else:
                kept_rows += n
            out_entries.append(rec)
        mpath = os.path.join(meta_dir, f"m-{tag}-{rewritten:05d}.avro")
        # preserve partition tuples through the rewrite: entries that
        # carry r102 values need the partition-aware writer schema
        has_part = any(e["data_file"].get("partition")
                       for e in out_entries)
        av.write_container_file(
            mpath,
            entry_schema if has_part
            else json.dumps(MANIFEST_ENTRY_SCHEMA),
            out_entries)
        survivors = [e for e, r in zip(live, rels) if r not in removed]
        min_seq = min((_entry_seq(e, mf) for e in survivors),
                      default=new_seq)
        new_list.append({
            "manifest_path": mpath,
            "manifest_length": os.path.getsize(mpath),
            "partition_spec_id": mf.get("partition_spec_id", 0),
            "content": 0,
            "sequence_number": new_seq, "min_sequence_number": min_seq,
            "added_snapshot_id": new_snap_id,
            "added_files_count": 0,
            "existing_files_count": len(survivors),
            "deleted_files_count": len(gone),
            "added_rows_count": 0, "existing_rows_count": kept_rows,
            "deleted_rows_count": gone_rows})

    if added:
        add_entries = []
        for rel in added:
            dst = link_or_copy(table, dest, rel)
            lo_b, hi_b = _entry_bounds(fields_map, src[rel])
            part = ({m["partition_by"]:
                     part_val(src[rel].get("partition"))}
                    if spec_fields else {})
            add_entries.append({
                "status": 1, "snapshot_id": new_snap_id,
                "sequence_number": new_seq,
                "data_file": {
                    "content": 0, "file_path": dst,
                    "file_format": "PARQUET", "partition": part,
                    "record_count": int(src[rel].get("rows") or 0),
                    "file_size_in_bytes": os.path.getsize(dst),
                    "lower_bounds": lo_b, "upper_bounds": hi_b,
                    "equality_ids": None,
                }})
        mpath = os.path.join(meta_dir, "m-00001.avro" if genesis
                             else f"m-{tag}-added.avro")
        av.write_container_file(mpath, entry_schema, add_entries)
        new_list.append({
            "manifest_path": mpath,
            "manifest_length": os.path.getsize(mpath),
            "partition_spec_id": data_spec_id, "content": 0,
            "sequence_number": new_seq, "min_sequence_number": new_seq,
            "added_snapshot_id": new_snap_id,
            "added_files_count": len(add_entries),
            "existing_files_count": 0, "deleted_files_count": 0,
            "added_rows_count": sum(
                e["data_file"]["record_count"] for e in add_entries),
            "existing_rows_count": 0, "deleted_rows_count": 0})

    if new_positions:
        # one new position-delete file with just the DELTA positions at
        # the new sequence (applies to every data file: seq <= new_seq)
        dfile = _write_pos_delete_file(dest, new_positions)
        new_list.append(_delete_manifest_entry(
            meta_dir, tag, dfile, snap_id=new_snap_id, seq=new_seq))

    lpath = os.path.join(meta_dir, f"snap-{new_snap_id}.avro")
    av.write_container_file(lpath, json.dumps(MANIFEST_FILE_SCHEMA),
                            new_list)

    new_meta["last-sequence-number"] = new_seq
    new_meta["last-updated-ms"] = ts
    new_meta["current-snapshot-id"] = new_snap_id
    # keep the main branch ref on head (spec refs; other refs — tags,
    # side branches — are left exactly where their owners put them)
    new_meta["refs"] = {**(meta.get("refs") or {}),
                        "main": {"snapshot-id": new_snap_id,
                                 "type": "branch"}}
    new_snap = {
        "snapshot-id": new_snap_id,
        "sequence-number": new_seq, "timestamp-ms": ts,
        "manifest-list": lpath,
        # genesis deletes only hit rows added in the same snapshot
        "summary": {"operation": "overwrite" if not genesis
                    and (removed or new_positions) else "append"},
        "schema-id": new_schema_json.get("schema-id", 0),
    }
    if snap:
        new_snap["parent-snapshot-id"] = snap["snapshot-id"]
    new_meta["snapshots"] = list(meta.get("snapshots") or []) + [new_snap]
    if schema_changed:
        new_meta["schemas"] = list(meta.get("schemas") or []) \
            + [new_schema_json]
        new_meta["current-schema-id"] = new_schema_json["schema-id"]
        new_meta["last-column-id"] = next(counter) - 1
    _write_metadata(meta_dir, meta_file, new_meta)
    out.update(mode="full" if genesis else "incremental",
               rewritten_manifests=rewritten, snapshot_id=new_snap_id)
    return out


def vacuum_iceberg_export(spark: SparkSession, dest: str,
                          grace_ms: int = 7 * 24 * 3600 * 1000,
                          now_ms: int | None = None) -> dict:
    """Dest-side orphan-file cleanup for a (sync-)exported Iceberg
    table (VERDICT r7 item 2, sibling of
    ``deltalite.vacuum_delta_export``): a long-lived publisher
    accumulates data files removed by later syncs and position-delete
    files superseded by compact()-then-sync. This keeps every file the
    CURRENT snapshot references (data + delete files), deletes any
    other data/delete file under ``dest`` older than ``grace_ms``, and
    NEVER touches ``metadata/`` (snapshot history stays replayable as
    metadata; reading a reclaimed old snapshot fails loudly on the
    missing file, the same trade Iceberg's own expire_snapshots +
    remove_orphan_files make).

    Maintenance story for accumulated delete files: ``compact()`` the
    SOURCE manifest table, then sync — rewritten data files arrive
    mask-free, the sync drops dead delete manifests from the new
    snapshot, and this vacuum reclaims the orphaned delete parquet.

    Returns {"removed": n, "kept_live": n, "kept_grace": n}.
    """
    inv = IcebergLiteTable(spark, dest).file_inventory()
    live = {r["path"] for key in ("data", "pos_deletes", "eq_deletes")
            for r in inv[key]}
    return vacuum_dest(dest, live, "metadata", grace_ms, now_ms)


def expire_iceberg_export_snapshots(spark: SparkSession, dest: str,
                                    keep_last: int = 5) -> dict:
    """Iceberg's ``expire_snapshots`` for an exported table (r8: the
    metadata-side companion of ``vacuum_iceberg_export`` — a long-lived
    publisher otherwise grows ``snapshots`` and keeps every historical
    manifest list / manifest Avro forever). Keeps the LAST ``keep_last``
    snapshots (always including the current one), writes the next
    ``v{N}.metadata.json`` + version-hint, and deletes manifest-list and
    manifest Avro files referenced ONLY by expired snapshots (manifests
    REUSED by retained snapshots — the sync's O(delta) norm — are kept).

    Old metadata.json versions stay on disk (they are tiny and the
    version-hint always points at the newest); time travel to an
    expired snapshot fails LOUDLY on its missing manifest list — the
    same trade Iceberg's own expire_snapshots documents. Data files are
    NOT touched here: ``vacuum_iceberg_export`` reclaims those.

    Returns {"expired": n, "kept": n, "metadata_files_removed": n}.
    """
    t = IcebergLiteTable(spark, dest)
    meta_file = t._resolve_metadata_file()
    meta = t.metadata()
    snaps = list(meta.get("snapshots") or [])
    if len(snaps) <= keep_last:
        return {"expired": 0, "kept": len(snaps),
                "metadata_files_removed": 0}
    snaps.sort(key=lambda s: s["snapshot-id"])
    kept = snaps[-keep_last:]
    cur = meta.get("current-snapshot-id")
    if cur is not None and cur not in {s["snapshot-id"] for s in kept}:
        raise IcebergUnsupported(
            f"current snapshot {cur} would be expired (keep_last="
            f"{keep_last} too small for this history)")
    expired = snaps[:-keep_last]

    def _avros_of(snap_entries: list[dict]) -> set[str]:
        out: set[str] = set()
        for s in snap_entries:
            lp = t._abs(s["manifest-list"])
            out.add(os.path.normpath(lp))
            try:
                _, mfs = av.read_container_file(lp)
            except FileNotFoundError:
                continue
            for mf in mfs:
                out.add(os.path.normpath(t._abs(mf["manifest_path"])))
        return out

    retained = _avros_of(kept)
    removable = _avros_of(expired) - retained
    removed = 0
    for p in sorted(removable):
        if os.path.exists(p):
            os.remove(p)
            removed += 1

    new_meta = dict(meta)
    new_meta["snapshots"] = kept
    # drop parent links that now point outside the retained history
    kept_ids = {s["snapshot-id"] for s in kept}
    new_meta["snapshots"] = [
        dict(s, **({"parent-snapshot-id": None}
                   if s.get("parent-snapshot-id") not in kept_ids else {}))
        for s in kept
    ]
    # refs pointing at expired snapshots would dangle: drop them (the
    # current snapshot is always kept, so main survives)
    if meta.get("refs"):
        new_meta["refs"] = {
            n: r for n, r in meta["refs"].items()
            if r.get("snapshot-id") in kept_ids
        }
    _write_metadata(t.meta_dir, meta_file, new_meta)
    return {"expired": len(expired), "kept": len(kept),
            "metadata_files_removed": removed}
