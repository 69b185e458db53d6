"""Manifest-based transactional MERGE over plain parquet.

The reference's upsert sink mutates rows in place (`transports/mysql.rb:82-87`,
DELETE IN + INSERT). Immutable columnar storage needs the Delta/Iceberg
shape instead: data files are immutable, a versioned manifest names the
live file set, and a commit atomically swaps a pointer to the new
manifest. This module executes that shape with no table-format
dependency — the "Upsert at scale" design in SCALING.md, realized.

Layout under ``<root>/<table>/``::

    data/snap-<hex>/[__fsp__=<value>/]part-*.parquet   immutable data files
    dv/dv-<hex>/part-*.parquet                         deletion-vector sidecars
    metadata/seg-<hex>.parquet                         immutable entry segments
    manifest-v<N>.json                                 immutable manifests
    _current                                           atomic version pointer

Manifest METADATA scales past the file count where a monolithic entry
list breaks (the Iceberg manifest-list shape, one level): the
per-version JSON names immutable parquet ENTRY SEGMENTS (path, stats,
bloom per file live in the segment, not the JSON) with each segment's
partition coverage inline. A commit writes O(delta) metadata — segments
the commit's partitions don't touch carry by reference, checked against
the coverage list without being parsed — and a partition-pruned read
plans from O(pruned) metadata. ``checkpoint()`` consolidates fragmented
segments; a small-segment merge runs inline at commit time (amortized
O(delta)); metadata-only stats (history, count_rows, scan_plan totals)
come from per-segment sums with zero entry parsing. Manifests written
by the pre-segment format (inline ``entries``) stay readable.

Why this scales where ``ParquetTableWriter._upsert`` doesn't:

- **MERGE rewrites only touched partitions.** The source batch names the
  partitions it lands in; every other partition's files are carried into
  the new manifest by reference — zero IO. A daily batch over a
  date-partitioned 100 TB fact costs O(today), not O(table).
- **Snapshot isolation + time travel.** Readers resolve the file list
  from one manifest version; a concurrent commit never changes files a
  running job already planned. Old versions stay readable until vacuum.
- **Manifest-level partition pruning.** ``read(partitions=[...])`` plans
  only the matching files — the scan never even lists the rest.
- **Schema evolution without rewrites.** The manifest carries the table
  schema; reads pass it explicitly, so files written before a column
  existed are NULL-filled by the parquet reader instead of rewritten.

Driver-side state is bounded: the commit path collects one string per
touched partition (same class as the HWM scalar) and never row data.

Merge contract (same as Hive dynamic-partition overwrite / partition-
pruned Delta MERGE): a key is matched *within its partition* — source
rows must carry the partition value their key lives in. A key that
"moves" partitions inserts into the new one and leaves the old row;
callers that allow moving keys must merge on (partition, key).

The keyed commit: ``merge(b)`` is ``apply_changes(b, None)`` and
``delete_keys(k)`` is ``apply_changes(None, k)``, each under its own
operation name; a predicate ``delete`` is the same tail behind a
predicate scope. The PROBE (``_probe_sides``) collects, per side,
``distinct().limit(bound + 1)`` over the partition token, bucket cell,
prune-eligible key columns and bloom positions — sides of one probe
shape in ONE action — and yields emptiness, touched tokens, the scope
(touched partitions, cut to touched cells, then by key zone maps and
blooms) and, when bounded, the distinct key tuples that become a local
broadcast key frame. A tombstone side without the partition column
probes its keys only and scopes the whole live set. The TAIL
(``_mask_or_rewrite``) either masks ``drop(live scope rows)`` with
deletion vectors and appends the upserts (``use_dv``, operation
``<op>+dv``: per-file row positions in a sidecar, the Delta DV / Iceberg
v2 positional-delete shape — no existing file is rewritten, readers
anti-join the masks and ``compact()`` folds them away), or rewrites the
scope as ``keep(scope rows) ∪ upserts``. Noop rule: no commit (version
unchanged, ``touched_partitions`` empty) when nothing is masked,
rewritten or appended — every side empty, or an empty scope with
nothing to append, or a dv pass that hit nothing and appends nothing.
OCC tokens: the pruned sides' probe tokens, plus the partitions of the
masked, rewritten and written files; ``max_retries`` runs the shared
rebase loop (``_occ``) over them.

Partition directory tokens: the partition column is *duplicated* into a
string column ``__fsp__`` for ``partitionBy`` so the real column stays
inside the data files (plain ``partitionBy`` would strip it and make
every reader depend on dir-name inference). Tokens therefore follow
Spark's own hive escaping; NULL partitions land in
``__HIVE_DEFAULT_PARTITION__``.

Multi-dimensional partitioning (date x region etc.) is expressed as ONE
derived composite column — ``F.concat_ws("|", "day", "region")`` — and
everything (merge pruning, partition reads, OCC disjointness, compact
grouping) operates on the composite token unchanged; source batches
must carry the same derived column. Combine with ``bucket_by`` for a
key dimension and zone maps / blooms for everything else.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import re
import uuid
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from forklift_spark import zonemap
from forklift_spark.changelog import replicate_net

PART_DIR_COL = "__fsp__"  # file-system-partition dup column (never in data)
BUCKET_DIR_COL = "__fsb__"  # key-hash bucket dup column (never in data)
NULL_TOKEN = "__HIVE_DEFAULT_PARTITION__"

# Table-relative file reference extracted from `_metadata.file_path` in
# executors. The URI percent-encodes filesystem names (space -> %20,
# % -> %25; '+' and unicode pass through), so this ref stays in ENCODED
# form for executor-side joins (both sides produced by the same reader
# => exact match); driver-side bookkeeping decodes with urllib unquote,
# which is the precise inverse (never treats '+' as space).
FILE_REF_RE = r"(data/snap-[0-9a-f]{12}/.*)$"
# deletion-vector dirs as the dv writer names them (_apply_dv); the
# changes() dv-diff keys each pair row back to its dir with the
# Spark-side extract, guarded by the Python-side fullmatch
DV_DIR_RE = r"(dv/dv-[0-9a-f]{12})/"
_DV_DIR_PAT = re.compile(r"dv/dv-[0-9a-f]{12}")
# deletion-vector rows (file_ref, pos) under this total broadcast on the
# read-path anti-join; above it, fall back to a shuffled join
DV_BROADCAST_ROWS = 2_000_000
# the dv parquet layout is fixed by its writer (_dv_masked_entries /
# _apply_dv: file_ref from _file_ref(), pos from _metadata.row_index) —
# stating it at every dv read skips a schema-inference job per read
# (optimization r9, guide §1.2/§6)
_DV_SCHEMA = T.StructType(
    [
        T.StructField("file_ref", T.StringType()),
        T.StructField("pos", T.LongType()),
    ]
)


# Arrow types for the merge key frame's local relation (_key_frame):
# probe-collected pk values are numeric-or-string by construction, so a
# static class map covers them; anything else falls back to the pickled
# createDataFrame form. Built lazily to keep pyarrow an optional import.
def _arrow_types():
    import pyarrow as pa

    return {
        T.ByteType: pa.int8(),
        T.ShortType: pa.int16(),
        T.IntegerType: pa.int32(),
        T.LongType: pa.int64(),
        T.FloatType: pa.float32(),
        T.DoubleType: pa.float64(),
        T.StringType: pa.string(),
    }


class _ArrowTypeMap:
    _map = None

    def __getitem__(self, key):
        if type(self)._map is None:
            type(self)._map = _arrow_types()
        return type(self)._map[key]


_ARROW_TYPES = _ArrowTypeMap()


@contextlib.contextmanager
def _probe_conf(spark: SparkSession):
    """Scope two confs around a bounded PROBE collect (distinct + limit
    over ≤ _PRUNE_KEYS_BOUND tuples) so the probe is ONE Spark job
    (guide §1.2 — the commit path is job-count-bound at small SFs,
    ~100 ms fixed cost per job):

    - AQE off: it buys nothing on a collect this small but splits it
      into one job per shuffle query-stage (2-4 jobs per probe).
    - ``limit.initialNumPartitions`` maxed: without AQE, CollectLimit
      scans the final stage incrementally (1, 4, 16... partitions,
      ``spark.sql.limit.scaleUpFactor``) — a probe that does NOT fill
      its limit (the common case: batch keys ≤ bound) pays one job per
      round trip. Reading all partitions in one pass is strictly better
      here: the probe's final stage is a deduped aggregate bounded by
      the batch's distinct keys.

    Results are unaffected — same plan minus runtime coalescing.
    Runtime conf is session-global, so this briefly affects queries
    PLANNED concurrently on other threads (same precedent as
    streaming's scoped_shuffle_partitions); manifest commits are
    driver-synchronous, so in practice the scope is the probe itself."""
    keys = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.limit.initialNumPartitions": "2147483647",
    }
    prev = {k: spark.conf.get(k, None) for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
# manifest entry lists live in immutable parquet SEGMENT sidecars under
# metadata/ (the Iceberg manifest-file shape); the per-version JSON holds
# only one small record per segment. A commit writes O(delta) metadata:
# segments whose partitions the commit didn't touch carry by reference.
SEGMENT_TARGET_ENTRIES = 2_000  # entries per metadata segment file
SEGMENT_MERGE_SMALL = 16  # small-segment count that triggers inline merge
DV_RATIO_WARN = 0.25  # dv_rows/rows per partition that flags dv pressure
# vacuum deletes a NEVER-referenced file (as opposed to one referenced
# by a dropped version) only when older than this — a younger orphan may
# be a concurrent writer's staged-but-uncommitted snapshot/dv/segment
VACUUM_ORPHAN_GRACE_SECONDS = 24 * 3600.0


def _file_ref() -> F.Column:
    return F.regexp_extract(F.col("_metadata.file_path"), FILE_REF_RE, 1)


# `<table> VERSION AS OF <n>` — the Delta/Iceberg time-travel SQL shape.
# Spark has no Python-side parser hook for custom relation syntax, so the
# SQL surface rewrites the clause to a registered snapshot view before
# spark.sql sees it (a view-registration shim, not a string hack on data:
# only the FROM-clause relation name changes).
_TIME_TRAVEL_RE = None  # compiled lazily (re imported on first use)


def rewrite_time_travel(sql: str, resolve) -> str:
    """Rewrite every ``<name> VERSION AS OF <n>`` and ``<name>
    TIMESTAMP AS OF '<ts>'`` whose ``name`` ``resolve(name)`` maps to a
    ManifestTable into a registered snapshot temp view (aliases after
    the clause keep working). Timestamps resolve to the newest version
    committed at or before the instant (``version_at``). Unknown names
    pass through untouched so mixed-source SQL still parses. Returns
    the rewritten SQL; views registered as a side effect."""
    import re

    global _TIME_TRAVEL_RE
    if _TIME_TRAVEL_RE is None:
        _TIME_TRAVEL_RE = re.compile(
            r"\b([A-Za-z_][A-Za-z0-9_]*)\s+"
            r"(?:VERSION\s+AS\s+OF\s+(\d+)"
            r"|TIMESTAMP\s+AS\s+OF\s+'([^']+)')",
            re.IGNORECASE,
        )

    def sub(m):
        name = m.group(1)
        t = resolve(name)
        if t is None:
            return m.group(0)
        v = int(m.group(2)) if m.group(2) else t.version_at(m.group(3))
        view = f"{name}__v{v}"
        t.read(version=v).createOrReplaceTempView(view)
        return view

    return _TIME_TRAVEL_RE.sub(sub, sql)


class CommitConflict(RuntimeError):
    """Another writer committed this version first (optimistic-concurrency
    loser; re-read and retry — the analog of a Delta protocol conflict)."""


class ConstraintViolation(ValueError):
    """A commit's batch broke a table CHECK constraint — nothing was
    referenced; the table is unchanged."""


def _merge_schemas(current: T.StructType, incoming: T.StructType) -> T.StructType:
    """Current columns in order (their types win), then new columns.
    NullType incoming columns are stored as string placeholders, the
    writer.py convention (reference varchar(0), mysql.rb:145)."""
    cur = {f.name: f.dataType for f in current.fields}
    fields = list(current.fields)
    for f in incoming.fields:
        if f.name not in cur:
            dtype = T.StringType() if isinstance(f.dataType, T.NullType) else f.dataType
            fields.append(T.StructField(f.name, dtype, True))
    return T.StructType(fields)


def _align(df: DataFrame, schema: T.StructType) -> DataFrame:
    cols = []
    have = {f.name: f.dataType for f in df.schema.fields}
    for f in schema.fields:
        if f.name in have:
            c = F.col(f.name)
            if have[f.name] != f.dataType:
                c = c.cast(f.dataType)
            cols.append(c.alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)


class ManifestTable:
    """A parquet table whose live file set is named by a versioned JSON
    manifest, with atomic commits, partition-pruned MERGE/DELETE,
    snapshot reads, and vacuum."""

    # max distinct merge keys collected for point-set file pruning
    # (driver memory bound; larger batches prune by interval). 64k
    # tuples is a few MB of driver state (bisect keeps the per-file zone
    # test O(log n)); the bounded path answers scope, broadcast-
    # eligibility AND pruning from ONE distinct job where the overflow
    # path pays three (probe + touched-tokens + interval agg) —
    # optimization r8, guide §1.2. Tests lower it per instance.
    _PRUNE_KEYS_BOUND = 65536

    def __init__(self, spark: SparkSession, root: str, table: str):
        self.spark = spark
        self.root = root
        self.table = table
        self.path = os.path.join(root, table)
        # immutable segment files -> safe to cache; bounded (cleared at cap)
        self._seg_cache: dict[str, list[dict]] = {}
        self.segment_target = SEGMENT_TARGET_ENTRIES
        self.dv_broadcast_rows = DV_BROADCAST_ROWS
        self.dv_ratio_warn = DV_RATIO_WARN
        # bloom probe tuples are tested per (file × probe) driver-side,
        # so they keep the tighter classic bound
        self._BLOOM_PROBES_BOUND = 4096

    # -- pointer / manifest IO ----------------------------------------------
    def _pointer_path(self) -> str:
        return os.path.join(self.path, "_current")

    def exists(self) -> bool:
        return os.path.isfile(self._pointer_path())

    def current_version(self) -> int:
        with open(self._pointer_path()) as fh:
            return int(fh.read().strip())

    def _raw(self, version: int | None = None) -> dict:
        """Stored manifest JSON — O(segments) small, NO entry lists loaded.
        Internal planning paths use this so a read never parses metadata
        for partitions it doesn't touch."""
        v = self.current_version() if version is None else version
        p = os.path.join(self.path, f"manifest-v{v}.json")
        if not os.path.isfile(p):
            raise KeyError(f"{self.table}: no manifest version {v}")
        with open(p) as fh:
            return json.load(fh)

    @staticmethod
    def _n_files(m: dict) -> int:
        """Live file count of a raw manifest, from its segment records."""
        if "entries" in m:
            return len(m["entries"])
        return sum(s["n_files"] for s in m["segments"])

    def manifest(self, version: int | None = None) -> dict:
        """Back-compat accessor: the manifest dict with ``entries``
        MATERIALIZED (all segments loaded — O(table metadata); use
        ``_raw``/``_m_entries`` with a partition set for pruned access).
        Entries are per-dict copies so callers can't poison the cache."""
        m = self._raw(version)
        if "entries" not in m:
            m = dict(m)
            m["entries"] = [dict(e) for e in self._m_entries(m)]
        return m

    def versions(self) -> list[int]:
        out = []
        for name in os.listdir(self.path):
            if name.startswith("manifest-v") and name.endswith(".json"):
                out.append(int(name[len("manifest-v"):-len(".json")]))
        return sorted(out)

    def history(self) -> list[dict]:
        """One row per retained version: what the commit did and touched.
        Counts come from segment records — no entry list is loaded."""
        out = []
        for v in self.versions():
            m = self._raw(v)
            if "entries" in m:
                n = len(m["entries"])
                b = sum(e["bytes"] for e in m["entries"])
            else:
                n = sum(s["n_files"] for s in m["segments"])
                b = sum(s["bytes"] for s in m["segments"])
            out.append(
                {
                    "version": v,
                    "operation": m.get("operation"),
                    "committed_at": self._committed_at(v, m),
                    "touched_partitions": m.get("touched_partitions"),
                    "n_files": n,
                    "bytes": b,
                }
            )
        return out

    def _committed_at(self, v: int, m: dict | None = None) -> float:
        """Commit instant (epoch seconds). Manifests predating the r6
        stamp fall back to the manifest file's mtime — same clock, set
        at the same moment the stamped value would have been."""
        m = self._raw(v) if m is None else m
        ts = m.get("committed_at")
        if ts is not None:
            return float(ts)
        return os.path.getmtime(os.path.join(self.path, f"manifest-v{v}.json"))

    def version_at(self, ts) -> int:
        """TIMESTAMP AS OF resolution: the newest retained version
        committed at or before ``ts`` (epoch seconds, datetime, or an
        ISO string — naive strings read as UTC, matching the engine's
        session timezone). Raises KeyError when ``ts`` predates the
        oldest retained commit — vacuumed history can't silently
        resolve to a wrong snapshot."""
        import datetime as _dt

        if isinstance(ts, str):
            ts = _dt.datetime.fromisoformat(ts)
        if isinstance(ts, _dt.datetime):
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=_dt.timezone.utc)
            ts = ts.timestamp()
        ts = float(ts)
        best = None
        for v in self.versions():
            if self._committed_at(v) <= ts and (best is None or v > best):
                best = v
        if best is None:
            raise KeyError(
                f"{self.table}: no version committed at or before {ts}"
            )
        return best

    # -- metadata segments ----------------------------------------------------
    # Entry lists are stored as immutable parquet files under metadata/
    # (the Iceberg manifest-file shape, simplified to one level). The
    # per-version JSON carries one record per segment: path, the set of
    # partition tokens it covers (for pruned loading), and count/byte/row
    # sums (for metadata-only stats). Segments are written and read
    # DRIVER-SIDE with pyarrow — metadata operations never launch a
    # Spark job. Per-entry stats/bloom dicts are JSON-encoded strings so
    # the parquet schema is stable regardless of the table schema.

    def _write_segment(self, entries: list[dict]) -> dict:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rel = os.path.join("metadata", f"seg-{uuid.uuid4().hex[:12]}.parquet")
        recs = [
            {
                "path": e["path"],
                "partition": e["partition"],
                "bucket": e.get("bucket"),
                "bytes": e["bytes"],
                "rows": e.get("rows"),
                "dv": e.get("dv"),
                "dv_rows": e.get("dv_rows"),
                "stats": json.dumps(e["stats"]) if "stats" in e else None,
                "bloom": json.dumps(e["bloom"]) if "bloom" in e else None,
            }
            for e in entries
        ]
        schema = pa.schema(
            [
                ("path", pa.string()),
                ("partition", pa.string()),
                ("bucket", pa.int32()),
                ("bytes", pa.int64()),
                ("rows", pa.int64()),
                ("dv", pa.string()),
                ("dv_rows", pa.int64()),
                ("stats", pa.string()),
                ("bloom", pa.string()),
            ]
        )
        os.makedirs(os.path.join(self.path, "metadata"), exist_ok=True)
        pq.write_table(
            pa.Table.from_pylist(recs, schema=schema),
            os.path.join(self.path, rel),
        )
        record = {
            "path": rel,
            "partitions": sorted(
                {e["partition"] for e in entries},
                key=lambda p: (p is None, p),
            ),
            "n_files": len(entries),
            "bytes": sum(e["bytes"] for e in entries),
        }
        if all("rows" in e for e in entries):
            record["rows"] = sum(e["rows"] for e in entries)
            record["dv_rows"] = sum(e.get("dv_rows", 0) for e in entries)
        seg_stats = self._segment_stats(entries)
        if seg_stats:
            record["stats"] = seg_stats
        self._seg_cache[rel] = [dict(e) for e in entries]
        return record

    @staticmethod
    def _segment_stats(entries: list[dict]) -> dict:
        """SEGMENT-level zone maps: the union range of the member files'
        per-file [min, max] per column (the Iceberg manifest
        partition-summary shape, applied to value columns). A column is
        summarized only when EVERY entry carries stats for it — a
        segment bound that might exclude an unsummarized file would
        prune wrongly. ``{"null": true}`` marks all-files-all-NULL
        (no row can satisfy any range); ``k`` records whether the
        bounds aggregate numerically or lexicographically so the read
        side only prunes when its own comparison kind agrees."""
        if not entries or not all("stats" in e for e in entries):
            return {}
        cols = set(entries[0]["stats"])
        for e in entries[1:]:
            cols &= set(e["stats"])
        out: dict = {}
        for c in cols:
            los: list = []
            his: list = []
            numeric_ok = True
            for e in entries:
                lo, hi = e["stats"][c]
                if lo is None:  # all-NULL file: no range can match it
                    continue
                los.append(lo)
                his.append(hi)
                try:
                    float(lo), float(hi)
                except (TypeError, ValueError):
                    numeric_ok = False
            if not los:
                out[c] = {"null": True}
            elif numeric_ok:
                out[c] = {"k": "n", "lo": min(los, key=float),
                          "hi": max(his, key=float)}
            else:
                out[c] = {"k": "s", "lo": min(map(str, los)),
                          "hi": max(map(str, his))}
        return out

    @staticmethod
    def _seg_where_match(seg: dict, col: str, bound, key) -> bool:
        """Zone-map test (``zonemap.keeps``) of a SEGMENT summary. Kind
        guard: a numeric key prunes only a numerically aggregated
        summary (``k == "n"``), any other key only a lexicographic one;
        a mismatch, like a missing summary, keeps the segment."""
        st = seg.get("stats", {}).get(col)
        if st is None or (
            not st.get("null") and (st["k"] == "n") != (key is float)
        ):
            return True
        stat = zonemap.ALL_NULL if st.get("null") else (st["lo"], st["hi"])
        return zonemap.keeps(stat, *bound, key)

    def _load_segment(self, rel: str) -> list[dict]:
        if rel in self._seg_cache:
            return self._seg_cache[rel]
        import pyarrow.parquet as pq

        out = []
        for r in pq.read_table(os.path.join(self.path, rel)).to_pylist():
            e = {
                "path": r["path"],
                "partition": r["partition"],
                "bytes": r["bytes"],
            }
            if r["bucket"] is not None:
                e["bucket"] = r["bucket"]
            if r["stats"] is not None:
                e["stats"] = json.loads(r["stats"])
            if r["rows"] is not None:
                e["rows"] = r["rows"]
            if r["bloom"] is not None:
                e["bloom"] = json.loads(r["bloom"])
            if r["dv"] is not None:
                e["dv"] = r["dv"]
            if r["dv_rows"] is not None:
                e["dv_rows"] = r["dv_rows"]
            out.append(e)
        if len(self._seg_cache) > 256:
            self._seg_cache.clear()
        self._seg_cache[rel] = out
        return out

    def _pack_segments(self, entries: list[dict]) -> list[dict]:
        """Group entries by partition order and split into target-size
        segments, so partition-pruned reads open few segment files."""
        if not entries:
            return []
        entries = sorted(
            entries,
            key=lambda e: (
                "" if e["partition"] is None else e["partition"],
                e["path"],
            ),
        )
        return [
            self._write_segment(entries[i:i + self.segment_target])
            for i in range(0, len(entries), self.segment_target)
        ]

    @staticmethod
    def _want(partitions: list | None) -> set | None:
        """A partition-value list as directory tokens (NULL_TOKEN for a
        null value); None = every partition."""
        if partitions is None:
            return None
        return {NULL_TOKEN if p is None else str(p) for p in partitions}

    @staticmethod
    def _seg_wanted(seg: dict, want: set | None, seg_ok=None) -> bool:
        """The segment predicate of ``_m_entries``: the segment covers a
        wanted partition and passes ``seg_ok`` (segment zone maps)."""
        return (
            want is None
            or any((p if p is not None else NULL_TOKEN) in want
                   for p in seg["partitions"])
        ) and (seg_ok is None or seg_ok(seg))

    def _m_entries(
        self, m: dict, partitions: set | None = None, seg_ok=None
    ) -> list[dict]:
        """Entry list of a raw manifest. With ``partitions`` (a set of
        string tokens, ``_want``), only segments covering a wanted
        partition are parsed; with ``seg_ok``, only segments it passes
        too — read planning is O(pruned metadata), the point of the
        segment layout. Callers still apply per-file pruning."""
        if "entries" in m:  # legacy inline manifest (pre-segment format)
            es = m["entries"]
        else:
            es = []
            for seg in m["segments"]:
                if self._seg_wanted(seg, partitions, seg_ok):
                    es.extend(self._load_segment(seg["path"]))
        if partitions is not None:
            es = [
                e
                for e in es
                if (e["partition"] if e["partition"] is not None else NULL_TOKEN)
                in partitions
            ]
        return es

    def _commit(self, manifest: dict) -> int:
        """Write the immutable manifest, then atomically swap the pointer.
        The manifest write uses O_EXCL so two racing writers of the same
        next-version fail loudly instead of last-write-wins. Every
        commit is stamped ``committed_at`` (epoch seconds) — the basis
        of TIMESTAMP AS OF resolution."""
        import time as _time

        manifest.setdefault("committed_at", _time.time())
        v = manifest["version"]
        mpath = os.path.join(self.path, f"manifest-v{v}.json")
        try:
            fd = os.open(mpath, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            raise CommitConflict(f"{self.table}: version {v} already committed")
        with os.fdopen(fd, "w") as fh:
            json.dump(manifest, fh)
        tmp = self._pointer_path() + f".tmp{uuid.uuid4().hex[:6]}"
        with open(tmp, "w") as fh:
            fh.write(str(v))
        os.replace(tmp, self._pointer_path())  # atomic on POSIX
        return v

    # -- data-file IO --------------------------------------------------------
    # columns eligible for per-file zone-map stats (numeric/date/ts/string)
    _STATS_TYPES = (
        T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType,
        T.DoubleType, T.DecimalType, T.DateType, T.TimestampType,
        T.StringType,
    )

    def _file_stats(
        self,
        paths_schema: T.StructType,
        files: list[str],
        bloom: dict | None = None,
    ) -> dict:
        """Per-file column min/max (zone maps — the Iceberg manifest-stats
        shape): one extra aggregate pass over the files of the snapshot
        JUST WRITTEN, i.e. O(touched partitions) at commit time, exactly
        like Delta's inline stats collection — never a table scan. Reads
        later skip files whose [min, max] can't satisfy a predicate.

        ``bloom = {"cols": [...], "bits": m, "k": k}`` additionally
        collects a per-file BLOOM FILTER per listed column in the SAME
        aggregate pass: k seeded murmur3 hashes mod m, distinct bit
        positions per file (bounded by m), packed driver-side into a hex
        bitmap ~m/4 chars long. Blooms serve equality lookups on
        high-cardinality columns where [min, max] prunes nothing."""
        cols = [
            f.name
            for f in paths_schema.fields
            if isinstance(f.dataType, self._STATS_TYPES)
        ]
        if not cols or not files:
            return {}
        df = self.spark.read.schema(paths_schema).parquet(*files).select(
            F.input_file_name().alias("__file"), *cols
        )
        aggs = []
        for c in cols:
            aggs.append(F.min(c).cast("string").alias(f"lo_{c}"))
            aggs.append(F.max(c).cast("string").alias(f"hi_{c}"))
        aggs.append(F.count(F.lit(1)).alias("__rows"))
        bcols = [c for c in (bloom or {}).get("cols", []) if c in cols]
        if bloom and bcols:
            m, k = int(bloom["bits"]), int(bloom["k"])
            for c in bcols:
                for i in range(k):
                    aggs.append(
                        F.collect_set(
                            F.pmod(F.hash(F.col(c), F.lit(i)), F.lit(m))
                        ).alias(f"bl_{i}_{c}")
                    )
        out: dict = {}
        for row in df.groupBy("__file").agg(*aggs).collect():
            # normalize the file:// URI to a table-relative key — file
            # BASENAMES collide across partition dirs (the same task id
            # names its file identically in every partition it writes).
            # unquote undoes the URI's percent-encoding of partition dirs
            # (space -> %20 etc.) so the key matches the os.walk entry path.
            key = unquote(os.path.relpath(row["__file"].split("://", 1)[-1], self.path))
            rec = (
                {c: [row[f"lo_{c}"], row[f"hi_{c}"]] for c in cols},
                row["__rows"],
            )
            if bloom and bcols:
                m, k = int(bloom["bits"]), int(bloom["k"])
                blooms = {}
                for c in bcols:
                    bits = bytearray(m // 8)
                    for i in range(k):
                        for pos in row[f"bl_{i}_{c}"] or []:
                            bits[pos // 8] |= 1 << (pos % 8)
                    blooms[c] = bytes(bits).hex()
                rec = rec + (blooms,)
            out[key] = rec
        return out

    @staticmethod
    def _ts_stat_str(dt) -> str:
        """Render a footer timestamp stat exactly like Spark's
        cast-to-string (session tz UTC, trailing fraction zeros
        trimmed) so footer-sourced and scan-sourced bounds stay
        lexicographically comparable."""
        import datetime as _dt

        if dt.tzinfo is not None:
            dt = dt.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        s = dt.strftime("%Y-%m-%d %H:%M:%S")
        if dt.microsecond:
            s += ("." + f"{dt.microsecond:06d}").rstrip("0")
        return s

    @classmethod
    def _stat_str(cls, v) -> str:
        import datetime as _dt

        if isinstance(v, _dt.datetime):
            return cls._ts_stat_str(v)
        if isinstance(v, float):
            return repr(v)  # read side compares numerics via float()
        return str(v)  # int, date (ISO, matches Spark cast), str

    def _file_stats_footer(
        self, paths_schema: T.StructType, files: list[str]
    ) -> dict:
        """Per-file zone maps + row counts from the parquet FOOTERS,
        driver-side with pyarrow — the snapshot just written is never
        re-scanned (at 100 TB the difference between a metadata read
        and a second data pass at every commit). Parquet guarantees the
        footer min/max are valid bounds even when truncated, which is
        all pruning needs. Columns whose footers can't answer (INT96
        timestamps from legacy writers, any chunk missing stats) are
        omitted for that file — reads treat a missing column stat as
        always-match, so the fallback costs selectivity, never
        correctness. DecimalType is handled by the caller via a
        column-pruned Spark pass (pyarrow raises on FLBA decimals)."""
        import pyarrow.parquet as pq

        wanted = [
            f.name
            for f in paths_schema.fields
            if isinstance(f.dataType, self._STATS_TYPES)
            and not isinstance(f.dataType, T.DecimalType)
        ]
        out: dict = {}
        for full in files:
            md = pq.ParquetFile(full).metadata
            names = {
                md.schema.column(i).name: i for i in range(md.num_columns)
            }
            stats: dict = {}
            for col in wanted:
                idx = names.get(col)
                if idx is None:
                    continue
                los: list = []
                his: list = []
                usable = True
                for g in range(md.num_row_groups):
                    rg = md.row_group(g)
                    st = rg.column(idx).statistics
                    if st is None:
                        usable = False
                        break
                    if st.has_min_max:
                        try:
                            los.append(st.min)
                            his.append(st.max)
                        except Exception:
                            usable = False
                            break
                    elif (st.null_count or 0) != rg.num_rows:
                        usable = False  # values present but unbounded
                        break
                if not usable:
                    continue
                if not los:
                    stats[col] = [None, None]  # all-NULL: prunes any range
                else:
                    stats[col] = [
                        self._stat_str(min(los)), self._stat_str(max(his))
                    ]
            out[os.path.relpath(full, self.path)] = (stats, md.num_rows)
        return out

    @staticmethod
    def _bucket_expr(bucket_by: list) -> F.Column:
        """Deterministic key-hash bucket id (Spark murmur3 via F.hash).
        The mapping must be recomputed identically at every commit, so
        the bucket column is always derived from live data with this
        one expression — never persisted logic."""
        col, n = bucket_by
        return F.pmod(F.hash(F.col(col)), F.lit(int(n))).cast("int")

    def _write_snapshot(
        self,
        df: DataFrame,
        partition_by: str | None,
        writer_options: dict | None = None,
        bucket_by: list | None = None,
        bloom: dict | None = None,
    ) -> list[dict]:
        """Write one immutable snapshot dir; return its file entries
        (with per-file zone-map stats). The partition column is
        duplicated into PART_DIR_COL (string) so the data files keep the
        real column (see module docstring); with ``bucket_by`` a second
        key-hash dir level (BUCKET_DIR_COL) sub-divides each partition
        into hash cells. ``bloom`` (None = inherit the table's config)
        collects per-file bloom filters alongside the zone maps."""
        snap = f"snap-{uuid.uuid4().hex[:12]}"
        out = os.path.join(self.path, "data", snap)
        dir_cols = []
        if partition_by:
            df = df.withColumn(PART_DIR_COL, F.col(partition_by).cast("string"))
            dir_cols.append(PART_DIR_COL)
        if bucket_by:
            df = df.withColumn(BUCKET_DIR_COL, self._bucket_expr(bucket_by))
            dir_cols.append(BUCKET_DIR_COL)
        w = df.write.partitionBy(*dir_cols) if dir_cols else df.write
        for k, v in (writer_options or {}).items():
            w = w.option(k, v)
        # write timestamps as TIMESTAMP_MICROS (not Spark's default
        # INT96, which parquet stores WITHOUT column statistics) so the
        # footer-based stats pass below can zone-map timestamp columns
        ts_conf = "spark.sql.parquet.outputTimestampType"
        prev_ts = self.spark.conf.get(ts_conf)
        self.spark.conf.set(ts_conf, "TIMESTAMP_MICROS")
        try:
            w.parquet(out)
        finally:
            self.spark.conf.set(ts_conf, prev_ts)
        entries = []
        for dirpath, _dirs, files in os.walk(out):
            token, bucket = None, None
            for comp in os.path.relpath(dirpath, out).split(os.sep):
                if comp.startswith(f"{PART_DIR_COL}="):
                    token = unquote(comp[len(PART_DIR_COL) + 1:])
                elif comp.startswith(f"{BUCKET_DIR_COL}="):
                    bucket = int(comp[len(BUCKET_DIR_COL) + 1:])
            for name in files:
                if not name.endswith(".parquet"):
                    continue
                full = os.path.join(dirpath, name)
                entry = {
                    "path": os.path.relpath(full, self.path),
                    "partition": token,
                    "bytes": os.path.getsize(full),
                }
                if bucket is not None:
                    entry["bucket"] = bucket
                entries.append(entry)
        if bloom is None and self.exists():
            bloom = self._raw().get("bloom")
        data_schema = df.drop(PART_DIR_COL, BUCKET_DIR_COL).schema
        paths = [os.path.join(self.path, e["path"]) for e in entries]
        if bloom and any(
            c in {f.name for f in data_schema.fields}
            for c in bloom.get("cols", [])
        ):
            # blooms need a real pass over the rows; stats ride along in
            # the same aggregate job as before
            stats = self._file_stats(data_schema, paths, bloom=bloom)
        else:
            # zone maps + row counts from the parquet footers: no second
            # Spark scan of the snapshot at commit time
            stats = self._file_stats_footer(data_schema, paths)
            dec_fields = [
                f for f in data_schema.fields
                if isinstance(f.dataType, T.DecimalType)
            ]
            if dec_fields and paths:
                # pyarrow can't extract FLBA decimal footer stats — one
                # column-pruned Spark pass covers exactly those columns
                extra = self._file_stats(T.StructType(dec_fields), paths)
                for pth, rec in extra.items():
                    if pth in stats:
                        stats[pth][0].update(rec[0])
        for e in entries:
            s = stats.get(e["path"])
            if s:
                e["stats"], e["rows"] = s[0], s[1]
                if len(s) > 2:
                    e["bloom"] = s[2]
        return entries

    @staticmethod
    def _file_stat(entry: dict, col: str):
        """A file's zone-map stat for ``col`` (``zonemap.keeps``):
        None without stats, ALL_NULL for a recorded [None, None]."""
        st = entry.get("stats", {}).get(col)
        return None if st is None else zonemap.ALL_NULL if st[0] is None else st

    def _file_matches(self, entry: dict, col: str, bound, key) -> bool:
        """Can this file hold a row with ``col`` in ``bound``?"""
        return zonemap.keeps(self._file_stat(entry, col), *bound, key)

    def _entries(
        self,
        version: int | None = None,
        partitions: list | None = None,
        where: dict | None = None,
        layers: dict | None = None,
    ) -> list[dict]:
        """The one read plan of a version, shared by ``read``,
        ``files``, ``scan_plan`` and ``explain_read``: the ordered layers
        partitions -> zone maps (``forklift_spark/zonemap.py``) ->
        bucket cell -> bloom. Segments whose SEGMENT zone maps miss the
        ``where`` are never parsed. With ``layers``, every wanted
        partition's segment is parsed instead and each layer's file
        count recorded there; a missed segment's files all miss at the
        file level too, so the planned files are the same."""
        m = self._raw(version)
        want = self._want(partitions)
        where = where or {}
        types = {
            f.name: f.dataType for f in T.StructType.fromJson(m["schema"]).fields
        }
        checks = zonemap.checks(where, types, strict=False)

        def seg_ok(seg: dict) -> bool:
            return all(
                self._seg_where_match(seg, c, (lo, hi), key)
                for c, key, lo, hi in checks
            )

        entries = self._m_entries(m, want, seg_ok if layers is None else None)
        if layers is not None:
            layers["after_partitions"] = len(entries)
            if "entries" not in m:
                layers["segments_total"] = len(m["segments"])
                layers["segments_parsed"] = sum(
                    self._seg_wanted(seg, want, seg_ok) for seg in m["segments"]
                )

        def point(col: str):  # the value of an equality bound, else None
            lo, hi = where.get(col, (None, None))
            return lo if lo is not None and lo == hi else None

        # bucket pruning: an equality bound on the bucket column hashes
        # to exactly one cell per partition
        bb = m.get("bucket_by")
        cell = (
            self._bucket_of_value(bb, point(bb[0]), types.get(bb[0]))
            if bb and point(bb[0]) is not None else None
        )
        # bloom pruning: equality on a bloom column keeps only files
        # whose filter has ALL k probe bits set
        bl = m.get("bloom") or {}
        probes = [
            (c, [self._bloom_positions(
                point(c), types.get(c), bl["bits"], bl["k"])])
            for c in bl.get("cols", [])
            if point(c) is not None
        ]
        for name, keep in (
            ("after_zone_maps", checks and (lambda e: all(
                self._file_matches(e, c, (lo, hi), key)
                for c, key, lo, hi in checks))),
            ("after_bucket", cell is not None and (
                lambda e: e.get("bucket") is None or e["bucket"] == cell)),
            ("after_bloom", probes and (
                lambda e: self._bloom_scope_survives(e, probes))),
        ):
            if keep:
                entries = [e for e in entries if keep(e)]
            if layers is not None:
                layers[name] = len(entries)
        return entries

    def _bloom_positions(self, value, dtype, m: int, k: int) -> list[int]:
        """Probe bit positions of one literal, computed BY SPARK with the
        write path's exact expression (seeded murmur3 mod m)."""
        lit = F.lit(value)
        if dtype is not None:
            lit = lit.cast(dtype)
        row = self.spark.range(1).select(
            *[
                F.pmod(F.hash(lit, F.lit(i)), F.lit(int(m))).alias(f"p{i}")
                for i in range(int(k))
            ]
        ).collect()[0]
        return [row[f"p{i}"] for i in range(int(k))]

    @staticmethod
    def _bloom_probe_exact(src_t, tbl_t) -> bool:
        """True when cast(batch value -> table dtype) provably preserves
        every value that could equi-join a table value, so a bloom probe
        computed on the cast can never miss a real match. Same type is
        always exact; integral<->integral and float<->double widen/narrow
        exactly for in-range matches (out-of-range values cannot match
        at all); decimal<->decimal likewise. Mixed integral-vs-floating
        is EXCLUDED: Spark's join coercion compares in double, where a
        long can match through precision loss (2^53 + 1 == 2.0^53) while
        its cast image hashes differently."""
        if src_t is None or tbl_t is None:
            return False
        if src_t == tbl_t:
            return True
        integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        floating = (T.FloatType, T.DoubleType)
        for fam in (integral, floating, (T.DecimalType,), (T.StringType,)):
            if isinstance(src_t, fam) and isinstance(tbl_t, fam):
                return True
        return False

    @staticmethod
    def _bloom_scope_survives(entry: dict, bloom_checks: list) -> bool:
        """Bloom test of the read plan and the merge scope: drop the
        file only when, for some column with a recorded bloom, NO probe
        tuple (one per batch key; one for a read's equality bound) is
        fully set (no false negatives — probe and build share the exact
        seeded-murmur3 expression). Bloom-less entries always stay."""
        blm = entry.get("bloom") or {}
        for col, probes in bloom_checks:
            hx = blm.get(col)
            if hx is None:
                continue
            bits = bytes.fromhex(hx)
            if not any(
                all(bits[p // 8] & (1 << (p % 8)) for p in tpl)
                for tpl in probes
            ):
                return False
        return True

    def scan_plan(
        self,
        version: int | None = None,
        partitions: list | None = None,
        where: dict | None = None,
    ) -> dict:
        """EXPLAIN for the table format: how many files each pruning
        layer (partition list -> zone maps -> bucket cell -> bloom) of
        the read plan (``_entries``) keeps, and how many metadata
        segments the same read parses (``segments_parsed``), from
        manifest metadata alone — no file opened, no job run. The
        observability hook for "why is this query scanning so much":
        compare ``layers`` to spot the missing filter/bloom/bucket."""
        return self._explain(version, partitions, where)[0]

    def _explain(self, version, partitions, where) -> tuple[dict, list, dict]:
        """(scan_plan, planned entries, raw manifest) of one pass."""
        m = self._raw(version)
        layers = {"total": self._n_files(m)}
        entries = self._entries(m["version"], partitions, where, layers)
        rows = (
            sum(e["rows"] - e.get("dv_rows", 0) for e in entries)
            if all("rows" in e for e in entries)
            else None
        )
        return {
            "version": m["version"],
            "layers": layers,
            "files_planned": len(entries),
            "bytes_planned": sum(e["bytes"] for e in entries),
            "rows_upper_bound": rows,
            "skip_ratio": round(1 - len(entries) / max(1, layers["total"]), 4),
        }, entries, m

    def explain_read(
        self,
        version: int | None = None,
        partitions: list | None = None,
        where: dict | None = None,
    ) -> dict:
        """Operator-facing plan observability (VERDICT r7 item 6): the
        pruning-layer breakdown ``scan_plan`` reports PLUS the stat-less
        per-column counters a read records (with its degraded-pruning
        warning) — one planning pass over manifest metadata, no job
        run. Surfaced by the CLI as ``manifest scan-plan``."""
        plan, entries, m = self._explain(version, partitions, where)
        plan["stat_less"] = self._read_stats(m, entries, where)["stat_less"]
        return plan

    def _bucket_of_value(self, bucket_by: list, value, dtype) -> int:
        """Bucket id of one literal, computed BY SPARK (the only engine
        whose murmur3 must agree with the write path), typed as the
        table column. One 1-row job — bounded driver scalar."""
        col, n = bucket_by
        lit = F.lit(value)
        if dtype is not None:
            lit = lit.cast(dtype)
        row = self.spark.range(1).select(
            F.pmod(F.hash(lit), F.lit(int(n))).cast("int").alias("b")
        ).collect()
        return row[0]["b"]

    def files(
        self,
        version: int | None = None,
        partitions: list | None = None,
        where: dict | None = None,
    ) -> list[str]:
        """Absolute data-file paths for a version, optionally pruned by a
        partition-value list and/or zone-map predicates ``where = {col:
        (lo, hi)}`` (closed interval, either bound None): files whose
        recorded [min, max] can't intersect are never even listed for
        the scan — manifest-level data skipping, by the typed rule in
        ``forklift_spark/zonemap.py``."""
        return [
            os.path.join(self.path, e["path"])
            for e in self._entries(version, partitions, where)
        ]

    def schema(self, version: int | None = None) -> T.StructType:
        return T.StructType.fromJson(self._raw(version)["schema"])

    def _read_entries(
        self,
        entries: list[dict],
        schema: T.StructType,
        keep_ref: bool = False,
    ) -> DataFrame:
        """Live rows of exactly these manifest entries: scan their files
        and anti-join away deletion-vector positions. The dv join is
        broadcast while the manifest-recorded dv row total stays small,
        else a shuffled join — either way O(scan + |dv|), never a
        rewrite. ``keep_ref`` keeps the (``__ref``, ``__pos``) identity
        columns for callers that need row positions (dv computation)."""
        if not entries:
            df = self.spark.createDataFrame([], schema)
            if keep_ref:
                df = df.withColumn("__ref", F.lit(None).cast("string")).withColumn(
                    "__pos", F.lit(None).cast("bigint")
                )
            return df
        paths = [os.path.join(self.path, e["path"]) for e in entries]
        df = self.spark.read.schema(schema).parquet(*paths)
        dv_dirs = sorted({e["dv"] for e in entries if e.get("dv")})
        if not dv_dirs and not keep_ref:
            return df
        if dv_dirs or keep_ref:
            df = df.withColumn("__ref", _file_ref()).withColumn(
                "__pos", F.col("_metadata.row_index")
            )
        if dv_dirs:
            dv = self.spark.read.schema(_DV_SCHEMA).parquet(
                *[os.path.join(self.path, d) for d in dv_dirs]
            ).select("file_ref", "pos")
            # positions only ever GROW per live file (deletes accumulate;
            # rewrites change the file ref), so a shared dv dir referenced
            # by several entries at different commit ages contributes only
            # duplicate/stale-subset pairs — harmless to an anti-join
            dv_total = sum(e.get("dv_rows", 0) for e in entries)
            if dv_total <= self.dv_broadcast_rows:
                dv = F.broadcast(dv)
            else:
                # surface the degradation AT READ TIME, not only in
                # fsck: past the bound every read pays a shuffled
                # anti-join until maintenance folds the masks back in
                import logging

                logging.getLogger(__name__).warning(
                    "%s: %d deletion-vector rows exceed the broadcast "
                    "bound (%d) — this read shuffles the dv anti-join; "
                    "run maintain() or compact(auto_dv=True)",
                    self.table, dv_total, self.dv_broadcast_rows,
                )
            df = df.join(
                dv,
                (df["__ref"] == dv["file_ref"]) & (df["__pos"] == dv["pos"]),
                "left_anti",
            )
        if not keep_ref:
            df = df.drop("__ref", "__pos")
        return df

    def _read_stats(self, m: dict, entries: list[dict], where: dict | None) -> dict:
        """Planning counters of one read (``zonemap.read_stats``,
        which warns when pruning on a ``where`` column degraded to a
        full scan, e.g. stat-less entries after a legacy upgrade;
        ``compact()`` rewrites them with footer stats)."""
        return zonemap.read_stats(
            self.table, self._n_files(m), entries, list(where or {}),
            self._file_stat, lambda e: e.get("bytes", 0),
        )

    def read(
        self,
        version: int | None = None,
        partitions: list | None = None,
        where: dict | None = None,
    ) -> DataFrame:
        """Snapshot read: exactly the files the manifest names, with the
        manifest schema (files predating a column NULL-fill it). With
        ``where``, zone maps skip files at plan time
        (``forklift_spark/zonemap.py``) AND the row-level interval filter
        is applied, so results are correct whether or not a file carries
        stats. Planning counters land on ``self.last_read_stats``."""
        m = self._raw(version)
        entries = self._entries(m["version"], partitions, where)
        self.last_read_stats = self._read_stats(m, entries, where)
        df = self._read_entries(entries, T.StructType.fromJson(m["schema"]))
        return zonemap.filter_where(df, where)

    # -- commits --------------------------------------------------------------
    def create(
        self,
        df: DataFrame,
        partition_by: str | None = None,
        bucket_by: tuple[str, int] | None = None,
        bloom_cols: list[str] | None = None,
        bloom_bits: int = 4096,
        bloom_hashes: int = 5,
        constraints: dict[str, str] | None = None,
    ) -> dict:
        """Initial snapshot (version 1). ``bucket_by=(col, n)`` lays
        every partition out as ``n`` key-hash cells; when the merge key
        contains the bucket column, MERGE then touches only the cells
        the source keys hash into — O(touched cells), the finest-grained
        write unit — and point-lookup reads prune to one cell. The hash
        is Spark's murmur3 (stable across commits on one engine
        version); changing ``n`` requires a fresh table.

        ``bloom_cols`` collects a per-file bloom filter per listed
        column at every commit (k seeded hashes over ``bloom_bits``
        bits, ~bits/4 hex chars per file per column in the manifest):
        equality reads on those columns prune files the bloom proves
        absent — the skipping tool for high-cardinality identifiers
        where [min, max] zone maps and partition dirs can't help.

        ``constraints = {name: sql_expr}`` declares CHECK constraints
        (the Delta `ALTER TABLE ADD CONSTRAINT` shape): every commit
        that introduces rows validates its BATCH against each
        expression in one aggregate pass (O(batch), never a table
        rescan) and raises ``ConstraintViolation`` before anything is
        referenced. SQL three-valued semantics: NULL passes, only
        FALSE violates."""
        if self.exists():
            raise FileExistsError(f"{self.table} already exists")
        constraints = dict(constraints) if constraints else None
        if constraints:
            self._enforce_constraints(constraints, df, "create")
        os.makedirs(self.path, exist_ok=True)
        bucket_by = list(bucket_by) if bucket_by else None
        bloom = (
            {"cols": list(bloom_cols), "bits": int(bloom_bits),
             "k": int(bloom_hashes)}
            if bloom_cols
            else None
        )
        entries = self._write_snapshot(
            df, partition_by, bucket_by=bucket_by, bloom=bloom
        )
        v = self._commit(
            {
                "version": 1,
                "operation": "create",
                "partition_by": partition_by,
                "bucket_by": bucket_by,
                "bloom": bloom,
                "constraints": constraints,
                "schema": df.schema.jsonValue(),
                "touched_partitions": sorted({e["partition"] or "" for e in entries}),
                "segments": self._pack_segments(entries),
            }
        )
        return {"version": v, "files_written": len(entries)}

    # -- CHECK constraints ------------------------------------------------
    @staticmethod
    def _enforce_constraints(
        constraints: dict[str, str] | None, df: DataFrame, op: str
    ) -> None:
        """One aggregate pass over the batch counting rows where each
        expression is FALSE (NULL = unknown = passes, SQL CHECK
        semantics). Raises ConstraintViolation naming every failed
        constraint with its violation count."""
        if not constraints:
            return
        aggs = [
            F.sum(
                F.when(~F.coalesce(F.expr(expr), F.lit(True)), 1).otherwise(0)
            ).alias(name)
            for name, expr in constraints.items()
        ]
        row = df.agg(*aggs).collect()[0]
        bad = {
            name: int(row[name] or 0)
            for name in constraints
            if (row[name] or 0) > 0
        }
        if bad:
            detail = "; ".join(
                f"{name} ({constraints[name]!r}): {n} row(s)"
                for name, n in bad.items()
            )
            raise ConstraintViolation(f"{op} rejected by CHECK: {detail}")

    def set_constraint(self, name: str, expr: str, max_retries: int = 0) -> dict:
        """Add (or replace) a CHECK constraint as a metadata-only commit
        — but FIRST validate the whole live table against it (the Delta
        ADD CONSTRAINT contract: an invariant must hold before it can
        be promised). O(table) scan once at declaration; every later
        commit pays only O(batch)."""
        def compute(cur: dict) -> dict:
            cons = dict(cur.get("constraints") or {})
            cons[name] = expr
            live = self._read_entries(
                self._m_entries(cur), T.StructType.fromJson(cur["schema"])
            )
            self._enforce_constraints({name: expr}, live, "set_constraint")
            return {
                "operation": "set-constraint",
                "schema": T.StructType.fromJson(cur["schema"]),
                "touched": [],
                "replaced": set(),
                "no_rebase": True,
                "entries": [],
                "constraints_update": cons,
                "stats": {"constraint": name},
            }

        return self._occ(compute, max_retries)

    def drop_constraint(self, name: str, max_retries: int = 0) -> dict:
        def compute(cur: dict) -> dict:
            cons = dict(cur.get("constraints") or {})
            cons.pop(name, None)
            return {
                "operation": "drop-constraint",
                "schema": T.StructType.fromJson(cur["schema"]),
                "touched": [],
                "replaced": set(),
                "no_rebase": True,
                "entries": [],
                "constraints_update": cons or None,
                "stats": {"constraint": name},
            }

        return self._occ(compute, max_retries)

    def _touched_tokens(self, df: DataFrame, partition_by: str) -> list[str]:
        # bounded driver scalar: one string per touched partition (the
        # commit must name them in the manifest anyway — same class as HWM)
        rows = (
            df.select(F.col(partition_by).cast("string").alias("p"))
            .distinct()
            .collect()
        )
        return sorted(NULL_TOKEN if r.p is None else r.p for r in rows)

    # -- generic optimistic-concurrency commit ---------------------------------
    def _overlaps(self, from_version: int, head_version: int, touched) -> bool:
        """Did any commit in (from_version, head_version] touch one of
        our partitions — or replace the table wholesale? Conservative on
        vacuumed history."""
        tset = set(touched)
        for v in range(from_version + 1, head_version + 1):
            try:
                m = self._raw(v)
            except KeyError:
                return True  # vacuumed history: be conservative
            op = str(m.get("operation") or "")
            if (
                m.get("full_replace")
                or op in ("overwrite", "alter-layout")
                or op.startswith("restore")
            ):
                return True
            if set(m.get("touched_partitions") or []) & tset:
                return True
        return False

    def _occ(self, compute, max_retries: int) -> dict:
        """Run ``compute(cur_raw) -> computed`` and commit, with the
        Delta-shape optimistic-concurrency loop shared by EVERY mutating
        operation (merge, delete, delete_keys, compact, overwrite,
        alter_layout, checkpoint). Losing a race raises CommitConflict
        unless ``max_retries > 0``; then, when every intervening commit
        touched DISJOINT partitions, the loser REBASES — its
        already-written data files are re-referenced against the new
        head with zero recompute (carry is by REPLACED PATHS, so a
        bucketed commit never drops same-partition/other-cell files).
        Overlapping or full-replace interveners force a recompute from
        the new head. ``computed`` may instead be ``{"noop": stats}``."""
        attempt = 0
        while True:
            cur = self._raw()
            computed = compute(cur)
            if "noop" in computed:
                return computed["noop"]
            try:
                return self._commit_computed(cur, computed)
            except CommitConflict:
                if attempt >= max_retries:
                    raise
                attempt += 1
                if computed.get("no_rebase"):
                    continue  # outer loop recomputes from the new head
                while True:
                    head = self._raw()
                    if self._overlaps(
                        cur["version"], head["version"], computed["touched"]
                    ):
                        break  # outer loop recomputes from the new head
                    try:
                        return self._commit_computed(head, computed, rebase=True)
                    except CommitConflict:
                        if attempt >= max_retries:
                            raise
                        attempt += 1

    def _assemble_segments(self, base: dict, computed: dict) -> list[dict]:
        """Segment records for the next version: carry base segments the
        commit didn't touch BY REFERENCE (zero metadata IO — checked
        against the touched-partition list first, so untouched
        partitions' segments are never even parsed), rewrite broken
        segments minus the replaced paths, and pack residue + new
        entries into fresh segments. Metadata write is O(delta)."""
        replaced = computed.get("replaced") or set()
        carried: list[dict] = []
        residue: list[dict] = []
        if not computed.get("replace_all"):
            tset = set(computed["touched"])
            match_all = "" in tset  # unpartitioned scope touches everything
            if "entries" in base:  # legacy inline manifest: pack everything
                residue.extend(
                    dict(e) for e in base["entries"] if e["path"] not in replaced
                )
            else:
                for seg in base.get("segments", []):
                    if not self._seg_wanted(seg, None if match_all else tset):
                        carried.append(seg)
                        continue
                    es = self._load_segment(seg["path"])
                    if replaced and any(e["path"] in replaced for e in es):
                        residue.extend(
                            e for e in es if e["path"] not in replaced
                        )
                    else:
                        carried.append(seg)
        segments = carried + self._pack_segments(residue + list(computed["entries"]))
        # inline metadata maintenance: many small segments (residue churn)
        # merge into target-size ones — O(small), amortized O(delta)
        small = [s for s in segments if s["n_files"] * 4 < self.segment_target]
        if len(small) > SEGMENT_MERGE_SMALL:
            smallset = {s["path"] for s in small}
            merged: list[dict] = []
            for s in small:
                merged.extend(self._load_segment(s["path"]))
            segments = [
                s for s in segments if s["path"] not in smallset
            ] + self._pack_segments(merged)
        return segments

    def _commit_computed(self, base: dict, computed: dict, rebase: bool = False) -> dict:
        schema = computed["schema"]
        if rebase:
            # keep the winner's schema evolution visible: commit the
            # union of the head schema and ours
            schema = _merge_schemas(T.StructType.fromJson(base["schema"]), schema)
        layout = computed.get("layout")
        segments = self._assemble_segments(base, computed)
        mdoc = {
            "version": base["version"] + 1,
            "operation": computed["operation"],
            "partition_by": (
                layout["partition_by"] if layout else base["partition_by"]
            ),
            "bucket_by": layout["bucket_by"] if layout else base.get("bucket_by"),
            "bloom": layout["bloom"] if layout else base.get("bloom"),
            "constraints": (
                computed["constraints_update"]
                if "constraints_update" in computed
                else base.get("constraints")
            ),
            "schema": schema.jsonValue(),
            "touched_partitions": computed["touched"],
            "segments": segments,
        }
        if computed.get("full_replace"):
            mdoc["full_replace"] = True
        v = self._commit(mdoc)
        total = sum(s["n_files"] for s in segments)
        return {
            "version": v,
            "touched_partitions": computed["touched"],
            "files_carried": total - len(computed["entries"]),
            **computed.get("stats", {}),
        }

    # -- the keyed commit (module docstring) -------------------------------
    def merge(
        self,
        source: DataFrame,
        on: str | list[str],
        broadcast_threshold: int = 2_000_000,
        max_retries: int = 0,
        use_dv: bool = False,
    ) -> dict:
        """Upsert ``source`` by key: matched keys are replaced by the
        source row (reference DELETE IN + INSERT, mysql.rb:82-87);
        unmatched source rows insert. ``apply_changes(source, None)``
        committed as ``merge``; scope, ``use_dv``, the noop rule and OCC
        tokens are the keyed commit's (module docstring)."""
        return self._keyed_commit(
            source, None, on, use_dv, broadcast_threshold, max_retries, "merge"
        )

    def delete_keys(
        self,
        keys: DataFrame,
        on: str | list[str],
        use_dv: bool = True,
        broadcast_threshold: int = 2_000_000,
        max_retries: int = 0,
    ) -> dict:
        """Set-based delete: remove every live row whose key appears in
        ``keys`` (the GDPR purge-list / CDC tombstone shape — a
        DataFrame, never a driver-side literal list).
        ``apply_changes(None, keys)`` committed as ``delete``; ``keys``
        without the partition column scope the whole live set (module
        docstring). Default is deletion vectors."""
        return self._keyed_commit(
            None, keys, on, use_dv, broadcast_threshold, max_retries, "delete"
        )

    def apply_changes(
        self,
        upserts: DataFrame,
        tombstones: DataFrame | None,
        on: str | list[str],
        use_dv: bool = True,
        broadcast_threshold: int = 2_000_000,
        max_retries: int = 0,
    ) -> dict:
        """Apply a CDC batch — upsert rows AND tombstone keys — as ONE
        atomic commit (the CDC-replication apply shape). Compared to a
        merge followed by delete_keys this halves version churn and,
        more importantly, removes the window where a reader sees the
        batch's inserts without its deletes: readers observe whole
        batches or nothing.

        ``tombstones`` holds the key columns, plus optionally the
        table's partition/bucket columns for a pruned delete scope.
        Default is deletion vectors: matched and tombstoned rows are
        masked (zero rewrites), upserts append as new files. The probe,
        the tail, the noop rule and the OCC tokens are the keyed
        commit's (module docstring)."""
        return self._keyed_commit(
            upserts, tombstones, on, use_dv, broadcast_threshold, max_retries,
            "apply-changes",
        )

    def _keyed_commit(
        self,
        upserts: DataFrame | None,
        tombstones: DataFrame | None,
        on: str | list[str],
        use_dv: bool,
        broadcast_threshold: int,
        max_retries: int,
        op: str,
    ) -> dict:
        pk = [on] if isinstance(on, str) else list(on)

        def compute(cur: dict) -> dict:
            sides = self._probe_sides(cur, [upserts, tombstones], pk)
            # (frame, touched tokens, scope entries, pk rows) per non-empty side
            live = [
                (df, *side[1:])
                for df, side in zip((upserts, tombstones), sides) if side[0]
            ]
            have_ups = sides[0][0]
            cur_schema = T.StructType.fromJson(cur["schema"])
            schema = (
                cur_schema if upserts is None
                else _merge_schemas(cur_schema, upserts.schema)
            )
            if have_ups:
                self._enforce_constraints(
                    cur.get("constraints"), upserts, op.replace("-", "_")
                )
            # combined scope: each side's cells, each file listed once
            scope = {e["path"]: e for side in live for e in side[2]}
            keys = None
            if live:
                # one key frame masks both classes: upserted keys
                # (replaced by the new rows) and tombstoned keys (just
                # removed), cast to the table's key dtypes; every side's
                # probe bounded -> their driver-side union, deduped
                # (order-stable) into a local relation with zero jobs
                rows = [side[3] for side in live]
                combined = (
                    None if None in rows
                    else list(dict.fromkeys(t for r in rows for t in r))
                )
                raw = live[0][0] if len(live) == 1 else functools.reduce(
                    DataFrame.unionByName, [side[0].select(*pk) for side in live]
                )
                rf = {f.name: f.dataType for f in raw.schema.fields}
                tf = {f.name: f.dataType for f in schema.fields}
                target = raw if all(rf[k] == tf[k] for k in pk) else raw.select(
                    *[F.col(k).cast(tf[k]).alias(k) for k in pk]
                )
                keys = self._key_frame(
                    combined, raw, target, pk, broadcast_threshold
                )
            return self._mask_or_rewrite(
                cur, schema, list(scope.values()),
                {p for side in live for p in side[1]},
                lambda df: df.join(keys, pk, "left_semi"),
                lambda df: df.join(keys, pk, "left_anti"),
                _align(upserts, schema) if have_ups else None,
                use_dv, op,
            )

        return self._occ(compute, max_retries)

    @staticmethod
    def _noop(cur: dict) -> dict:
        return {
            "noop": {"version": cur["version"], "touched_partitions": [],
                     "files_rewritten": 0, "files_written": 0,
                     "rows_masked": 0}
        }

    def _mask_or_rewrite(
        self, cur: dict, schema: T.StructType, old: list[dict],
        touched: set[str] | list[str], drop, keep, append: DataFrame | None,
        use_dv: bool, op: str,
    ) -> dict:
        """The keyed commit's one tail (module docstring). dv mode masks
        ``drop(live scope rows)`` and appends ``append``; rewrite mode
        writes ``keep(scope rows aligned to schema) ∪ append`` in place
        of the scope. ``touched`` are the pruned sides' probe tokens."""
        if not old and append is None:
            return self._noop(cur)
        cur_schema = T.StructType.fromJson(cur["schema"])
        part, bucket = cur["partition_by"], cur.get("bucket_by")
        if use_dv:
            gone, masked = [], 0
            if old:
                hits = drop(
                    self._read_entries(old, cur_schema, keep_ref=True)
                ).select(F.col("__ref").alias("file_ref"), F.col("__pos").alias("pos"))
                gone, _paths, _parts, masked = self._dv_masked_entries(old, hits)
            written = (
                [] if append is None
                else self._write_snapshot(append, part, bucket_by=bucket)
            )
            if not gone and not written:
                return self._noop(cur)
            stats = {
                "files_rewritten": 0,  # old files stay live under dv masks
                "files_written": len(written),  # appended only
                "files_scanned": len(old),  # after key zone-map pruning
                "rows_masked": masked,
            }
        else:
            out = keep(_align(self._read_entries(old, cur_schema), schema))
            if append is not None:
                out = out.unionByName(append)
            written = self._write_snapshot(out, part, bucket_by=bucket)
            gone = old
            stats = {"files_rewritten": len(old), "files_written": len(written)}
        return {
            "operation": f"{op}+dv" if use_dv else op,
            "schema": schema,
            "touched": sorted(
                set(touched) | {e["partition"] or "" for e in gone + written}
            ),
            # masked entries keep their paths: either way the commit
            # replaces exactly the files in ``gone``
            "replaced": {e["path"] for e in gone},
            "entries": (gone if use_dv else []) + written,
            "stats": stats,
        }

    def _probe_sides(
        self, cur: dict, frames: list[DataFrame | None], pk: list[str]
    ) -> list[tuple[bool, list[str], list[dict], list | None]]:
        """The keyed commit's one scope probe: per frame of ``frames``
        (``[upserts, tombstones]``, either may be None) the tuple
        (non-empty, touched tokens, scope entries, distinct pk tuples or
        None). The scope is the minimal file set a side must consult —
        its partitions, cut to the key-hash CELLS its keys land in when the
        table is bucketed on a key column, further cut by key ZONE-MAP
        and bloom pruning (``_scope_prep`` / ``_scope_from_rows``).

        Each frame probes ``distinct().limit(bound + 1)`` of its probe
        columns under a ``__side`` tag (so emptiness always comes from
        the probe, and per-side boundedness stays exact); frames whose
        probe columns agree in names and types are unioned and collected
        in ONE action under ``_probe_conf`` — their shuffle stages run
        concurrently — and a frame of another shape gets its own. A
        tombstone frame without the partition column probes its key
        columns only and scopes the whole live set, with no tokens."""
        bound = self._PRUNE_KEYS_BOUND
        keys_only = {**cur, "partition_by": None, "bucket_by": None, "bloom": None}
        preps: dict[int, tuple] = {}
        groups: dict[tuple, list[DataFrame]] = {}
        for i, df in enumerate(frames):
            if df is None:
                continue
            full = i > 0 and cur["partition_by"] not in (None, *df.columns)
            prep = self._scope_prep(keys_only if full else cur, df, pk)
            # the probe columns' names and types, read off the prep (no
            # analysis round trip): layout columns, then the key columns
            # with the frame's own dtypes, then bloom positions
            dtypes = {f.name: f.dataType for f in df.schema.fields}
            shape = (full, tuple(prep[2]),
                     tuple((k, dtypes[k]) for k, _n in prep[1]))
            q = df.select(F.lit(i).alias("__side"), *prep[0])
            groups.setdefault(shape, []).append(q.distinct().limit(bound + 1))
            preps[i] = (full, prep)
        rows: dict[int, list] = {i: [] for i in preps}
        with _probe_conf(self.spark):
            for qs in groups.values():
                for r in functools.reduce(DataFrame.unionByName, qs).collect():
                    rows[r["__side"]].append(r)
        out = []
        for i, df in enumerate(frames):
            got = rows.get(i)
            if not got:
                out.append((False, [], [], []))
                continue
            full, (_sel, prune_cols, bl_cols, k_hash) = preps[i]
            bounded = got if len(got) <= bound else None
            if full:
                pk_rows = self._pk_rows(bounded, prune_cols, pk)
                out.append((True, [], self._m_entries(cur), pk_rows))
            else:
                out.append((True, *self._scope_from_rows(
                    cur, df, pk, prune_cols, bl_cols, k_hash, bounded
                )))
        return out

    def _scope_prep(
        self, cur: dict, source: DataFrame, pk: list[str]
    ) -> tuple[list, list[tuple[str, bool]], list[tuple[int, str]], int]:
        """The probe SELECT list for ``_probe_sides`` (partition token,
        bucket cell, prune-eligible key columns, bloom probe positions)
        plus the metadata needed to interpret its rows. For a bounded
        batch ONE distinct job answers all the scope questions at once:
        touched partitions, touched cells, the key point set, AND (when
        the table blooms a key column) each key's bloom probe positions
        — so bloom membership prunes files INSIDE overlapping key
        ranges, where hash-distributed keys make zone maps useless."""
        partition_by = cur["partition_by"]
        bucket_by = cur.get("bucket_by")
        bucketed = bool(bucket_by) and bucket_by[0] in pk
        prune_cols = self._prune_eligible(cur, source, pk)

        # bloom-probe eligibility: key columns the table blooms, whose
        # batch->table cast provably preserves every join-matching value
        # (same type / both integral / both floating / both decimal /
        # both string — a long-vs-double mix can join-match through
        # precision loss, so it is excluded). The probe positions ride
        # the SAME distinct job below as extra functional columns —
        # zero additional jobs.
        bl = cur.get("bloom") or {}
        bl_cols: list[tuple[int, str]] = []
        tmap = {
            f.name: f.dataType
            for f in T.StructType.fromJson(cur["schema"]).fields
        }
        if bl.get("cols") and prune_cols:
            smap = {f.name: f.dataType for f in source.schema.fields}
            for i, (k, _n) in enumerate(prune_cols):
                if k in bl["cols"] and self._bloom_probe_exact(
                    smap.get(k), tmap.get(k)
                ):
                    bl_cols.append((i, k))
        m_bits = int(bl["bits"]) if bl else 0
        k_hash = int(bl["k"]) if bl else 0

        sel = []
        if partition_by:
            sel.append(F.col(partition_by).cast("string").alias("__p"))
        if bucketed:
            sel.append(self._bucket_expr(bucket_by).alias("__b"))
        sel += [
            F.col(k).alias(f"__k{i}") for i, (k, _n) in enumerate(prune_cols)
        ]
        if bl_cols:
            for i, k in bl_cols:
                cast_col = F.col(k).cast(tmap[k])
                for h in range(k_hash):
                    # exact write-path expression (_file_stats): seeded
                    # murmur3 mod m — probe and build must agree bit-for-bit
                    sel.append(
                        F.pmod(F.hash(cast_col, F.lit(h)), F.lit(m_bits))
                        .alias(f"__h{h}_{i}")
                    )
        return sel, prune_cols, bl_cols, k_hash

    def _scope_from_rows(
        self,
        cur: dict,
        source: DataFrame,
        pk: list[str],
        prune_cols: list[tuple[str, object]],
        bl_cols: list[tuple[int, str]],
        k_hash: int,
        rows: list | None,
    ) -> tuple[list[str], list[dict], list | None]:
        """(touched tokens, scope entries, pk rows) from an
        already-collected (or overflowed: ``rows is None``) probe. A
        file whose recorded [min, max] on any key column cannot hold a
        batch key provably holds no equi-join match, so it carries by
        reference unscanned (the Delta MERGE prune shape). On overflow
        the bucketed/unbucketed branches re-collect a coarse cell/bucket
        probe and pruning falls back to one [min, max] interval per key.
        Only touched partitions' metadata segments are parsed; driver
        state stays bounded by the probe limit."""
        partition_by = cur["partition_by"]
        bucket_by = cur.get("bucket_by")
        bucketed = bool(bucket_by) and bucket_by[0] in pk
        # the probe's own rows (snapshot before the overflow branches
        # below reassign ``rows`` to a coarse collect that says nothing
        # about key distinctness — ADVICE r8 high)
        probe_rows = rows

        # point-set checks: (col, key, sorted keyed batch values). A
        # single interval can't cut the mixed update+insert CDC batch
        # (one old key + one new key spans the whole table); the set can.
        checks = []
        bloom_checks = []
        if rows is not None:
            for i, (k, key) in enumerate(prune_cols):
                vals = sorted(
                    {key(r[f"__k{i}"]) for r in rows if r[f"__k{i}"] is not None}
                )
                if vals:
                    checks.append((k, key, vals))
            # per-column probe tuples (one k-position tuple per distinct
            # non-NULL batch key): NULL keys never equi-join, and a
            # cast-nulled probe tuple can only keep extra files, never
            # drop a file holding a real match (whose own probe is exact)
            # bloom membership is tested per (file × probe tuple) on the
            # driver — bounded separately so a wide (but still point-set
            # prunable) batch never turns scope planning CPU-quadratic;
            # zone maps cover it instead
            if len(rows) <= self._BLOOM_PROBES_BOUND:
                for i, k in bl_cols:
                    probes = sorted(
                        {
                            tuple(r[f"__h{h}_{i}"] for h in range(k_hash))
                            for r in rows
                            if r[f"__k{i}"] is not None
                        }
                    )
                    if probes and not any(None in t for t in probes):
                        bloom_checks.append((k, probes))

        if partition_by and bucketed:
            if rows is None:  # unbounded batch: coarse cells only
                rows = (
                    source.select(
                        F.col(partition_by).cast("string").alias("__p"),
                        self._bucket_expr(bucket_by).alias("__b"),
                    )
                    .distinct()
                    .collect()
                )
            # exact touched CELLS — strictly tighter than the cartesian
            # of touched partitions x touched buckets
            cells = {
                (r["__p"] if r["__p"] is not None else NULL_TOKEN, r["__b"])
                for r in rows
            }
            touched = sorted({p for p, _b in cells})
            parts = {p for p, _b in cells}

            def in_scope(e: dict) -> bool:
                if e.get("bucket") is None:  # untagged legacy file
                    return e["partition"] in parts
                return (e["partition"], e["bucket"]) in cells

        elif partition_by:
            if rows is not None:
                touched = sorted(
                    {r["__p"] if r["__p"] is not None else NULL_TOKEN
                     for r in rows}
                )
            else:
                touched = self._touched_tokens(source, partition_by)
            tset = set(touched)

            def in_scope(e: dict) -> bool:
                return e["partition"] in tset

        elif bucketed:
            if rows is None:
                rows = (
                    source.select(self._bucket_expr(bucket_by).alias("__b"))
                    .distinct()
                    .collect()
                )
            touched = [""]
            bset = {r["__b"] for r in rows}

            def in_scope(e: dict) -> bool:
                return e.get("bucket") is None or e["bucket"] in bset

        else:
            touched = [""]  # unpartitioned, unbucketed: O(table) fallback

            def in_scope(e: dict) -> bool:
                return True

        scope_parts = set(touched) if partition_by else None
        old = [e for e in self._m_entries(cur, scope_parts) if in_scope(e)]
        if checks:
            old = [e for e in old if self._zone_survives(e, checks)]
        elif prune_cols and rows is None:
            old = self._prune_interval(source, prune_cols, old)
        if bloom_checks:
            # prunes INSIDE overlapping key ranges (hash-distributed keys
            # never separate by [min, max]); zone maps run first because
            # they're cheaper per entry
            old = [
                e for e in old if self._bloom_scope_survives(e, bloom_checks)
            ]
        return touched, old, self._pk_rows(probe_rows, prune_cols, pk)

    @staticmethod
    def _pk_rows(
        rows: list | None, prune_cols: list[tuple[str, object]], pk: list[str]
    ) -> list[tuple] | None:
        """The distinct pk tuples of a bounded probe (``rows`` not None)
        in which every pk column rode verbatim — partition rides
        cast-to-string and bucket rides hashed, so neither bounds raw key
        distinctness on its own — else None. Returning the tuples lets
        the keyed commit build its key frame as a LOCAL relation: no
        second distinct scan over the batch, no broadcast-build job, and
        the broadcast gated on the caller's own ``broadcast_threshold``
        (the probe bound and the broadcast bound are independently
        tunable, ADVICE r8 high)."""
        if rows is None or not set(pk) <= {k for k, _n in prune_cols}:
            return None
        idx = {k: i for i, (k, _n) in enumerate(prune_cols)}
        return list(
            dict.fromkeys(tuple(r[f"__k{idx[k]}"] for k in pk) for r in rows)
        )

    def _prune_eligible(
        self, cur: dict, source: DataFrame, pk: list[str]
    ) -> list[tuple[str, object]]:
        """Key columns eligible for zone-map pruning, as (name, key of
        ``zonemap.key_of``): numeric or string only, with the same key
        for batch and table (the probe's key frame is built from these
        values, and takes numeric-or-string columns only)."""
        tmap = {
            f.name: f.dataType
            for f in T.StructType.fromJson(cur["schema"]).fields
        }
        smap = {f.name: f.dataType for f in source.schema.fields}
        out: list[tuple[str, object]] = []
        for k in pk:
            key = zonemap.key_of(tmap.get(k))
            if key in (float, zonemap.key_of(T.StringType())) \
                    and zonemap.key_of(smap.get(k)) is key:
                out.append((k, key))
        return out

    def _key_frame(
        self,
        pk_rows: list[tuple] | None,
        probe_frame: DataFrame,
        target_frame: DataFrame,
        pk: list[str],
        broadcast_threshold: int,
    ) -> DataFrame:
        """Distinct-key frame for the merge/delete joins. When the scope
        probe already collected the bounded distinct key set (verbatim
        pk values), build it as a broadcast LOCAL relation: no second
        distinct scan over the batch, no broadcast-build job — the probe
        paid that pass once (optimization r9, guide §1.2 "don't compute
        things twice"). Otherwise fall back to distinct + one bounded
        count probe before broadcasting (the pre-r9 shape).
        ``probe_frame`` supplies the dtypes the values were collected
        under; when ``target_frame`` (the aligned batch the old code
        selected keys from) widened a pk dtype, the same cast is applied
        in-plan — identical key values to ``target.select(pk)``. A lossy
        cast (double batch vs long table) can leave duplicate rows in
        the local frame; every consumer joins semi/anti, where
        duplicates are harmless.

        The local relation is shipped as ONE Arrow table, never as
        ``createDataFrame(list)``: the list form parallelizes PICKLED
        rows, so the broadcast build runs Python workers on the
        executors just to deserialize the keys (measured 0.5 s per
        commit for 6.5 k keys at 32 cores — and 5-7 s when coalesced to
        one slice, a single worker deserializing everything). The Arrow
        table converts driver-side and the build is JVM-only
        (~0.2 s for the same keys, and no executor Python at any
        scale). pk columns are numeric-or-string by construction (the
        probe only returns rows when every pk is prune-eligible); any
        type outside the map falls back to the pickled form."""
        if pk_rows is not None and len(pk_rows) <= broadcast_threshold:
            pf = {f.name: f.dataType for f in probe_frame.schema.fields}
            tf = {f.name: f.dataType for f in target_frame.schema.fields}
            schema = T.StructType(
                [T.StructField(k, pf[k], True) for k in pk]
            )
            local = None
            try:
                import pyarrow as pa

                cols = {
                    k: pa.array(
                        [r[i] for r in pk_rows], type=_ARROW_TYPES[type(pf[k])]
                    )
                    for i, k in enumerate(pk)
                }
                local = self.spark.createDataFrame(pa.table(cols))
            except Exception:  # noqa: BLE001 — unmapped dtype etc.
                local = self.spark.createDataFrame(pk_rows, schema)
            if any(pf[k] != tf[k] for k in pk):
                local = local.select(
                    *[F.col(k).cast(tf[k]).alias(k) for k in pk]
                )
            return F.broadcast(local)
        keys = target_frame.select(*pk).distinct()
        if keys.limit(broadcast_threshold + 1).count() <= broadcast_threshold:
            keys = F.broadcast(keys)
        return keys

    def _zone_survives(self, entry: dict, checks: list) -> bool:
        """Point-set zone test (``zonemap.keeps_any``): drop the file
        only when, for some key column with recorded stats, NO batch key
        lands inside its [min, max]."""
        return all(
            zonemap.keeps_any(self._file_stat(entry, k), vals, key)
            for k, key, vals in checks
        )

    def _prune_interval(
        self,
        source: DataFrame,
        prune_cols: list[tuple[str, object]],
        old: list[dict],
    ) -> list[dict]:
        """Interval fallback for unbounded batches: one [min, max] per
        eligible key column from a single agg job over the batch. Only
        pays the job when some scoped entry actually records stats for
        an eligible column."""
        if not old or not any(
            k in e.get("stats", {}) for k, _key in prune_cols for e in old
        ):
            return old
        aggs = []
        for i, (k, _key) in enumerate(prune_cols):
            aggs += [F.min(k).alias(f"l{i}"), F.max(k).alias(f"h{i}")]
        row = source.agg(*aggs).collect()[0]
        bounds = [
            (k, (row[f"l{i}"], row[f"h{i}"]), key)
            for i, (k, key) in enumerate(prune_cols)
            if row[f"l{i}"] is not None
        ]
        return [
            e for e in old
            if all(self._file_matches(e, k, b, key) for k, b, key in bounds)
        ]

    def _dv_masked_entries(
        self, scope: list[dict], hits: DataFrame
    ) -> tuple[list[dict], list[str], list[str], int]:
        """Attach a new merged dv to every entry of ``scope`` that
        ``hits`` (live-row positions) covers. The new dv carries prior
        positions for the hit files too, so each entry always references
        ONE complete dv. Returns (updated HIT entries only, their paths,
        touched partition tokens, rows masked) — untouched scope entries
        are not re-listed; the commit carries them by segment reference.

        Job discipline (optimization r8, guide §1.2/§5): exactly THREE
        Spark jobs — materialize ``hits`` once (checkpoint cuts the scan
        lineage), ONE driver collect whose per-file new-hit counts double
        as the ref set, and the dv parquet write. The merged per-entry dv
        size is new hits + the entry's OWN recorded ``dv_rows`` (an entry
        always references one complete dv, and ``hits`` holds live rows
        only — provably disjoint from any prior mask), so no recount of
        the union with prior masks is needed. Bounded driver state: one
        count per touched file — the same class as the entry list."""
        hits = hits.localCheckpoint(eager=True)
        # ONE collect: per-file-ref counts of the new hits; the keys are
        # the driver-side mapping from encoded executor refs to fs paths
        new_counts = {
            r["file_ref"]: r["n"]
            for r in hits.groupBy("file_ref")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        probe = {unquote(ref): ref for ref in new_counts}
        hit_entries = [e for e in scope if e["path"] in probe]
        if len(hit_entries) != len(probe):
            missing = set(probe) - {e["path"] for e in hit_entries}
            raise RuntimeError(f"dv hits reference unknown files: {missing}")
        if not hit_entries:
            return [], [], [], 0
        prior_dirs = sorted({e["dv"] for e in hit_entries if e.get("dv")})
        full = hits.select("file_ref", "pos")
        if prior_dirs:
            refs = list(probe.values())
            prior = (
                self.spark.read.schema(_DV_SCHEMA).parquet(
                    *[os.path.join(self.path, d) for d in prior_dirs]
                )
                .select("file_ref", "pos")
                .filter(F.col("file_ref").isin(refs))
            )
            full = full.unionByName(prior)
        counts = {
            probe[e["path"]]: new_counts[probe[e["path"]]] + e.get("dv_rows", 0)
            for e in hit_entries
        }
        total = sum(counts.values())
        rel = os.path.join("dv", f"dv-{uuid.uuid4().hex[:12]}")
        nparts = max(1, total // 4_000_000 + 1)
        # lineage: checkpointed hits ∪ a small parquet read — computed
        # once, by this write (no second checkpoint materialization)
        full.repartition(nparts, "file_ref").write.parquet(
            os.path.join(self.path, rel)
        )
        updated = [
            {**e, "dv": rel, "dv_rows": counts[probe[e["path"]]]}
            for e in hit_entries
        ]
        touched = sorted(
            {
                e["partition"] if e["partition"] is not None else ""
                for e in hit_entries
            }
        )
        masked = sum(new_counts[probe[e["path"]]] for e in hit_entries)
        return updated, [e["path"] for e in hit_entries], touched, masked

    def delete(self, predicate, use_dv: bool = False, max_retries: int = 0) -> dict:
        """Delete rows matching a Column predicate (the GDPR-delete
        shape): the keyed commit's tail behind a predicate scope (module
        docstring). Rewrite mode rewrites only the partitions holding a
        match; ``use_dv=True`` scans the live set once and masks the
        matching positions. Rows where the predicate evaluates NULL are
        KEPT (SQL DELETE semantics) in both modes."""
        def compute(cur: dict) -> dict:
            schema = T.StructType.fromJson(cur["schema"])
            old, touched = self._m_entries(cur), []
            if cur["partition_by"] and not use_dv:
                touched = self._touched_tokens(
                    self._read_entries(old, schema).filter(predicate),
                    cur["partition_by"],
                )
                old = self._m_entries(cur, set(touched))
            return self._mask_or_rewrite(
                cur, schema, old, touched,
                lambda df: df.filter(predicate),
                lambda df: df.filter(~F.coalesce(predicate, F.lit(False))),
                None, use_dv, "delete",
            )

        return self._occ(compute, max_retries)

    def merge_into(
        self,
        source: DataFrame,
        on: str | list[str],
        when_matched_update: dict[str, str] | str | None = "all",
        when_matched_delete: str | None = None,
        matched_update_condition: str | None = None,
        when_not_matched_insert: bool = True,
        max_retries: int = 0,
    ) -> dict:
        """Full conditional MERGE (the SQL ``MERGE INTO`` shape Delta/
        Iceberg expose; ``merge()`` is the plain-upsert fast path):

        - ``when_matched_delete``: SQL expr over aliases ``t`` (target)
          and ``s`` (source); matched rows where it's TRUE are deleted.
          Evaluated FIRST, like a ``WHEN MATCHED AND cond THEN DELETE``
          clause listed before the update.
        - ``when_matched_update``: ``"all"`` (every source column wins —
          plain upsert), a ``{target_col: sql_expr}`` dict (exprs see
          ``t``/``s``), or None (matched rows kept unless deleted).
          ``matched_update_condition`` gates it (non-matching matched
          rows pass through unchanged).
        - ``when_not_matched_insert``: source rows with no target match
          insert (aligned to the merged schema) — or are ignored.
        - Target rows with no source match always carry (standard
          NOT-MATCHED-BY-SOURCE default).

        Scope is the keyed commit's probe (module docstring): only the
        source keys' partitions/cells rewrite, untouched files carry by
        segment reference, OCC with path-based rebase, an empty source
        commits nothing. Source must be key-
        unique (the merge contract). Rewrite mode only — a dv variant
        would mask matched rows and append, but conditional updates
        need the joined row anyway, so the rewrite IS the work."""
        pk = [on] if isinstance(on, str) else list(on)

        def compute(cur: dict) -> dict:
            partition_by = cur["partition_by"]
            schema = _merge_schemas(
                T.StructType.fromJson(cur["schema"]), source.schema
            )
            self._enforce_constraints(
                cur.get("constraints"), source, "merge_into"
            )
            nonempty, touched, old, _rows = self._probe_sides(cur, [source], pk)[0]
            if not nonempty:
                return self._noop(cur)
            cur_schema = T.StructType.fromJson(cur["schema"])
            t = _align(self._read_entries(old, cur_schema), schema).withColumn(
                "__t", F.lit(True)
            ).alias("t")
            s = _align(source, schema).withColumn("__s", F.lit(True)).alias("s")
            joined = t.join(s, [t[k].eqNullSafe(s[k]) for k in pk], "full_outer")
            matched = F.col("t.__t").isNotNull() & F.col("s.__s").isNotNull()
            t_only = F.col("t.__t").isNotNull() & F.col("s.__s").isNull()
            s_only = F.col("t.__t").isNull() & F.col("s.__s").isNotNull()
            delete_mask = (
                matched & F.coalesce(F.expr(when_matched_delete), F.lit(False))
                if when_matched_delete
                else F.lit(False)
            )
            if when_matched_update is None:
                update_mask = F.lit(False)
            else:
                update_mask = matched & ~delete_mask
                if matched_update_condition:
                    update_mask = update_mask & F.coalesce(
                        F.expr(matched_update_condition), F.lit(False)
                    )
            if when_matched_update == "all":
                update_map = {
                    f.name: F.col(f"s.{f.name}") for f in source.schema.fields
                }
            elif isinstance(when_matched_update, dict):
                update_map = {
                    c: F.expr(e) for c, e in when_matched_update.items()
                }
            else:
                update_map = {}
            keep = (matched & ~delete_mask) | t_only
            if when_not_matched_insert:
                keep = keep | s_only
            cols = []
            for f in schema.fields:
                t_val = F.col(f"t.{f.name}")
                s_val = F.col(f"s.{f.name}")
                val = F.when(t_only | (matched & ~update_mask), t_val)
                if f.name in update_map:
                    val = val.when(update_mask, update_map[f.name].cast(f.dataType))
                else:
                    val = val.when(update_mask, t_val)
                cols.append(val.otherwise(s_val).alias(f.name))
            out = joined.filter(keep).select(*cols)
            if cur.get("constraints") and (update_map or when_not_matched_insert):
                # update expressions can manufacture violations the
                # source-batch check can't see: validate the rows being
                # written (O(scope), only when constraints are declared)
                self._enforce_constraints(
                    cur.get("constraints"), out, "merge_into output"
                )
            entries = self._write_snapshot(
                out, partition_by, bucket_by=cur.get("bucket_by")
            )
            return {
                "operation": "merge-into",
                "schema": schema,
                "touched": touched,
                "replaced": {e["path"] for e in old},
                "entries": entries,
                "stats": {
                    "files_rewritten": len(old),
                    "files_written": len(entries),
                },
            }

        return self._occ(compute, max_retries)

    def overwrite(self, df: DataFrame, max_retries: int = 0) -> dict:
        """Full-replace commit (the reference's pipe/RENAME publish,
        `patterns/mysql_patterns.rb:35-39`): a new snapshot carries the
        whole table; prior versions stay readable until vacuum. Marked
        ``full_replace`` so concurrent disjoint-partition rebases stay
        conservative across it; its own conflicts always recompute."""
        def compute(cur: dict) -> dict:
            schema = _merge_schemas(
                T.StructType([]), df.schema
            )  # normalize NullType placeholders
            self._enforce_constraints(cur.get("constraints"), df, "overwrite")
            entries = self._write_snapshot(
                _align(df, schema), cur["partition_by"],
                bucket_by=cur.get("bucket_by"),
            )
            return {
                "operation": "overwrite",
                "schema": schema,
                "touched": sorted({e["partition"] or "" for e in entries}),
                "replaced": set(),
                "replace_all": True,
                "full_replace": True,
                "no_rebase": True,
                "entries": entries,
                "stats": {"files_written": len(entries)},
            }

        return self._occ(compute, max_retries)

    def count_rows(
        self, version: int | None = None, partitions: list | None = None
    ) -> int | None:
        """Row count from manifest metadata alone — NO file is opened
        (the reference's `SELECT COUNT(1)` utility, `transports/
        mysql.rb:182-184`, at zero scan cost). Returns None when any
        selected entry predates row stats; fall back to read().count()."""
        m = self._raw(version)
        if "entries" not in m and partitions is None:
            # pure segment metadata: zero entry lists parsed
            if all("rows" in s for s in m["segments"]):
                return sum(
                    s["rows"] - s.get("dv_rows", 0) for s in m["segments"]
                )
            return None
        entries = self._m_entries(m, self._want(partitions))
        if any("rows" not in e for e in entries):
            return None
        # dv positions always reference live files of THIS manifest, and
        # each entry's dv_rows counts exactly its own masked positions
        return sum(e["rows"] - e.get("dv_rows", 0) for e in entries)

    def restore(self, version: int) -> dict:
        """Roll the table back to an earlier version AS A NEW COMMIT
        (the Delta RESTORE shape): the new manifest re-references the
        old version's files — zero data movement, history preserved,
        and vacuum keeps the restored files live because the head
        manifest names them."""
        old = self._raw(version)
        cur = self.current_version()
        if "segments" in old:
            # zero metadata movement: re-reference the old version's
            # immutable segment files directly
            segments = old["segments"]
        else:
            segments = self._pack_segments([dict(e) for e in old["entries"]])
        n_files = sum(s["n_files"] for s in segments)
        v = self._commit(
            {
                "version": cur + 1,
                "operation": f"restore({version})",
                "partition_by": old["partition_by"],
                "bucket_by": old.get("bucket_by"),
                "bloom": old.get("bloom"),
                "schema": old["schema"],
                "touched_partitions": [],
                "full_replace": True,
                "segments": segments,
            }
        )
        return {"version": v, "restored_from": version, "files": n_files}

    def changes(self, from_version: int, to_version: int) -> DataFrame:
        """Row-level change feed between two versions (the Delta CDF /
        `table_changes` shape, derived after the fact from plain
        manifests): returns rows in ``to_version``'s schema plus a
        ``_change_type`` column ('insert' | 'delete'; an update is its
        delete+insert pair).

        Cost is O(delta), never O(table) — in DATA and in METADATA:
        segment files shared by both versions' manifests are skipped
        wholesale (their entries are byte-identical on both sides), so
        only delta segments are parsed. Candidate inserts/deletes cancel
        through ``exceptAll`` multiset difference, so pure layout moves
        (compact, restore, rebase re-references) produce ZERO change
        rows."""
        a = self._raw(from_version)
        b = self._raw(to_version)

        def delta_entries(m: dict, other: dict) -> list[dict]:
            if "entries" in m or "entries" in other:
                return self._m_entries(m)  # legacy inline: full compare
            shared = {s["path"] for s in other["segments"]}
            es: list[dict] = []
            for s in m["segments"]:
                if s["path"] in shared:
                    continue
                es.extend(self._load_segment(s["path"]))
            return es

        ea = {e["path"]: e for e in delta_entries(a, b)}
        eb = {e["path"]: e for e in delta_entries(b, a)}
        schema_a = T.StructType.fromJson(a["schema"])
        schema_b = T.StructType.fromJson(b["schema"])
        removed = [e for p, e in ea.items() if p not in eb]
        added = [e for p, e in eb.items() if p not in ea]
        changed = [
            p
            for p in set(ea) & set(eb)
            if ea[p].get("dv") != eb[p].get("dv")
            or ea[p].get("dv_rows") != eb[p].get("dv_rows")
        ]
        del_cand = _align(self._read_entries(removed, schema_a), schema_b)
        ins_cand = self._read_entries(added, schema_b)
        if changed:
            # same immutable files under each side's dv mask: rows live
            # at `a` but masked at `b` are deletes (vice versa: restores).
            # The diff is decided on POSITIONS, not row values
            # (optimization r8, guide §8 "decide with small rows"): a
            # path is immutable, so position sets determine value
            # multisets 1:1, and the dv-pair set difference is O(dv
            # delta) where the old live_a.exceptAll(live_b) shuffled
            # every row of every changed file twice. dropDuplicates
            # makes each side a true position SET (shared dv dirs can
            # carry stale-subset duplicates); the semi join against the
            # changed-file scan restricts ride-along pairs of unchanged
            # files that share a dv dir.
            ca = [ea[p] for p in changed]
            cb = [eb[p] for p in changed]
            dirs_a = sorted({e["dv"] for e in ca if e.get("dv")})
            dirs_b = sorted({e["dv"] for e in cb if e.get("dv")})
            all_dirs = sorted(set(dirs_a) | set(dirs_b))
            if all_dirs:
                # ONE read of the dv-dir union and ONE aggregation decide
                # both directions (optimization r8, guide §2.1/§2.2): a
                # (file_ref,pos) masked only at `b` is a delete, only at
                # `a` a restore (insert); masked at both cancels. This
                # replaces two multi-dir reads (shared dirs read twice),
                # two dropDuplicates shuffles and two anti-joins with one
                # read + one shuffle; bool aggregation also absorbs the
                # stale-subset duplicates shared dv dirs can carry. Side
                # membership comes from each pair row's own dv dir —
                # extracted from the file path the same way _file_ref
                # works, the writer's naming being dv/dv-<hex12>
                # (_apply_dv); a dir named otherwise would tag no rows,
                # so it refuses instead.
                for d in all_dirs:
                    if not _DV_DIR_PAT.fullmatch(d):
                        raise ValueError(
                            f"{self.path}: dv dir {d!r} does not match "
                            "the writer's dv/dv-<hex12> naming; its "
                            "positions cannot be tagged by side")
                raw = self.spark.read.schema(_DV_SCHEMA).parquet(
                    *[os.path.join(self.path, d) for d in all_dirs]
                ).select(
                    "file_ref",
                    "pos",
                    F.regexp_extract(
                        F.col("_metadata.file_path"), DV_DIR_RE, 1
                    ).alias("__dvdir"),
                )
                # restrict to the CHANGED files' rows before aggregating
                # (ADVICE r8 medium): a merged dv dir is shared by every
                # file hit in its commit, so ride-along pairs of files
                # dropped only by the later inner join would otherwise
                # inflate ``tagged`` past the dv_rows-derived broadcast
                # bound below. file_ref is the percent-ENCODED
                # table-relative path (FILE_REF_RE); decode executor-side
                # with url_decode — after masking '+' (url_decode is
                # form-decoding, '+' would become space; urllib.unquote,
                # the driver-side inverse, never does that) — and keep
                # only refs whose decoded path is a changed path. This
                # also cuts the aggregation's shuffle to O(changed dv).
                dec_ref = F.url_decode(
                    F.replace(
                        F.col("file_ref"), F.lit("+"), F.lit("%2B")
                    )
                )
                raw = raw.filter(dec_ref.isin(list(changed)))
                in_a = (
                    F.col("__dvdir").isin(dirs_a) if dirs_a else F.lit(False)
                )
                in_b = (
                    F.col("__dvdir").isin(dirs_b) if dirs_b else F.lit(False)
                )
                tagged = (
                    raw.groupBy("file_ref", "pos")
                    .agg(
                        F.max(in_a).alias("__in_a"),
                        F.max(in_b).alias("__in_b"),
                    )
                    .filter(F.col("__in_a") != F.col("__in_b"))
                    .select(
                        "file_ref",
                        "pos",
                        F.when(F.col("__in_b"), F.lit("delete"))
                        .otherwise(F.lit("insert"))
                        .alias("__dvct"),
                    )
                )
                # both sides' manifest-recorded dv totals bound the
                # position sets — broadcast while provably small, zero
                # probe jobs. Sound now that ``raw`` is restricted to
                # changed refs: masks only GROW per live file, so a
                # changed file's distinct pairs across any referenced
                # dir are <= its recorded dv_rows at the newer side
                bound = sum(e.get("dv_rows", 0) for e in ca) + sum(
                    e.get("dv_rows", 0) for e in cb
                )
                if bound <= self.dv_broadcast_rows:
                    tagged = F.broadcast(tagged)
                # ONE changed-file scan serves both directions
                # (optimization r8, guide §2.2 "scan fewer bytes"): the
                # delete/insert position sets are DISJOINT by the
                # __in_a != __in_b filter, so an inner join against the
                # tagged frame emits every hit row exactly once with its
                # direction — multiset-identical to the two left-semi
                # joins it replaces, at half the scan cost.
                scan = (
                    self.spark.read.schema(schema_b)
                    .parquet(*[os.path.join(self.path, p) for p in changed])
                    .withColumn("__ref", _file_ref())
                    .withColumn("__pos", F.col("_metadata.row_index"))
                )
                # lazy checkpoint: the del_cand/ins_cand branches below
                # each materialize their side — share the single scan
                hits = scan.join(
                    tagged,
                    (scan["__ref"] == tagged["file_ref"])
                    & (scan["__pos"] == tagged["pos"]),
                    "inner",
                ).select(
                    # attribute-qualified: a data column named
                    # file_ref/pos must survive (the old left_semi kept
                    # scan columns only)
                    *[scan[f] for f in schema_b.fieldNames()],
                    tagged["__dvct"],
                ).localCheckpoint(eager=False)
                del_cand = del_cand.unionByName(
                    hits.filter(F.col("__dvct") == "delete").drop("__dvct")
                )
                ins_cand = ins_cand.unionByName(
                    hits.filter(F.col("__dvct") == "insert").drop("__dvct")
                )
        # both candidate sets feed the fused diff below, and callers
        # usually branch on _change_type — checkpoint once (O(delta)) so
        # the changed-file scans don't recompute per branch
        del_cand = del_cand.localCheckpoint(eager=False)
        ins_cand = ins_cand.localCheckpoint(eager=False)
        # ONE signed-weight aggregation replaces the exceptAll pair:
        # Spark rewrites each exceptAll to union -> count-aggregate ->
        # replicate-rows, so the pair would shuffle the same candidate
        # union twice to compute the two directions of one difference
        return replicate_net(
            ins_cand.withColumn("__w", F.lit(1).cast("long")).unionByName(
                del_cand.withColumn("__w", F.lit(-1).cast("long"))),
            ins_cand.columns, "__w")

    def compact(
        self,
        min_files: int = 2,
        partitions: list | None = None,
        cluster_by: list[str] | None = None,
        max_records_per_file: int | None = None,
        auto_dv: bool = False,
        max_retries: int = 0,
    ) -> dict:
        """Coalesce small files: rewrite each partition holding at least
        ``min_files`` data files into one file, carrying everything else
        by reference. Logical content is unchanged (operation is a pure
        layout move — the OPTIMIZE of the Delta/Iceberg shape); readers
        on older versions keep their pinned file lists. At 100 TB this
        is the maintenance job that keeps a streaming-merged table's
        file count from degrading scan planning.

        ``cluster_by`` = OPTIMIZE ZORDER BY: rewritten rows are ordered
        by the Morton code of the given numeric/date columns
        (operators/layout.py zorder_sort) and split at
        ``max_records_per_file``, so every z-dimension gets clustered
        per-file [min, max] ranges — which is what makes the zone-map
        skipping in files()/read() selective on non-partition columns.
        With cluster_by, min_files=1 partitions are rewritten too (the
        point is reordering, not just coalescing).

        ``auto_dv=True`` compacts exactly the partitions ``fsck()``
        flags for deletion-vector pressure (dv/live ratio past
        ``dv_ratio_warn``, or any dv while the table total exceeds the
        read-path broadcast bound) — the maintenance hook that keeps dv
        anti-joins broadcastable. ``max_retries``: shared OCC loop."""
        def compute(cur: dict) -> dict:
            partition_by = cur["partition_by"]
            want = self._want(partitions)
            scoped_entries = self._m_entries(cur, want)
            by_part: dict = {}
            for e in scoped_entries:
                by_part.setdefault(e["partition"], []).append(e)
            floor = 1 if cluster_by else min_files
            if auto_dv:
                flagged, _total = self._dv_flagged(scoped_entries)
                fset = set(flagged)
                touched = sorted(
                    p if p is not None else NULL_TOKEN
                    for p in by_part
                    if (p if p is not None else NULL_TOKEN) in fset
                )
            else:
                # a partition carrying any deletion vector is always
                # eligible: compaction is what materializes dv masks
                # back into plain files
                touched = sorted(
                    p if p is not None else NULL_TOKEN
                    for p, es in by_part.items()
                    if (len(es) >= floor or any(e.get("dv") for e in es))
                    and (want is None
                         or (p if p is not None else NULL_TOKEN) in want)
                )
            if not touched:
                return {
                    "noop": {"version": cur["version"], "touched_partitions": [],
                             "files_rewritten": 0, "files_written": 0}
                }
            # token mapping must mirror how entries record partitions: a
            # PARTITIONED table stores null values as the literal
            # NULL_TOKEN string (hive dir name), only UNPARTITIONED
            # entries carry partition=None — mapping NULL_TOKEN->None
            # unconditionally made null partitions uncompactable and
            # committed junk no-op versions every auto_dv maintenance run
            tset = {
                None if (t == NULL_TOKEN and partition_by is None) else t
                for t in touched
            }
            old = [e for e in scoped_entries if e["partition"] in tset]
            if not old:
                return {
                    "noop": {"version": cur["version"], "touched_partitions": [],
                             "files_rewritten": 0, "files_written": 0}
                }
            # dv-aware: masked rows drop out here, so the rewritten files
            # are plain again (dv materialization), new entries carry no dv
            schema = T.StructType.fromJson(cur["schema"])
            scoped = self._read_entries(old, schema)
            bucket_by = cur.get("bucket_by")
            writer_options = None
            if cluster_by:
                from forklift_spark.operators.layout import zorder_sort

                scoped = zorder_sort(scoped, cluster_by)
                if max_records_per_file:
                    writer_options = {
                        "maxRecordsPerFile": str(max_records_per_file)
                    }
            elif bucket_by:
                # one output file per (partition, bucket) cell
                cells = [F.col(partition_by)] if partition_by else []
                cells.append(self._bucket_expr(bucket_by))
                scoped = scoped.repartition(max(len(old), 1), *cells)
            elif partition_by:
                # one output file per partition: regroup by partition column
                scoped = scoped.repartition(len(tset), F.col(partition_by))
            else:
                scoped = scoped.coalesce(1)
            entries = self._write_snapshot(
                scoped, partition_by, writer_options, bucket_by=bucket_by
            )
            # unpartitioned scope token is "" in the OCC protocol (same
            # token merges use), so racing merge+compact always conflict
            occ_touched = [
                "" if t == NULL_TOKEN and partition_by is None else t
                for t in touched
            ]
            return {
                "operation": "compact",
                "schema": schema,
                "touched": occ_touched,
                "replaced": {e["path"] for e in old},
                "entries": entries,
                "stats": {
                    "files_rewritten": len(old),
                    "files_written": len(entries),
                },
            }

        return self._occ(compute, max_retries)

    def _dv_flagged(self, entries: list[dict]) -> tuple[list[str], int]:
        """Partitions under deletion-vector pressure: dv/live ratio at or
        past ``dv_ratio_warn``, or carrying any dv while the TABLE total
        exceeds the read-path broadcast bound (``dv_broadcast_rows``) —
        past that bound every read silently shifts from a broadcast to a
        shuffled anti-join. Metadata-only. Returns (flagged partition
        tokens, total dv rows)."""
        by_part: dict = {}
        for e in entries:
            by_part.setdefault(e["partition"], []).append(e)
        total_dv = sum(e.get("dv_rows", 0) for e in entries)
        flagged = []
        for p, es in by_part.items():
            dv = sum(e.get("dv_rows", 0) for e in es)
            if dv == 0:
                continue
            rows = sum(e.get("rows", 0) for e in es)
            if total_dv > self.dv_broadcast_rows or (
                rows and dv / rows >= self.dv_ratio_warn
            ):
                flagged.append(p if p is not None else NULL_TOKEN)
        return sorted(flagged), total_dv

    _UNSET = object()

    def alter_layout(
        self,
        partition_by=_UNSET,
        bucket_by=_UNSET,
        bloom_cols=_UNSET,
        bloom_bits: int = 4096,
        bloom_hashes: int = 5,
        max_retries: int = 0,
    ) -> dict:
        """Change the table's physical layout — partition column, bucket
        spec, bloom config — as ONE versioned rewrite commit (the ALTER
        TABLE ... CLUSTER BY shape). Honest O(table): every live row is
        rewritten under the new layout; history stays readable (old
        versions keep their old layout metadata) and the swap is atomic,
        so readers never see a half-migrated table. Omitted arguments
        keep their current setting. ``max_retries``: conflicts recompute
        from the new head (a table rewrite can never rebase)."""
        def compute(cur: dict) -> dict:
            new_part = (
                cur["partition_by"] if partition_by is self._UNSET else partition_by
            )
            new_bucket = (
                cur.get("bucket_by")
                if bucket_by is self._UNSET
                else (list(bucket_by) if bucket_by else None)
            )
            if bloom_cols is self._UNSET:
                new_bloom = cur.get("bloom")
            elif bloom_cols:
                new_bloom = {"cols": list(bloom_cols), "bits": int(bloom_bits),
                             "k": int(bloom_hashes)}
            else:
                new_bloom = None
            df = self._read_entries(
                self._m_entries(cur), T.StructType.fromJson(cur["schema"])
            )
            entries = self._write_snapshot(
                df, new_part, bucket_by=new_bucket, bloom=new_bloom
            )
            return {
                "operation": "alter-layout",
                "schema": T.StructType.fromJson(cur["schema"]),
                "touched": sorted({e["partition"] or "" for e in entries}),
                "replaced": set(),
                "replace_all": True,
                "full_replace": True,
                "no_rebase": True,
                "entries": entries,
                "layout": {"partition_by": new_part, "bucket_by": new_bucket,
                           "bloom": new_bloom},
                "stats": {"files_written": len(entries),
                          "partition_by": new_part, "bucket_by": new_bucket},
            }

        return self._occ(compute, max_retries)

    def checkpoint(self, max_retries: int = 0) -> dict:
        """Consolidate the head version's metadata: rewrite ALL entry
        segments into fresh partition-grouped, target-size segment files
        as one commit (the Delta checkpoint / Iceberg rewrite-manifests
        shape). Data files are untouched and logical content is
        unchanged — ``changes()`` across a checkpoint yields zero rows —
        but subsequent partition-pruned reads plan from a minimal
        segment set, and commit-time carry checks touch fewer, larger
        segments. Run it like compaction: periodically, or after a burst
        of small commits fragments the metadata. Shares the OCC retry
        loop (``max_retries``): losing a race to a concurrent writer
        recomputes the consolidation from the new head instead of
        raising, so ``maintain()`` can absorb a racing streaming sink;
        it reports no touched partitions and no full_replace, so a
        CONCURRENT loser can still rebase straight over it."""
        def compute(cur: dict) -> dict:
            entries = [dict(e) for e in self._m_entries(cur)]
            return {
                "operation": "checkpoint",
                "schema": T.StructType.fromJson(cur["schema"]),
                "touched": [],
                "replaced": set(),
                # repack everything; content-identical, so neither
                # full_replace (would block others' rebases) nor
                # touched partitions are declared
                "replace_all": True,
                "no_rebase": True,
                "entries": entries,
                "stats": {"files": len(entries)},
            }

        out = self._occ(compute, max_retries)
        out["segments"] = len(self._raw(out["version"]).get("segments", []))
        return out

    def fsck(self) -> dict:
        """Integrity audit of the CURRENT version (plus orphan census
        across the table dir): every referenced data file must exist
        with its recorded size, every referenced dv sidecar and metadata
        segment must exist. Also surfaces DELETION-VECTOR PRESSURE
        warnings (see ``_dv_flagged``) — the nudge to run
        ``compact(auto_dv=True)`` before reads degrade to shuffled dv
        anti-joins. Returns issues (empty = healthy), warnings, and
        orphan counts — metadata work only, no data file is opened, and
        each distinct segment file is parsed at most once across all
        versions (a commit ladder shares most segments by reference, so
        the census is O(distinct segments), not O(versions x segments)
        — reported as ``segments_parsed`` vs ``segments_total``)."""
        cur = self._raw()
        issues: list[str] = []
        referenced: set[str] = set()
        referenced_dv: set[str] = set()
        referenced_seg: set[str] = set()
        segments_total = 0
        seg_parsed: set[str] = set()
        for v in self.versions():
            m = self._raw(v)
            if "entries" in m:  # legacy inline manifest
                for e in m["entries"]:
                    referenced.add(e["path"])
                    if e.get("dv"):
                        referenced_dv.add(e["dv"])
                continue
            broken = False
            for s in m.get("segments", []):
                segments_total += 1
                if s["path"] not in referenced_seg and not os.path.isfile(
                    os.path.join(self.path, s["path"])
                ):
                    issues.append(
                        f"missing metadata segment: {s['path']} (v{v})"
                    )
                    broken = True
                referenced_seg.add(s["path"])
            if broken:
                continue  # entries unreadable; issue already recorded
            for s in m.get("segments", []):
                if s["path"] in seg_parsed:
                    continue  # carried by reference from an earlier version
                seg_parsed.add(s["path"])
                for e in self._load_segment(s["path"]):
                    referenced.add(e["path"])
                    if e.get("dv"):
                        referenced_dv.add(e["dv"])
        try:
            cur_entries = self._m_entries(cur)
        except FileNotFoundError:
            cur_entries = []
        for e in cur_entries:
            full = os.path.join(self.path, e["path"])
            if not os.path.isfile(full):
                issues.append(f"missing data file: {e['path']}")
            elif os.path.getsize(full) != e["bytes"]:
                issues.append(
                    f"size drift: {e['path']} manifest={e['bytes']} "
                    f"disk={os.path.getsize(full)}"
                )
            dv = e.get("dv")
            if dv and not os.path.isdir(os.path.join(self.path, dv)):
                issues.append(f"missing dv sidecar: {dv}")
        orphan_files = 0
        data_root = os.path.join(self.path, "data")
        for dirpath, _dirs, files in os.walk(data_root):
            for name in files:
                rel = os.path.relpath(os.path.join(dirpath, name), self.path)
                if name.endswith(".parquet") and rel not in referenced:
                    orphan_files += 1
        orphan_dvs = 0
        dv_root = os.path.join(self.path, "dv")
        if os.path.isdir(dv_root):
            orphan_dvs = sum(
                1
                for name in os.listdir(dv_root)
                if os.path.join("dv", name) not in referenced_dv
            )
        orphan_segs = 0
        meta_root = os.path.join(self.path, "metadata")
        if os.path.isdir(meta_root):
            orphan_segs = sum(
                1
                for name in os.listdir(meta_root)
                if os.path.join("metadata", name) not in referenced_seg
            )
        flagged, total_dv = self._dv_flagged(cur_entries)
        warnings: list[str] = []
        if total_dv > self.dv_broadcast_rows:
            warnings.append(
                f"dv pressure: {total_dv} dv rows exceed the broadcast "
                f"bound ({self.dv_broadcast_rows}) — reads now shuffle the "
                f"dv anti-join; run compact(auto_dv=True)"
            )
        for p in flagged:
            warnings.append(
                f"dv pressure: partition {p!r} past "
                f"dv/live ratio {self.dv_ratio_warn} — "
                f"run compact(auto_dv=True)"
            )
        return {
            "ok": not issues,
            "version": cur["version"],
            "issues": issues,
            "warnings": warnings,
            "dv_pressure": {
                "total_dv_rows": total_dv,
                "broadcast_bound": self.dv_broadcast_rows,
                "flagged_partitions": flagged,
            },
            "orphan_files": orphan_files,
            "orphan_dv_dirs": orphan_dvs,
            "orphan_segments": orphan_segs,
            "segments_total": segments_total,
            "segments_parsed": len(seg_parsed),
        }

    def maintain(
        self,
        min_files: int = 4,
        keep_versions: int = 3,
        checkpoint_over_segments: int = 16,
        max_retries: int = 2,
        vacuum_now: bool = True,
        orphan_grace_seconds: float = VACUUM_ORPHAN_GRACE_SECONDS,
    ) -> dict:
        """The scheduled maintenance pass, as one call (the OPTIMIZE +
        VACUUM cron job every production table format needs): (1)
        compact exactly the partitions fsck flags for deletion-vector
        pressure, (2) coalesce partitions holding >= ``min_files`` small
        files, (3) checkpoint the metadata when it spans more than
        ``checkpoint_over_segments`` segment files, (4) vacuum history
        beyond ``keep_versions``. Every mutating step is an independent
        atomic commit sharing the OCC retry loop, and vacuum's orphan
        deletion honors ``orphan_grace_seconds`` (never deletes a young
        never-referenced file, which may be a concurrent writer's staged
        snapshot) — together these are what make racing this pass
        against a live writer (e.g. the streaming MERGE sink) safe.
        Returns the per-step reports; steps that had nothing to do
        report noops — the call is idempotent and safe on a cron."""
        report: dict = {}
        report["compact_dv"] = self.compact(
            auto_dv=True, max_retries=max_retries
        )
        report["compact_small"] = self.compact(
            min_files=min_files, max_retries=max_retries
        )
        cur = self._raw()
        if len(cur.get("segments", [])) > checkpoint_over_segments:
            report["checkpoint"] = self.checkpoint(max_retries=max_retries)
        else:
            report["checkpoint"] = {"version": cur["version"], "skipped": True}
        if vacuum_now:
            report["vacuum"] = self.vacuum(
                keep_versions=keep_versions,
                orphan_grace_seconds=orphan_grace_seconds,
            )
        report["fsck"] = self.fsck()
        return report

    def vacuum(
        self,
        keep_versions: int = 1,
        orphan_grace_seconds: float = VACUUM_ORPHAN_GRACE_SECONDS,
    ) -> dict:
        """Drop manifests older than the newest ``keep_versions`` and
        delete files no retained manifest references. Unreferenced files
        fall in two classes with different safety rules:

        - SUPERSEDED: referenced only by the versions being dropped —
          committed history nobody can reach once those manifests are
          gone (rebases carry from the retained head). Reclaimed
          immediately, whatever their age: this is the space-reclaim
          vacuum exists for.
        - ORPHANS: referenced by NO version at all. Usually crashed-
          writer snapshots / _SUCCESS markers — but a LIVE concurrent
          writer's staged-not-yet-committed snapshot, dv dir, and
          metadata segment are in exactly this class too (OCC protects
          only the pointer swap, never uncommitted files). Deleted only
          when older than ``orphan_grace_seconds`` (Delta's retention-
          hours shape), so racing ``maintain()``/``vacuum()`` with live
          writers cannot corrupt an in-flight commit. Pass 0 only when
          no writer can be live (reclaims fresh crash debris at once).

        Metadata cost: each distinct segment file is parsed at most once
        across ALL versions (shared segments are classified from the
        retained pass alone — a segment carried by a retained version
        protects every path in it), reported as ``segments_parsed`` vs
        ``segments_total`` references."""
        import shutil
        import time as _time

        all_versions = self.versions()
        keep = all_versions[-max(1, keep_versions):]
        keepset = set(keep)
        referenced: set[str] = set()
        referenced_dv: set[str] = set()
        referenced_seg: set[str] = set()
        dropped: set[str] = set()
        dropped_dv: set[str] = set()
        dropped_seg: set[str] = set()
        segments_total = 0
        parsed: set[str] = set()
        # retained versions first: any segment they carry protects every
        # path inside it, so the dropped pass below never needs to parse
        # a shared segment — vacuum metadata IO is O(distinct segments)
        for v in sorted(all_versions, key=lambda v: (v not in keepset, v)):
            m = self._raw(v)
            is_keep = v in keepset
            seg_dst = referenced_seg if is_keep else dropped_seg
            data_dst = referenced if is_keep else dropped
            dv_dst = referenced_dv if is_keep else dropped_dv
            if "entries" in m:  # legacy inline manifest
                for e in m["entries"]:
                    data_dst.add(e["path"])
                    if e.get("dv"):
                        dv_dst.add(e["dv"])
                continue
            for s in m["segments"]:
                segments_total += 1
                seg_dst.add(s["path"])
                if s["path"] in parsed:
                    continue
                if not is_keep and s["path"] in referenced_seg:
                    continue  # shared with a retained version: protected
                parsed.add(s["path"])
                for e in self._load_segment(s["path"]):
                    data_dst.add(e["path"])
                    if e.get("dv"):
                        dv_dst.add(e["dv"])
        now = _time.time()
        grace = max(0.0, float(orphan_grace_seconds))
        skipped_recent = 0

        def removable(full: str, rel: str, dropped_set: set) -> bool:
            nonlocal skipped_recent
            if rel in dropped_set:
                return True  # superseded committed history
            try:
                if now - os.path.getmtime(full) >= grace:
                    return True  # orphan past the retention window
            except OSError:
                return False  # vanished concurrently; nothing to do
            skipped_recent += 1
            return False

        removed_files = 0
        data_root = os.path.join(self.path, "data")
        for dirpath, _dirs, files in os.walk(data_root, topdown=False):
            for name in files:
                full = os.path.join(dirpath, name)
                rel = os.path.relpath(full, self.path)
                # data/ is wholly table-owned: anything no retained
                # manifest references is garbage ONCE past the orphan
                # grace (a younger orphan may be a live writer's stage)
                if rel not in referenced and removable(full, rel, dropped):
                    os.remove(full)
                    if name.endswith(".parquet"):
                        removed_files += 1
            if not os.listdir(dirpath):
                os.rmdir(dirpath)
        # dv sidecars are referenced as whole DIRS (one per commit)
        dv_root = os.path.join(self.path, "dv")
        if os.path.isdir(dv_root):
            for name in os.listdir(dv_root):
                rel = os.path.join("dv", name)
                full = os.path.join(dv_root, name)
                if rel not in referenced_dv and removable(full, rel, dropped_dv):
                    shutil.rmtree(full)
                    removed_files += 1
            if not os.listdir(dv_root):
                os.rmdir(dv_root)
        # metadata segments: superseded generations reclaim now; an
        # unreferenced YOUNG segment may belong to a commit mid-flight
        meta_root = os.path.join(self.path, "metadata")
        removed_segments = 0
        if os.path.isdir(meta_root):
            for name in os.listdir(meta_root):
                rel = os.path.join("metadata", name)
                full = os.path.join(meta_root, name)
                if rel not in referenced_seg and removable(full, rel, dropped_seg):
                    os.remove(full)
                    self._seg_cache.pop(rel, None)
                    removed_segments += 1
            if not os.listdir(meta_root):
                os.rmdir(meta_root)
        removed_manifests = 0
        for v in all_versions:
            if v not in keepset:
                os.remove(os.path.join(self.path, f"manifest-v{v}.json"))
                removed_manifests += 1
        return {
            "removed_files": removed_files,
            "removed_manifests": removed_manifests,
            "removed_segments": removed_segments,
            "skipped_recent_orphans": skipped_recent,
            "segments_total": segments_total,
            "segments_parsed": len(parsed),
        }
