"""One publish path per format: an export is the first sync.

Spark-free unit tests of the shared half (``connections/publish.py`` and
the Iceberg sequence-inheritance rule), the genesis layout written by
both entry points (``export_manifest_to_X`` and ``sync_manifest_to_X``
must write the same thing), and an export onto an already-published
destination appending like a sync instead of rewriting its history."""

from __future__ import annotations

import glob
import json
import os

import pytest

from forklift_spark.connections.iceberglite import _entry_seq
from forklift_spark.connections.publish import (
    dv_masks,
    link_or_copy,
    live_rows,
    vacuum_dest,
)

# ------------------------------------------------------- Spark-free units

NOW = 1_700_000_000_000
GRACE = 1_000


def _touch(path, mtime_ms: int) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write("x")
    os.utime(path, ns=(mtime_ms * 1_000_000, mtime_ms * 1_000_000))
    return str(path)


def test_vacuum_walker(tmp_path):
    old = NOW - 10 * GRACE
    log_file = _touch(tmp_path / "_delta_log" / "00.json", old)
    os.makedirs(tmp_path / "_delta_log" / "empty")
    live = _touch(tmp_path / "data" / "p=1" / "live.parquet", old)
    at_grace = _touch(tmp_path / "data" / "p=1" / "at.parquet", NOW - GRACE)
    young = _touch(tmp_path / "data" / "p=1" / "young.parquet",
                   NOW - GRACE + 1)
    gone = _touch(tmp_path / "data" / "p=2" / "gone.parquet", old)
    dot = _touch(tmp_path / "data" / ".gone.parquet.crc", old)
    under = _touch(tmp_path / "data" / "_SUCCESS", old)
    hidden_dir = _touch(tmp_path / ".staging" / "x.parquet", old)
    os.makedirs(tmp_path / "empty")

    got = vacuum_dest(str(tmp_path), {live}, "_delta_log", GRACE,
                      now_ms=NOW)

    assert got == {"removed": 2, "kept_live": 1, "kept_grace": 1}
    # the grace boundary: exactly grace old is reclaimed, younger kept
    assert not os.path.exists(at_grace) and os.path.exists(young)
    assert not os.path.exists(gone)
    for kept in (live, dot, under, hidden_dir, log_file):
        assert os.path.exists(kept), kept
    # empty data dirs are pruned; the protected dir is never entered
    # (its stale file survives) nor pruned (its empty subdir survives)
    assert not os.path.exists(tmp_path / "data" / "p=2")
    assert not os.path.exists(tmp_path / "empty")
    assert os.path.isdir(tmp_path / "_delta_log" / "empty")


def test_vacuum_walker_relative_root(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    live = _touch(tmp_path / "t" / "a.parquet", NOW - 10 * GRACE)
    stale = _touch(tmp_path / "t" / "b.parquet", NOW - 10 * GRACE)
    got = vacuum_dest("t", {os.path.join("t", "a.parquet")}, "metadata",
                      GRACE, now_ms=NOW)
    assert got == {"removed": 1, "kept_live": 1, "kept_grace": 0}
    assert os.path.exists(live) and not os.path.exists(stale)


@pytest.mark.parametrize("entry,manifest,want", [
    ({"data_sequence_number": 5, "sequence_number": 3},
     {"sequence_number": 9}, 5),
    ({"data_sequence_number": None, "sequence_number": 3},
     {"sequence_number": 9}, 3),
    ({"sequence_number": 0}, {"sequence_number": 9}, 0),
    ({"sequence_number": None}, {"sequence_number": 9}, 9),
    ({}, {"sequence_number": None}, 0),
    ({}, {}, 0),
])
def test_sequence_inheritance(entry, manifest, want):
    assert _entry_seq(entry, manifest) == want


def test_dv_guard_and_live_rows():
    plain = [{"path": "a", "rows": 5}, {"path": "b", "rows": 3}]
    assert dv_masks(None, plain, "refuse", "Delta-v1", "DVs") == {}
    assert dv_masks(None, plain, "native", "Delta-v1", "DVs") == {}
    masked = plain + [{"path": "c", "rows": 4, "dv": "dv/1",
                       "dv_rows": 1}]
    with pytest.raises(ValueError,
                       match="external Iceberg readers.*dv_mode='native'"):
        dv_masks(None, masked, "refuse", "Iceberg", "position deletes")
    assert live_rows(masked) == 11
    assert live_rows(plain + [{"path": "d"}]) is None


def test_link_or_copy(tmp_path):
    class _Src:
        path = str(tmp_path / "src")

    src = _touch(tmp_path / "src" / "p=1" / "f.parquet", NOW)
    dst = link_or_copy(_Src, str(tmp_path / "dest"),
                       os.path.join("p=1", "f.parquet"))
    assert dst == str(tmp_path / "dest" / "p=1" / "f.parquet")
    assert os.path.samefile(src, dst)
    # an existing destination file is kept, not replaced
    os.remove(dst)
    _touch(dst, NOW)
    with open(dst, "w") as fh:
        fh.write("kept")
    link_or_copy(_Src, str(tmp_path / "dest"),
                 os.path.join("p=1", "f.parquet"))
    assert open(dst).read() == "kept"


# --------------------------------------------------------- Spark fixtures


def _source(spark, path, masked: bool, partitioned: bool = True):
    from pyspark.sql import functions as F

    from forklift_spark.manifest import ManifestTable

    t = ManifestTable(spark, path, "t")
    t.create(spark.range(100).select(
        F.col("id").alias("k"),
        (F.col("id") % 4 + 1).cast("int").alias("p"),
        (F.col("id") * 10).alias("v"),
    ), partition_by="p" if partitioned else None)
    if masked:
        t.merge(spark.createDataFrame([(7, 4, 777)],
                                      "k long, p int, v long"),
                on="k", use_dv=True)
        assert sum(1 for e in t.manifest()["entries"] if e.get("dv")) == 1
    return t


def _rows(df):
    return {tuple(r) for r in df.select("k", "p", "v").collect()}


def _delta_actions(dest):
    out = []
    with open(os.path.join(dest, "_delta_log", f"{0:020d}.json")) as fh:
        for line in fh:
            act = json.loads(line)
            if "add" in act:
                act["add"].pop("modificationTime")
                dv = act["add"].get("deletionVector")
                if dv:  # names the DV file, which is uuid-named
                    dv.pop("pathOrInlineDv")
            out.append(act)
    return sorted(out, key=json.dumps)


@pytest.mark.parametrize("masked", [False, True])
def test_delta_genesis_export_equals_first_sync(spark, tmp_path, masked):
    from forklift_spark.connections.deltalite import (
        DeltaLiteTable,
        export_manifest_to_delta,
        sync_manifest_to_delta,
    )

    t = _source(spark, str(tmp_path / "src"), masked)
    m = t.manifest()
    dest_a, dest_b = str(tmp_path / "a"), str(tmp_path / "b")
    stats = export_manifest_to_delta(t, dest_a, dv_mode="native")
    r = sync_manifest_to_delta(t, dest_b, dv_mode="native",
                               checkpoint_interval=1)
    assert stats == {"files": len(m["entries"]), "rows": 100,
                     "version": m["version"]}
    assert r["mode"] == "full" and r["delta_version"] == 0
    assert "checkpoint" not in r

    acts = _delta_actions(dest_a)
    assert acts == _delta_actions(dest_b)
    proto = [a["protocol"] for a in acts if "protocol" in a]
    if masked:
        assert proto == [{"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["deletionVectors"],
                          "writerFeatures": ["deletionVectors"]}]
    else:
        assert proto == [{"minReaderVersion": 1, "minWriterVersion": 2}]
    meta = [a["metaData"] for a in acts if "metaData" in a]
    assert len(meta) == 1
    assert meta[0]["id"] == f"forklift-spark-export-{m['version']}"
    assert meta[0]["configuration"] == {}
    assert meta[0]["partitionColumns"] == []
    assert meta[0]["createdTime"] == int(m.get("committed_at", 0) or 0)
    adds = [a["add"] for a in acts if "add" in a]
    assert sorted(a["path"] for a in adds) == sorted(
        e["path"] for e in m["entries"])
    dvs = [a for a in adds if "deletionVector" in a]
    assert len(dvs) == int(masked)
    assert len(acts) == 2 + len(adds)
    for dest in (dest_a, dest_b):
        log = os.path.join(dest, "_delta_log")
        assert sorted(os.listdir(log)) == [f"{0:020d}.json"]
        assert _rows(DeltaLiteTable(spark, dest).read()) == _rows(t.read())


def _ice_layout(dest):
    """v1 metadata + every Avro file of the first snapshot, with the
    destination path, table uuid and uuid-named delete file masked, and
    without the byte sizes of files whose content embeds those paths
    (deflated manifests, the delete parquet)."""
    from forklift_spark.functions import avrocodec as av

    meta_dir = os.path.join(dest, "metadata")

    def norm(obj):
        text = json.dumps(obj, sort_keys=True, default=bytes.hex)
        text = text.replace(dest, "<dest>")
        for p in glob.glob(os.path.join(dest, "deletes", "*.parquet")):
            text = text.replace(os.path.basename(p), "<del>")
        return json.loads(text)

    def rows(path):
        out = norm(av.read_container_file(path)[1])
        for r in out:
            r.pop("manifest_length", None)
            if r.get("data_file", {}).get("content") == 1:
                r["data_file"].pop("file_size_in_bytes")
        return out

    meta = json.load(open(os.path.join(meta_dir, "v1.metadata.json")))
    meta.pop("table-uuid")
    avros = {os.path.basename(p): rows(p)
             for p in glob.glob(os.path.join(meta_dir, "*.avro"))}
    return norm(meta), avros


@pytest.mark.parametrize("partitioned", [True, False])
def test_iceberg_genesis_export_equals_first_sync(spark, tmp_path,
                                                  partitioned):
    from forklift_spark.connections.iceberglite import (
        IcebergLiteTable,
        export_manifest_to_iceberg,
        sync_manifest_to_iceberg,
    )

    masked = partitioned
    t = _source(spark, str(tmp_path / "src"), masked, partitioned)
    m = t.manifest()
    dest_a, dest_b = str(tmp_path / "a"), str(tmp_path / "b")
    stats = export_manifest_to_iceberg(t, dest_a, dv_mode="native")
    r = sync_manifest_to_iceberg(t, dest_b, dv_mode="native")
    assert stats == {"files": len(m["entries"]), "rows": 100,
                     "version": m["version"]}
    assert r["mode"] == "full" and r["snapshot_id"] == 1

    meta, avros = _ice_layout(dest_a)
    assert (meta, avros) == _ice_layout(dest_b)
    assert sorted(avros) == sorted(["m-00001.avro", "snap-1.avro"] + (
        ["m-00001-del.avro"] if masked else []))
    for dest in (dest_a, dest_b):
        meta_dir = os.path.join(dest, "metadata")
        assert sorted(f for f in os.listdir(meta_dir)
                      if f.endswith(".json")) == ["v1.metadata.json"]
        assert open(os.path.join(meta_dir, "version-hint.text")).read() \
            == "1"

    assert meta["format-version"] == 2
    assert meta["current-schema-id"] == 0
    [schema] = meta["schemas"]
    assert schema["schema-id"] == 0
    assert [(f["id"], f["name"]) for f in schema["fields"]] == [
        (1, "k"), (2, "p"), (3, "v")]
    assert meta["last-column-id"] == 3
    assert meta["default-spec-id"] == 0
    if partitioned:
        assert meta["partition-specs"] == [{"spec-id": 0, "fields": [
            {"name": "p", "transform": "identity", "source-id": 2,
             "field-id": 1000}]}]
        assert meta["last-partition-id"] == 1000
    else:
        assert meta["partition-specs"] == [{"spec-id": 0, "fields": []}]
        assert meta["last-partition-id"] == 999
    assert meta["current-snapshot-id"] == 1
    assert meta["refs"] == {"main": {"snapshot-id": 1, "type": "branch"}}
    [snap] = meta["snapshots"]
    assert "parent-snapshot-id" not in snap
    assert snap["snapshot-id"] == 1 and snap["schema-id"] == 0
    assert snap["summary"] == {"operation": "append"}
    assert snap["manifest-list"] == "<dest>/metadata/snap-1.avro"
    # data and (the one allowed genesis change) deletes share seq 1
    assert snap["sequence-number"] == meta["last-sequence-number"] == 1
    assert {mf["sequence_number"] for mf in avros["snap-1.avro"]} == {1}
    assert {e["sequence_number"] for e in avros["m-00001.avro"]} == {1}
    assert len(avros["m-00001.avro"]) == len(m["entries"])
    for dest in (dest_a, dest_b):
        assert _rows(IcebergLiteTable(spark, dest).read()) \
            == _rows(t.read())


def test_export_onto_published_destination_appends(spark, tmp_path):
    """An export onto a destination published earlier appends like a
    sync (or writes nothing when nothing changed) — it never rewrites
    the destination's history."""
    from pyspark.sql import functions as F

    from forklift_spark.connections.deltalite import (
        DeltaLiteTable,
        export_manifest_to_delta,
        sync_manifest_to_delta,
    )
    from forklift_spark.connections.iceberglite import (
        IcebergLiteTable,
        export_manifest_to_iceberg,
        sync_manifest_to_iceberg,
    )
    from forklift_spark.manifest import ManifestTable

    t = ManifestTable(spark, str(tmp_path / "src"), "t")
    t.create(spark.range(20).select(F.col("id").alias("k"),
                                    (F.col("id") * 10).alias("v")))
    ddest, idest = str(tmp_path / "d"), str(tmp_path / "i")
    sync_manifest_to_delta(t, ddest)
    sync_manifest_to_iceberg(t, idest)
    t.merge(spark.createDataFrame([(3, 333), (40, 400)], "k long, v long"),
            on="k")
    sync_manifest_to_delta(t, ddest)
    sync_manifest_to_iceberg(t, idest)

    def pairs(df):
        return {(r.k, r.v) for r in df.select("k", "v").collect()}

    v0 = {(i, i * 10) for i in range(20)}
    head = pairs(t.read())
    dt, it = DeltaLiteTable(spark, ddest), IcebergLiteTable(spark, idest)

    # nothing changed since the last sync: the exports write nothing
    for stats in (export_manifest_to_delta(t, ddest),
                  export_manifest_to_iceberg(t, idest)):
        assert stats["rows"] == 21
        assert stats["version"] == t.manifest()["version"]
    assert dt.versions() == [0, 1]
    assert pairs(dt.read(version=0)) == v0
    assert [s["snapshot-id"] for s in it.snapshots()] == [1, 2]
    assert pairs(it.read(snapshot_id=1)) == v0

    # a change since: each export appends one commit / snapshot
    t.merge(spark.createDataFrame([(5, 555)], "k long, v long"), on="k")
    export_manifest_to_delta(t, ddest)
    export_manifest_to_iceberg(t, idest)
    assert dt.versions() == [0, 1, 2]
    assert [s["snapshot-id"] for s in it.snapshots()] == [1, 2, 3]
    assert pairs(dt.read(version=0)) == pairs(it.read(snapshot_id=1)) == v0
    assert pairs(dt.read(version=1)) == pairs(it.read(snapshot_id=2)) \
        == head
    want = pairs(t.read())
    assert pairs(dt.read()) == pairs(it.read()) == want
    assert (5, 555) in want
