"""ManifestTable: transactional MERGE on plain parquet with partition-
pruned rewrites (VERDICT r3 item 1).

The load-bearing assertion is the file audit: after a MERGE that touches
a partition subset, every untouched partition's data files are
**byte-identical and carried by reference** — the commit did not rewrite
them. Plus: snapshot isolation / time travel, atomic pointer swap,
commit-conflict detection, schema evolution without rewrites, delete,
vacuum, and manifest-level partition pruning.
"""

from __future__ import annotations

import hashlib
import os
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from forklift_spark.manifest import CommitConflict, ManifestTable


def _md5s(table: ManifestTable, version=None, partitions=None) -> dict[str, str]:
    out = {}
    for p in table.files(version, partitions):
        with open(p, "rb") as fh:
            out[os.path.relpath(p, table.path)] = hashlib.md5(fh.read()).hexdigest()
    return out


@pytest.fixture()
def base_df(spark):
    # 3 partitions (y=1,2,3), 10 keys each. Files per partition follow
    # spark.range's slice count (defaultParallelism): each slice writes
    # one file per y value it holds. Tests read the layout from the
    # manifest and assume no file count.
    return spark.range(30).select(
        F.col("id").alias("k"),
        (F.col("id") % 3 + 1).cast("int").alias("y"),
        (F.col("id") * 10).cast("long").alias("v"),
    )


@pytest.fixture()
def table(spark, tmp_path, base_df):
    t = ManifestTable(spark, str(tmp_path), "t")
    t.create(base_df, partition_by="y")
    return t


def test_create_and_read(table, base_df):
    assert table.current_version() == 1
    got = {(r.k, r.y, r.v) for r in table.read().collect()}
    want = {(r.k, r.y, r.v) for r in base_df.collect()}
    assert got == want


def test_merge_touches_only_source_partitions(table, spark):
    before = _md5s(table)
    entries_before = table.manifest()["entries"]
    untouched_before = {
        e["path"]: e for e in entries_before if e["partition"] != "2"
    }
    batch_keys = (1, 100)
    # the merge scope is the touched partition cut by key zone maps: a
    # y=2 file whose recorded [min, max] on k holds no batch key carries
    # by reference unscanned (_scope_from_rows). At one file per
    # partition this is exactly the untouched partitions.
    carried_before = {
        e["path"]
        for e in entries_before
        if e["partition"] != "2"
        or not any(
            int(e["stats"]["k"][0]) <= k <= int(e["stats"]["k"][1])
            for k in batch_keys
        )
    }
    src = spark.createDataFrame(
        [(1, 2, 999), (100, 2, 1000)],  # update k=1 (lives in y=2), insert k=100
        schema="k long, y int, v long",
    )
    stats = table.merge(src, on="k")
    assert stats["touched_partitions"] == ["2"]
    assert stats["files_carried"] == len(carried_before)
    # file audit: untouched partitions byte-identical, carried by reference
    after_entries = {e["path"]: e for e in table.manifest()["entries"]}
    for path, entry in untouched_before.items():
        assert path in after_entries, "untouched file dropped from manifest"
        assert after_entries[path] == entry
    after = _md5s(table)
    for path, digest in before.items():
        if path in after:  # carried files
            assert after[path] == digest, f"untouched file rewritten: {path}"
    # and the carried set is exactly the zone-map-cut set
    carried = set(before) & set(after)
    assert carried == carried_before
    # semantics: update applied, insert present, everything else intact
    rows = {r.k: (r.y, r.v) for r in table.read().collect()}
    assert rows[1] == (2, 999)
    assert rows[100] == (2, 1000)
    assert len(rows) == 31
    assert rows[0] == (1, 0) and rows[3] == (1, 30)


def test_snapshot_isolation_time_travel(table, spark):
    v1_rows = {(r.k, r.v) for r in table.read().collect()}
    table.merge(
        spark.createDataFrame([(2, 3, -1)], "k long, y int, v long"), on="k"
    )
    assert table.current_version() == 2
    assert {(r.k, r.v) for r in table.read(version=1).collect()} == v1_rows
    assert (2, -1) in {(r.k, r.v) for r in table.read().collect()}


def test_merge_new_partition_carries_everything(table, spark):
    n_before = len(table.manifest()["entries"])
    stats = table.merge(
        spark.createDataFrame([(200, 9, 1)], "k long, y int, v long"), on="k"
    )
    assert stats["touched_partitions"] == ["9"]
    assert stats["files_rewritten"] == 0
    assert stats["files_carried"] == n_before
    assert table.read(partitions=[9]).count() == 1


def test_composite_key_merge(table, spark):
    # merge on (y, k): updates in place, row count unchanged (k=4 lives
    # in partition y=2 since base sets y = k % 3 + 1)
    src = spark.createDataFrame([(4, 2, 777)], "k long, y int, v long")
    table.merge(src, on=["y", "k"])
    rows = {(r.k, r.y): r.v for r in table.read().collect()}
    assert rows[(4, 2)] == 777
    assert len(rows) == 30


def test_schema_evolution_without_rewrite(table, spark):
    before = _md5s(table, partitions=[1, 3])
    src = spark.createDataFrame(
        [(1, 2, 5, "new")], "k long, y int, v long, tag string"
    )
    table.merge(src, on="k")
    # old files untouched yet readable with the evolved schema
    assert _md5s(table, partitions=[1, 3]) == before
    got = table.read()
    assert [f.name for f in got.schema.fields] == ["k", "y", "v", "tag"]
    rows = {r.k: r.tag for r in got.collect()}
    assert rows[1] == "new"
    assert rows[0] is None  # NULL-filled from pre-evolution file


def test_delete_partition_pruned(table):
    before = _md5s(table, partitions=[1, 2])
    stats = table.delete(F.col("y") == 3)
    assert stats["touched_partitions"] == ["3"]
    assert _md5s(table, partitions=[1, 2]) == before
    assert table.read().filter(F.col("y") == 3).count() == 0
    assert table.read().count() == 20
    # deleting rows that don't exist touches nothing
    stats = table.delete(F.col("v") == -12345)
    assert stats["touched_partitions"] == []
    assert stats["files_rewritten"] == 0


def test_partition_pruned_read_plans_fewer_files(table):
    all_files = table.files()
    pruned = table.files(partitions=[2])
    assert 0 < len(pruned) < len(all_files)
    assert table.read(partitions=[2]).count() == 10


def test_commit_conflict_raises(table, spark, tmp_path):
    # a second handle that read v1 and tries to commit v2 after the first
    # handle already did -> loud conflict, not last-write-wins
    other = ManifestTable(spark, str(tmp_path), "t")
    m = other.manifest()
    table.merge(
        spark.createDataFrame([(0, 1, 1)], "k long, y int, v long"), on="k"
    )
    stale = dict(m, version=m["version"] + 1, operation="merge")
    with pytest.raises(CommitConflict):
        other._commit(stale)
    assert table.read().count() == 30  # winner's commit intact


def test_vacuum_keeps_referenced_files(table, spark):
    table.merge(
        spark.createDataFrame([(1, 2, 0)], "k long, y int, v long"), on="k"
    )
    table.merge(
        spark.createDataFrame([(2, 3, 0)], "k long, y int, v long"), on="k"
    )
    live = set(table.files())
    res = table.vacuum(keep_versions=1)
    assert res["removed_manifests"] == 2
    assert res["removed_files"] > 0
    assert set(table.files()) == live
    assert all(os.path.isfile(p) for p in live)
    assert table.versions() == [3]
    assert table.read().count() == 30  # both merges updated existing keys


def test_unpartitioned_fallback(spark, tmp_path):
    t = ManifestTable(spark, str(tmp_path), "flat")
    t.create(spark.range(5).select(F.col("id").alias("k")))
    t.merge(spark.createDataFrame([(7,)], "k long"), on="k")
    assert {r.k for r in t.read().collect()} == {0, 1, 2, 3, 4, 7}


def test_null_partition_value(spark, tmp_path):
    t = ManifestTable(spark, str(tmp_path), "nulls")
    df = spark.createDataFrame(
        [(1, None, 10), (2, "a", 20)],
        T.StructType(
            [
                T.StructField("k", T.LongType()),
                T.StructField("g", T.StringType()),
                T.StructField("v", T.LongType()),
            ]
        ),
    )
    t.create(df, partition_by="g")
    stats = t.merge(
        spark.createDataFrame(
            [(1, None, 11)],
            df.schema,
        ),
        on="k",
    )
    assert stats["touched_partitions"] == ["__HIVE_DEFAULT_PARTITION__"]
    rows = {r.k: (r.g, r.v) for r in t.read().collect()}
    assert rows[1] == (None, 11) and rows[2] == ("a", 20)


def test_compact_preserves_content_and_prunes(table, spark):
    # three single-row merges into partition y=2 -> many small files there
    for k, v in ((1, 101), (4, 104), (7, 107)):
        table.merge(
            spark.createDataFrame([(k, 2, v)], "k long, y int, v long"), on="k"
        )
    before_rows = {(r.k, r.y, r.v) for r in table.read().collect()}
    m = table.manifest()
    files_y2 = [e for e in m["entries"] if e["partition"] == "2"]
    assert len(files_y2) >= 2
    # compact rewrites each partition holding at least min_files data
    # files; the rest are cold. At one file per partition y=1 and y=3
    # are cold; at more, every partition is eligible.
    assert not any(e.get("dv") for e in m["entries"])
    counts = Counter(e["partition"] for e in m["entries"])
    hot = sorted(p for p, n in counts.items() if n >= 2)
    cold = sorted(p for p, n in counts.items() if n < 2)
    cold_before = _md5s(table, partitions=cold)
    stats = table.compact(min_files=2)
    assert stats["touched_partitions"] == hot
    assert stats["files_written"] < stats["files_rewritten"]
    # logical content unchanged; cold partitions byte-identical
    assert {(r.k, r.y, r.v) for r in table.read().collect()} == before_rows
    if cold:  # files(partitions=[]) lists nothing: no check to make
        assert _md5s(table, partitions=cold) == cold_before
    # idempotent: each compacted partition is left with exactly one file
    after = table.manifest()["entries"]
    for p in hot:
        assert len([e for e in after if e["partition"] == p]) == 1


def test_stream_merge_manifest_micro_batches(table, spark, tmp_path):
    """Streaming MERGE sink: one manifest commit per non-empty micro-batch,
    partition-pruned per batch, final state = upsert of the whole feed."""
    from forklift_spark.streaming.jobs import stream_merge_manifest

    src = str(tmp_path / "feed")
    ckpt = str(tmp_path / "ckpt")
    schema = "k long, y int, v long"
    # two input files -> maxFilesPerTrigger=1 forces 2 micro-batches
    spark.createDataFrame([(1, 2, 201), (100, 2, 202)], schema).coalesce(
        1
    ).write.parquet(src)
    spark.createDataFrame([(2, 3, 301)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    v0 = table.current_version()
    q = stream_merge_manifest(
        spark,
        src,
        table,
        on="k",
        partition_by="y",
        schema=schema,
        checkpoint_dir=ckpt,
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    assert table.current_version() == v0 + 2  # one commit per micro-batch
    rows = {r.k: (r.y, r.v) for r in table.read().collect()}
    assert rows[1] == (2, 201) and rows[100] == (2, 202) and rows[2] == (3, 301)
    assert len(rows) == 31
    # each commit named only the partitions its batch touched
    hist = table.history()[-2:]
    assert all(h["operation"] == "merge" for h in hist)
    assert {tuple(h["touched_partitions"]) for h in hist} == {("2",), ("3",)}


def test_zone_map_stats_and_file_skipping(spark, tmp_path):
    t = ManifestTable(spark, str(tmp_path), "zoned")
    # 4 files per partition via repartitionByRange on v: disjoint v ranges
    df = spark.range(400).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("int").alias("y"),
        F.col("id").alias("v"),
    ).repartitionByRange(4, "v")
    t.create(df, partition_by="y")
    entries = t.manifest()["entries"]
    assert all("stats" in e for e in entries)
    for e in entries:
        lo, hi = e["stats"]["v"]
        assert int(lo) <= int(hi)
    # range predicate intersects ~1/4 of the v domain -> fewer files planned
    all_files = t.files()
    pruned = t.files(where={"v": (0, 50)})
    assert 0 < len(pruned) < len(all_files)
    got = {r.v for r in t.read(where={"v": (0, 50)}).collect()}
    assert got == set(range(0, 51))
    # point lookup: (k, k) interval
    assert t.read(where={"v": (399, 399)}).count() == 1
    # open-ended bound
    assert t.read(where={"v": (350, None)}).count() == 50
    # files written before stats existed still match (no false skip)
    e0 = t.manifest()["entries"][0]
    del e0["stats"]
    assert t._file_matches(e0, "v", (0, 1), key=float)


def test_zone_map_all_null_column_skips(spark, tmp_path):
    t = ManifestTable(spark, str(tmp_path), "nullstats")
    df = spark.createDataFrame(
        [(1, None), (2, None)], "k long, v double"
    )
    t.create(df)
    assert t.files(where={"v": (0.0, 10.0)}) == []
    assert t.read(where={"v": (0.0, 10.0)}).count() == 0
    # but the rows are still there without the predicate
    assert t.read().count() == 2


def test_count_rows_metadata_only(table, spark):
    assert table.count_rows() == 30
    assert table.count_rows(partitions=[2]) == 10
    table.merge(
        spark.createDataFrame([(100, 2, 1)], "k long, y int, v long"), on="k"
    )
    assert table.count_rows() == 31
    # entries predating row stats -> honest None, not a wrong number
    m = table.manifest()
    del m["entries"][0]["rows"]
    import json, os
    with open(os.path.join(table.path, f"manifest-v{m['version']}.json"), "w") as fh:
        json.dump(m, fh)
    assert table.count_rows() is None


def test_restore_is_a_new_commit(table, spark):
    v1_rows = {(r.k, r.v) for r in table.read().collect()}
    table.merge(
        spark.createDataFrame([(1, 2, -9)], "k long, y int, v long"), on="k"
    )
    table.delete(F.col("y") == 1)
    assert table.read().count() == 20
    stats = table.restore(1)
    assert stats["version"] == 4  # history preserved, rollback is a commit
    assert {(r.k, r.v) for r in table.read().collect()} == v1_rows
    # vacuum to head keeps restored files live
    table.vacuum(keep_versions=1)
    assert {(r.k, r.v) for r in table.read().collect()} == v1_rows


def test_manifest_connection_patterns(spark, tmp_path):
    """The MERGE warehouse behind the Connection surface: pipe creates,
    incremental_pipe HWM-syncs with a PARTITION-PRUNED merge, SQL
    pass-through reads, metadata count, drop."""
    import datetime as dt

    from types import SimpleNamespace

    from forklift_spark.connections.manifest import ManifestConnection
    from forklift_spark.connections.parquet import ParquetConnection
    from forklift_spark.patterns import incremental_pipe, pipe

    engine = SimpleNamespace(
        spark=spark, logger=SimpleNamespace(log=lambda *_: None)
    )
    src = ParquetConnection({"path": str(tmp_path / "src")}, engine, "src")
    wh = ManifestConnection(
        {"path": str(tmp_path / "wh"), "partition_by": {"users": "region"}},
        engine,
        "wh",
    )
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, "eu", 10, t0),
        (2, "us", 20, t0),
        (3, "eu", 30, t0 + dt.timedelta(days=1)),
    ]
    schema = "id long, region string, v long, updated_at timestamp"
    src.write(
        spark.createDataFrame(rows, schema), "users", mode="overwrite"
    )
    pipe(src, "users", wh, "users")
    assert wh.count("users") == 3
    assert wh.table("users").manifest()["partition_by"] == "region"
    # source gains a newer row + an update past the HWM
    src.write(
        spark.createDataFrame(
            [(2, "us", 25, t0 + dt.timedelta(days=2)),
             (4, "eu", 40, t0 + dt.timedelta(days=3))],
            schema,
        ),
        "users",
        mode="upsert",
        primary_key="id",
    )
    v_before = wh.table("users").current_version()
    incremental_pipe(src, "users", wh, "users", matcher="updated_at", primary_key="id")
    got = {r.id: (r.region, r.v) for r in wh.read("users").collect()}
    assert got == {1: ("eu", 10), 2: ("us", 25), 3: ("eu", 30), 4: ("eu", 40)}
    # the sync was ONE partition-pruned merge commit
    m = wh.table("users").manifest()
    assert m["version"] == v_before + 1
    assert sorted(m["touched_partitions"]) == ["eu", "us"]
    # SQL pass-through + utilities
    n_eu = wh.read("SELECT count(*) AS n FROM users WHERE region = 'eu'").first().n
    assert n_eu == 3
    assert wh.tables() == ["users"]
    wh.drop("users")
    assert wh.tables() == []


def test_occ_disjoint_rebase_zero_recompute(table, spark, monkeypatch):
    """Two writers race on DISJOINT partitions: the loser rebases — its
    already-written files are re-referenced against the winner's head
    with no snapshot rewrite — and BOTH merges land."""
    other = ManifestTable(spark, str(table.path).rsplit("/", 1)[0], "t")
    snapshots = {"n": 0}
    real_write = table._write_snapshot

    def counting_write(df, part, writer_options=None, bucket_by=None):
        snapshots["n"] += 1
        entries = real_write(df, part, writer_options, bucket_by=bucket_by)
        if snapshots["n"] == 1:
            # inject the competing commit AFTER our snapshot, BEFORE our
            # commit: winner merges into partition y=3 (we touch y=2)
            other.merge(
                spark.createDataFrame([(2, 3, 555)], "k long, y int, v long"),
                on="k",
            )
        return entries

    monkeypatch.setattr(table, "_write_snapshot", counting_write)
    stats = table.merge(
        spark.createDataFrame([(1, 2, 111)], "k long, y int, v long"),
        on="k",
        max_retries=2,
    )
    assert snapshots["n"] == 1, "disjoint rebase must not rewrite the snapshot"
    assert stats["version"] == 3  # winner took v2, loser rebased onto v3
    rows = {r.k: (r.y, r.v) for r in table.read().collect()}
    assert rows[1] == (2, 111) and rows[2] == (3, 555)  # both merges visible
    assert len(rows) == 30


def test_occ_overlapping_recompute(table, spark, monkeypatch):
    """Two writers race on the SAME partition: the loser must recompute
    from the winner's head (a rebase would resurrect the pre-winner
    state of the partition) — final state composes both merges."""
    other = ManifestTable(spark, str(table.path).rsplit("/", 1)[0], "t")
    snapshots = {"n": 0}
    real_write = table._write_snapshot

    def counting_write(df, part, writer_options=None, bucket_by=None):
        snapshots["n"] += 1
        entries = real_write(df, part, writer_options, bucket_by=bucket_by)
        if snapshots["n"] == 1:
            other.merge(  # winner updates k=4 in the SAME partition y=2
                spark.createDataFrame([(4, 2, 444)], "k long, y int, v long"),
                on="k",
            )
        return entries

    monkeypatch.setattr(table, "_write_snapshot", counting_write)
    table.merge(
        spark.createDataFrame([(1, 2, 111)], "k long, y int, v long"),
        on="k",
        max_retries=2,
    )
    assert snapshots["n"] == 2, "overlapping conflict must recompute"
    rows = {r.k: (r.y, r.v) for r in table.read().collect()}
    # BOTH writes survive: recompute re-read the winner's k=4
    assert rows[1] == (2, 111) and rows[4] == (2, 444)
    assert len(rows) == 30


def test_occ_no_retries_still_raises(table, spark, monkeypatch):
    other = ManifestTable(spark, str(table.path).rsplit("/", 1)[0], "t")
    real_write = table._write_snapshot
    fired = {"done": False}

    def racing_write(df, part, writer_options=None, bucket_by=None):
        entries = real_write(df, part, writer_options, bucket_by=bucket_by)
        if not fired["done"]:
            fired["done"] = True
            other.merge(
                spark.createDataFrame([(2, 3, 5)], "k long, y int, v long"), on="k"
            )
        return entries

    monkeypatch.setattr(table, "_write_snapshot", racing_write)
    with pytest.raises(CommitConflict):
        table.merge(
            spark.createDataFrame([(1, 2, 1)], "k long, y int, v long"), on="k"
        )


def test_compact_zorder_clusters_zone_maps(spark, tmp_path):
    """OPTIMIZE ZORDER: after cluster_by compaction, per-file [min, max]
    ranges on the cluster column are tight enough that a narrow range
    predicate plans strictly fewer files — on data written in an order
    that made every pre-compact file cover the whole value domain."""
    t = ManifestTable(spark, str(tmp_path), "zopt")
    # round-robin layout: each of 4 input files spans the FULL v domain,
    # so zone maps are useless before clustering (no hash column — a
    # hash collision can leave an EMPTY file, which footer stats rightly
    # prune as zero-row, breaking the every-file-matches premise)
    df = spark.range(4000).select(
        F.col("id").alias("k"),
        (F.col("id") % 1000).alias("v"),
    ).repartition(4)
    t.create(df)
    before = t.files(where={"v": (0, 49)})
    assert len(before) == len(t.files())  # every file matches: no skipping
    stats = t.compact(cluster_by=["v"], max_records_per_file=500)
    assert stats["files_written"] >= 8
    after = t.files(where={"v": (0, 49)})
    assert 0 < len(after) < len(t.files())  # clustered ranges now prune
    got = t.read(where={"v": (0, 49)})
    assert got.count() == 4000 // 1000 * 50
    assert {r.v for r in got.collect()} == set(range(50))


# ---------------------------------------------------------------------------
# Deletion vectors (positional deletes) — the Delta DV / Iceberg v2 shape:
# DELETE/MERGE commits that rewrite NO data file at all.
# ---------------------------------------------------------------------------
def test_dv_delete_rewrites_nothing(table):
    before = _md5s(table)
    stats = table.delete(F.col("k") % 5 == 0, use_dv=True)
    assert stats["files_rewritten"] == 0
    assert stats["rows_masked"] == 6
    after = _md5s(table)
    # EVERY data file byte-identical and still referenced
    assert after == before
    rows = {r.k for r in table.read().collect()}
    assert rows == {k for k in range(30) if k % 5 != 0}
    # metadata-only count reflects the masks without opening a file
    assert table.count_rows() == 24
    # time travel: the pre-delete version still shows the masked rows
    assert {r.k for r in table.read(version=1).collect()} == set(range(30))


def test_dv_delete_accumulates_and_merges_priors(table):
    table.delete(F.col("k") == 3, use_dv=True)
    table.delete(F.col("k") == 6, use_dv=True)
    # second commit's dv carries the prior positions for re-hit files:
    # every entry references exactly ONE dv with its full mask count
    rows = {r.k for r in table.read().collect()}
    assert rows == set(range(30)) - {3, 6}
    assert table.count_rows() == 28
    for e in table.manifest()["entries"]:
        if e.get("dv"):
            assert e["dv_rows"] >= 1


def test_dv_delete_no_match_is_noop(table):
    v = table.current_version()
    stats = table.delete(F.col("k") == 999, use_dv=True)
    assert stats["rows_masked"] == 0
    assert table.current_version() == v  # no empty commit


def test_dv_merge_appends_only(table, spark):
    before = _md5s(table)
    src = spark.createDataFrame(
        [(1, 2, 999), (100, 2, 1000)], "k long, y int, v long"
    )
    stats = table.merge(src, on="k", use_dv=True)
    assert stats["files_rewritten"] == 0
    assert stats["rows_masked"] == 1  # k=1 existed and was masked
    after = _md5s(table)
    # every pre-merge file byte-identical AND still live (dv-masked)
    for path, digest in before.items():
        assert after[path] == digest, f"pre-merge file rewritten: {path}"
    rows = {r.k: (r.y, r.v) for r in table.read().collect()}
    assert rows[1] == (2, 999) and rows[100] == (2, 1000)
    assert len(rows) == 31


def test_dv_matches_rewrite_semantics(spark, tmp_path, base_df):
    """dv-mode and rewrite-mode deletes/merges produce identical logical
    state on twin tables."""
    a = ManifestTable(spark, str(tmp_path), "a")
    b = ManifestTable(spark, str(tmp_path), "b")
    a.create(base_df, partition_by="y")
    b.create(base_df, partition_by="y")
    pred = (F.col("v") % 40 == 0) & (F.col("k") < 20)
    a.delete(pred)
    b.delete(pred, use_dv=True)
    src = spark.createDataFrame([(2, 3, -7), (50, 1, 7)], "k long, y int, v long")
    a.merge(src, on="k")
    b.merge(src, on="k", use_dv=True)
    rows_a = sorted((r.k, r.y, r.v) for r in a.read().collect())
    rows_b = sorted((r.k, r.y, r.v) for r in b.read().collect())
    assert rows_a == rows_b


def test_compact_materializes_dv(table):
    table.delete(F.col("k") % 3 == 0, use_dv=True)
    want = {r.k for r in table.read().collect()}
    stats = table.compact(min_files=1)
    assert stats["files_rewritten"] > 0
    m = table.manifest()
    assert not any(e.get("dv") for e in m["entries"]), "dv not materialized"
    assert {r.k for r in table.read().collect()} == want
    assert table.count_rows() == len(want)


def test_vacuum_retains_referenced_dv(table, spark):
    table.delete(F.col("k") == 5, use_dv=True)
    table.vacuum(keep_versions=1)
    # the dv sidecar survives vacuum because the head manifest names it
    assert {r.k for r in table.read().collect()} == set(range(30)) - {5}
    # after compaction nothing references dvs; vacuum removes them
    table.compact(min_files=1)
    table.vacuum(keep_versions=1)
    dv_root = os.path.join(table.path, "dv")
    assert not os.path.isdir(dv_root) or not os.listdir(dv_root)
    assert {r.k for r in table.read().collect()} == set(range(30)) - {5}


def test_dv_special_partition_tokens(spark, tmp_path):
    """URI-encoded partition dirs (space, %, =) round-trip through the
    dv file_ref mapping — the executor joins on raw encoded refs while
    the driver bookkeeping unquotes them back to fs entry paths."""
    t = ManifestTable(spark, str(tmp_path), "funky")
    df = spark.createDataFrame(
        [(1, "a b"), (2, "e%f"), (3, "g=h"), (4, "a b"), (5, "c+d")],
        "k long, p string",
    )
    t.create(df, partition_by="p")
    stats = t.delete(F.col("k").isin(1, 2, 5), use_dv=True)
    assert stats["files_rewritten"] == 0 and stats["rows_masked"] == 3
    assert {r.k for r in t.read().collect()} == {3, 4}
    assert t.count_rows() == 2
    # zone-map stats attached despite encoded dir names (unquote fix)
    assert all("rows" in e for e in t.manifest()["entries"])


# ---------------------------------------------------------------------------
# changes(): version-diff CDC from plain manifests
# ---------------------------------------------------------------------------
def test_changes_merge_feed(table, spark):
    src = spark.createDataFrame(
        [(1, 2, 999), (100, 2, 1000)], "k long, y int, v long"
    )
    table.merge(src, on="k")
    feed = {
        (r.k, r.v, r._change_type) for r in table.changes(1, 2).collect()
    }
    assert feed == {
        (1, 10, "delete"),  # old row of updated key
        (1, 999, "insert"),
        (100, 1000, "insert"),
    }


def test_changes_dv_delete_feed(table):
    table.delete(F.col("k").isin(4, 8), use_dv=True)
    feed = {(r.k, r._change_type) for r in table.changes(1, 2).collect()}
    assert feed == {(4, "delete"), (8, "delete")}


def test_changes_layout_moves_cancel(table):
    """compact and restore are pure layout moves: zero change rows."""
    table.merge(
        table.spark.createDataFrame([(0, 1, -1)], "k long, y int, v long"),
        on="k",
    )
    v = table.current_version()
    table.compact(min_files=1)
    assert table.changes(v, table.current_version()).count() == 0
    # restore back to v: net change vs v is also zero
    table.restore(v)
    assert table.changes(v, table.current_version()).count() == 0


def test_changes_across_schema_evolution(table, spark):
    src = spark.createDataFrame(
        [(200, 2, 5, "new")], "k long, y int, v long, tag string"
    )
    table.merge(src, on="k")
    feed = [(r.k, r.tag, r._change_type) for r in table.changes(1, 2).collect()]
    assert feed == [(200, "new", "insert")]


def test_changes_dv_diff_reserved_column_names(spark, tmp_path):
    """The dv-position diff joins the changed-file scan against a
    (file_ref, pos) frame; data columns that SHARE those names (or that
    a careless implementation would drop) must ride through unharmed,
    in both diff directions (mask -> deletes, restore -> inserts)."""
    df = spark.range(6).select(
        F.col("id").alias("k"),
        F.concat(F.lit("f"), F.col("id")).alias("file_ref"),
        (F.col("id") * 7).cast("long").alias("pos"),
    )
    t = ManifestTable(spark, str(tmp_path), "resv")
    t.create(df)
    t.delete(F.col("k").isin(2, 5), use_dv=True)
    v_masked = t.current_version()
    feed = {
        (r.k, r.file_ref, r.pos, r._change_type)
        for r in t.changes(1, v_masked).collect()
    }
    assert feed == {(2, "f2", 14, "delete"), (5, "f5", 35, "delete")}
    # restore drops the dv mask: same positions, opposite direction
    t.restore(1)
    feed = {
        (r.k, r.file_ref, r.pos, r._change_type)
        for r in t.changes(v_masked, t.current_version()).collect()
    }
    assert feed == {(2, "f2", 14, "insert"), (5, "f5", 35, "insert")}


def test_stream_merge_manifest_dv_mode(table, spark, tmp_path):
    """Streaming MERGE with use_dv: each micro-batch masks + appends —
    no data file that predates the stream is ever rewritten."""
    from forklift_spark.streaming.jobs import stream_merge_manifest

    src = str(tmp_path / "feed")
    ckpt = str(tmp_path / "ckpt")
    schema = "k long, y int, v long"
    spark.createDataFrame([(1, 2, 201), (31, 2, 202)], schema).coalesce(
        1
    ).write.parquet(src)
    spark.createDataFrame([(2, 3, 301)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    before = _md5s(table)
    q = stream_merge_manifest(
        spark, src, table, on="k", partition_by="y", schema=schema,
        checkpoint_dir=ckpt, max_files_per_trigger=1, use_dv=True,
    )
    q.awaitTermination(120)
    after = _md5s(table)
    for path, digest in before.items():
        assert after[path] == digest, f"pre-stream file rewritten: {path}"
    rows = {r.k: (r.y, r.v) for r in table.read().collect()}
    assert rows[1] == (2, 201) and rows[31] == (2, 202) and rows[2] == (3, 301)
    assert len(rows) == 31
    assert all(h["operation"] == "merge+dv" for h in table.history()[-2:])


# ---------------------------------------------------------------------------
# Bucketed layout: key-hash cells inside each partition
# ---------------------------------------------------------------------------
@pytest.fixture()
def bucketed(spark, tmp_path):
    t = ManifestTable(spark, str(tmp_path), "bt")
    df = spark.range(400).select(
        F.col("id").alias("k"),
        (F.col("id") % 2 + 1).cast("int").alias("y"),
        (F.col("id") * 10).alias("v"),
    )
    t.create(df, partition_by="y", bucket_by=("k", 4))
    return t


def test_bucketed_merge_touches_only_cells(bucketed, spark):
    m = bucketed.manifest()
    assert m["bucket_by"] == ["k", 4]
    assert all("bucket" in e for e in m["entries"])
    before = _md5s(bucketed)
    # one key -> one (partition, bucket) cell
    src = spark.createDataFrame([(7, 2, -7)], "k long, y int, v long")
    stats = bucketed.merge(src, on="k")
    cell_files = [
        e for e in m["entries"]
        if e["partition"] == "2"
    ]
    assert stats["files_rewritten"] <= max(
        1, len(cell_files) // 4 + 1
    ), stats  # a single cell, not the whole partition
    after = _md5s(bucketed)
    carried = [p for p in before if p in after and before[p] == after[p]]
    assert len(carried) == len(before) - stats["files_rewritten"]
    rows = {r.k: r.v for r in bucketed.read().collect()}
    assert rows[7] == -7 and rows[8] == 80 and len(rows) == 400


def test_bucketed_dv_merge_and_delete(bucketed, spark):
    before = _md5s(bucketed)
    src = spark.createDataFrame([(6, 1, -6), (401, 2, 1)], "k long, y int, v long")
    stats = bucketed.merge(src, on="k", use_dv=True)
    assert stats["files_rewritten"] == 0 and stats["rows_masked"] == 1
    after = _md5s(bucketed)
    for p, d in before.items():
        assert after[p] == d
    rows = {r.k: r.v for r in bucketed.read().collect()}
    assert rows[6] == -6 and rows[401] == 1 and len(rows) == 401
    bucketed.delete(F.col("k") < 4, use_dv=True)
    assert bucketed.read().count() == 397


def test_bucketed_point_lookup_prunes_cells(bucketed):
    total = len(bucketed.files())
    pruned = bucketed.files(where={"k": (9, 9)})
    # eq bound -> one bucket per partition (plus zone-map cuts)
    assert 0 < len(pruned) <= total // 4 + 1
    got = bucketed.read(where={"k": (9, 9)}).collect()
    assert len(got) == 1 and got[0].v == 90
    # RANGE bounds must not bucket-prune (hash is not order-preserving)
    assert bucketed.read(where={"k": (0, 9)}).count() == 10


def test_bucketed_compact_preserves_cells(bucketed, spark):
    bucketed.merge(
        spark.createDataFrame([(3, 2, -3)], "k long, y int, v long"),
        on="k", use_dv=True,
    )
    want = {(r.k, r.v) for r in bucketed.read().collect()}
    bucketed.compact(min_files=1)
    m = bucketed.manifest()
    assert m["bucket_by"] == ["k", 4]
    assert all("bucket" in e for e in m["entries"])
    assert {(r.k, r.v) for r in bucketed.read().collect()} == want
    pruned = bucketed.files(where={"k": (9, 9)})
    assert 0 < len(pruned) < len(bucketed.files())


def test_bucketed_merge_key_without_bucket_col(bucketed, spark):
    """Merging on a key that does NOT contain the bucket column falls
    back to partition-level scope and stays correct."""
    stats = bucketed.merge(
        spark.createDataFrame([(999, 1, 123456)], "k long, y int, v long"),
        on=["y", "v"],
    )
    assert stats["touched_partitions"] == ["1"]
    rows = {r.k for r in bucketed.read().filter("v = 123456").collect()}
    assert rows == {999}


def test_zorder_compact_materializes_dv(spark, tmp_path):
    """OPTIMIZE ZORDER over a dv-masked table: the clustered rewrite
    reads THROUGH the mask (deleted rows stay gone) and drops the dv."""
    t = ManifestTable(spark, str(tmp_path), "zdv")
    df = spark.range(2000).select(
        F.col("id").alias("k"), (F.col("id") % 1000).alias("v")
    )
    t.create(df.repartition(4))
    t.delete(F.col("k") % 10 == 0, use_dv=True)
    want = {r.k for r in t.read().collect()}
    t.compact(cluster_by=["v"], max_records_per_file=500)
    m = t.manifest()
    assert not any(e.get("dv") for e in m["entries"])
    assert {r.k for r in t.read().collect()} == want
    # clustering still effective: narrow v-range prunes files
    assert 0 < len(t.files(where={"v": (0, 49)})) < len(t.files())


def test_delete_keys_set_based(table, spark):
    """Set-based purge: dv by default (zero rewrites), pruned when the
    key frame carries the partition column."""
    before = _md5s(table)
    purge = spark.createDataFrame([(3,), (7,), (999,)], "k long")
    stats = table.delete_keys(purge, on="k")
    assert stats["files_rewritten"] == 0 and stats["rows_masked"] == 2
    assert _md5s(table) == before  # nothing rewritten
    assert {r.k for r in table.read().collect()} == set(range(30)) - {3, 7}
    # rewrite mode on twin keys
    stats = table.delete_keys(
        spark.createDataFrame([(8,)], "k long"), on="k", use_dv=False
    )
    assert stats["files_rewritten"] > 0
    assert {r.k for r in table.read().collect()} == set(range(30)) - {3, 7, 8}


def test_manifest_cdc_sync_replicates(table, spark, tmp_path):
    """Version-cursor replication: replica == primary after update,
    insert, delete, and schema evolution flow through the change feed."""
    from forklift_spark.patterns import manifest_cdc_sync

    dst = ManifestTable(spark, str(tmp_path), "replica")
    cursor = manifest_cdc_sync(table, dst, on="k")["to_version"]
    assert dst.read().count() == 30
    table.merge(
        spark.createDataFrame(
            [(1, 2, 999, "tagged"), (100, 2, 5, "new")],
            "k long, y int, v long, tag string",
        ),
        on="k",
        use_dv=True,
    )
    table.delete(F.col("k").isin(4, 9), use_dv=True)
    stats = manifest_cdc_sync(table, dst, on="k", since_version=cursor)
    assert stats["mode"] == "delta"
    a = sorted(map(tuple, table.read().collect()))
    b = sorted(map(tuple, dst.read().collect()))
    assert a == b and len(a) == 29
    # cursor replay is idempotent
    stats = manifest_cdc_sync(
        table, dst, on="k", since_version=stats["to_version"]
    )
    assert stats["mode"] == "noop"


# ---------------------------------------------------------------------------
# Bloom-filter file skipping
# ---------------------------------------------------------------------------
def test_bloom_skipping_no_false_negatives(spark, tmp_path):
    t = ManifestTable(spark, str(tmp_path), "bl")
    df = spark.range(5000).select(
        F.md5(F.col("id").cast("string")).alias("uid"),
        (F.col("id") % 2).cast("string").alias("p"),
        F.col("id").alias("v"),
    )
    t.create(df.repartition(6), partition_by="p", bloom_cols=["uid"])
    m = t.manifest()
    assert m["bloom"]["cols"] == ["uid"]
    assert all("uid" in e.get("bloom", {}) for e in m["entries"])
    # EVERY present key must be found (bloom can never false-negative)
    for v in (0, 1, 2499, 4999):
        uid = df.filter(F.col("v") == v).collect()[0]["uid"]
        got = t.read(where={"uid": (uid, uid)}).collect()
        assert len(got) == 1 and got[0].v == v
        assert 0 < len(t.files(where={"uid": (uid, uid)})) < len(t.files())
    # absent key: zero rows (and typically zero files planned)
    assert t.read(where={"uid": ("nope", "nope")}).count() == 0


def test_bloom_survives_merge_and_compact(spark, tmp_path):
    t = ManifestTable(spark, str(tmp_path), "bl2")
    df = spark.range(2000).select(
        F.md5(F.col("id").cast("string")).alias("uid"),
        (F.col("id") % 2).cast("string").alias("p"),
        F.col("id").alias("v"),
    )
    t.create(df.repartition(4), partition_by="p", bloom_cols=["uid"])
    t.merge(
        df.filter("v < 5").withColumn("v", F.col("v") + 10000),
        on="uid",
        use_dv=True,
    )
    # config inherited: the appended snapshot carries blooms too
    assert all("bloom" in e for e in t.manifest()["entries"])
    uid = df.filter("v = 3").collect()[0]["uid"]
    got = t.read(where={"uid": (uid, uid)}).collect()
    assert len(got) == 1 and got[0].v == 10003  # dv + bloom compose
    t.compact(min_files=1)
    assert all("bloom" in e for e in t.manifest()["entries"])
    got = t.read(where={"uid": (uid, uid)}).collect()
    assert len(got) == 1 and got[0].v == 10003


# ---------------------------------------------------------------------------
# Crash safety: a writer that dies between snapshot write and commit
# leaves GARBAGE, never corruption — readers are unaffected and vacuum
# reclaims the orphans.
# ---------------------------------------------------------------------------
def test_crashed_writer_leaves_readers_unaffected(table, spark, monkeypatch):
    want = {(r.k, r.v) for r in table.read().collect()}
    v0 = table.current_version()

    def die(manifest):
        raise RuntimeError("simulated crash before commit")

    monkeypatch.setattr(table, "_commit", die)
    with pytest.raises(RuntimeError, match="simulated crash"):
        table.merge(
            spark.createDataFrame([(1, 2, -1)], "k long, y int, v long"),
            on="k",
        )
    monkeypatch.undo()
    # pointer untouched; logical state identical; orphan files on disk
    assert table.current_version() == v0
    assert {(r.k, r.v) for r in table.read().collect()} == want
    data_root = os.path.join(table.path, "data")
    snaps = os.listdir(data_root)
    assert len(snaps) > 1, "crashed writer should have left an orphan snapshot"
    # a default-grace vacuum must NOT touch the fresh orphan — it is
    # indistinguishable from a LIVE writer's staged-not-yet-committed
    # snapshot (the r5 ADVICE corruption: OCC guards the pointer swap,
    # not uncommitted files)
    res = table.vacuum(keep_versions=1)
    assert res["skipped_recent_orphans"] > 0
    assert set(os.listdir(data_root)) == set(snaps)
    # grace 0 = operator asserts no live writers: reclaim crash debris
    table.vacuum(keep_versions=1, orphan_grace_seconds=0)
    live = {e["path"].split(os.sep)[1] for e in table.manifest()["entries"]}
    assert set(os.listdir(data_root)) == live
    assert {(r.k, r.v) for r in table.read().collect()} == want


def test_crashed_dv_writer_orphan_reclaimed(table, spark, monkeypatch):
    table.delete(F.col("k") == 1, use_dv=True)  # a real dv to retain
    want = {r.k for r in table.read().collect()}

    def die(manifest):
        raise RuntimeError("simulated crash before commit")

    monkeypatch.setattr(table, "_commit", die)
    with pytest.raises(RuntimeError, match="simulated crash"):
        table.delete(F.col("k") == 2, use_dv=True)
    monkeypatch.undo()
    assert {r.k for r in table.read().collect()} == want
    dv_root = os.path.join(table.path, "dv")
    assert len(os.listdir(dv_root)) == 2  # one live, one orphan
    # fresh dv orphans sit inside the grace window (could be a live
    # writer's staged sidecar); explicit grace 0 reclaims crash debris
    table.vacuum(keep_versions=1)
    assert len(os.listdir(dv_root)) == 2
    table.vacuum(keep_versions=1, orphan_grace_seconds=0)
    # the referenced sidecar survives, the orphan is gone
    assert len(os.listdir(dv_root)) == 1
    assert {r.k for r in table.read().collect()} == want


def test_dv_read_plan_broadcasts_small_masks(table, spark):
    """The dv anti-join must be a BROADCAST hash join while the
    manifest-recorded mask total is small — a shuffled join on every
    read would tax the whole table for a handful of deletes."""
    table.delete(F.col("k") == 5, use_dv=True)
    plan = table.read()._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_composite_partition_column_pattern(spark, tmp_path):
    """Multi-dimensional partitioning via ONE derived composite column
    (module-docstring pattern): merge prunes on (day x region) cells."""
    t = ManifestTable(spark, str(tmp_path), "multi")
    df = spark.range(300).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("day"),
        (F.col("id") % 2).cast("string").alias("region"),
        F.col("id").alias("v"),
    ).withColumn("pcell", F.concat_ws("|", "day", "region"))
    t.create(df, partition_by="pcell")
    assert len({e["partition"] for e in t.manifest()["entries"]}) == 6
    before = _md5s(table=t)
    src = df.filter(F.col("k") == 7).withColumn("v", F.lit(-7).cast("long"))
    stats = t.merge(src, on="k")
    assert stats["touched_partitions"] == ["1|1"]  # k=7 -> day 1, region 1
    after = _md5s(table=t)
    carried = [p for p in before if p in after and before[p] == after[p]]
    assert len(carried) == len(before) - stats["files_rewritten"]
    rows = {r.k: r.v for r in t.read().collect()}
    assert rows[7] == -7 and len(rows) == 300
    # partition read on one composite cell
    assert t.read(partitions=["2|0"]).count() == 50


def test_alter_layout_rebuckets_and_blooms(bucketed, spark):
    """ALTER-layout: one atomic rewrite commit changes bucket count and
    adds blooms; old versions keep the old layout; content unchanged."""
    want = {(r.k, r.v) for r in bucketed.read().collect()}
    v0 = bucketed.current_version()
    stats = bucketed.alter_layout(bucket_by=("k", 8), bloom_cols=["k"])
    m = bucketed.manifest()
    assert m["bucket_by"] == ["k", 8]
    assert m["bloom"]["cols"] == ["k"]
    assert all("bloom" in e for e in m["entries"])
    assert {(r.k, r.v) for r in bucketed.read().collect()} == want
    assert bucketed.manifest(v0)["bucket_by"] == ["k", 4]  # history intact
    assert stats["files_written"] > 0
    # subsequent merges follow the NEW layout
    bucketed.merge(
        spark.createDataFrame([(1, 1, -1)], "k long, y int, v long"), on="k"
    )
    assert all(0 <= e["bucket"] < 8 for e in bucketed.manifest()["entries"])


def test_fsck_detects_damage(table, spark):
    table.delete(F.col("k") == 1, use_dv=True)
    rep = table.fsck()
    assert rep["ok"] and not rep["issues"]
    # orphan census: a crashed snapshot shows up as orphans, not issues
    victim = table.files()[0]
    size = os.path.getsize(victim)
    with open(victim, "ab") as fh:
        fh.write(b"x")
    rep = table.fsck()
    assert not rep["ok"] and any("size drift" in i for i in rep["issues"])
    with open(victim, "rb+") as fh:
        fh.truncate(size)
    os.remove(victim)
    rep = table.fsck()
    assert any("missing data file" in i for i in rep["issues"])


def test_occ_concurrent_writers_all_land(spark, tmp_path):
    """REAL concurrency: 4 threads race dv-merges into the same table
    with retries. Every batch must land exactly once (the retry loop
    serializes losers via rebase/recompute), and the final state equals
    the sequential application — keys are disjoint so order is
    irrelevant."""
    import threading

    t = ManifestTable(spark, str(tmp_path), "occ")
    base = spark.range(400).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("string").alias("p"),
        F.lit(0).cast("long").alias("v"),
    )
    t.create(base, partition_by="p")
    errors: list = []

    def writer(i: int):
        try:
            handle = ManifestTable(spark, str(tmp_path), "occ")
            src = spark.createDataFrame(
                [(400 + i, str(i % 4), i + 1)], "k long, p string, v long"
            )
            handle.merge(src, on="k", use_dv=True, max_retries=16)
        except Exception as e:  # noqa: BLE001
            errors.append((i, e))

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    rows = {r.k: r.v for r in t.read().collect()}
    assert len(rows) == 404
    for i in range(4):
        assert rows[400 + i] == i + 1
    # one commit per writer landed (plus create)
    assert t.current_version() == 5


def test_scan_plan_layers_match_actual_planning(spark, tmp_path):
    """scan_plan's per-layer counts are metadata-only EXPLAIN output;
    its final count must equal what files() actually plans, and its
    segments_parsed the segments that plan actually parses."""
    t = ManifestTable(spark, str(tmp_path), "sp")
    df = spark.range(4000).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("string").alias("p"),
        F.md5(F.col("id").cast("string")).alias("uid"),
        (F.col("id") % 100).alias("v"),
    )
    t.create(
        df.repartitionByRange(8, "v"),
        partition_by="p",
        bucket_by=("k", 4),
        bloom_cols=["uid"],
    )
    uid = df.filter("k = 77").collect()[0]["uid"]
    where = {"k": (77, 77), "uid": (uid, uid), "v": (77 % 100, 77 % 100)}
    plan = t.scan_plan(partitions=["1"], where=where)
    L = plan["layers"]
    assert L["total"] >= L["after_partitions"] >= L["after_zone_maps"] \
        >= L["after_bucket"] >= L["after_bloom"] == plan["files_planned"]
    assert plan["files_planned"] == len(t.files(partitions=["1"], where=where))
    assert plan["skip_ratio"] > 0.5
    got = t.read(partitions=["1"], where=where).collect()
    assert len(got) == 1 and got[0].k == 77

    # one planner, one answer: a grid of partitions x where (zone-map
    # range, bucket point, bloom point, all three) over many segments,
    # each with a narrow v range
    t.segment_target = 2
    t.checkpoint()
    loaded = []
    load = t._load_segment

    def counting_load(rel):
        loaded.append(rel)
        return load(rel)

    t._load_segment = counting_load
    zone_cut = False  # segment zone maps skipped a segment somewhere
    for parts in (None, ["1"], ["0", "3"]):
        for w in (None, {"v": (10, 30)}, {"k": (77, 77)},
                  {"uid": (uid, uid)}, where):
            plan = t.scan_plan(partitions=parts, where=w)
            L = plan["layers"]
            assert L["total"] >= L["after_partitions"] >= L["after_zone_maps"] \
                >= L["after_bucket"] >= L["after_bloom"] == plan["files_planned"]
            loaded.clear()
            planned = t.files(partitions=parts, where=w)
            assert plan["files_planned"] == len(planned), (parts, w)
            assert L["segments_parsed"] == len(loaded), (parts, w)
            assert t.explain_read(partitions=parts, where=w)[
                "files_planned"] == len(planned), (parts, w)
            if w is None:
                unpruned = L["segments_parsed"]
            zone_cut |= L["segments_parsed"] < unpruned
    assert zone_cut
