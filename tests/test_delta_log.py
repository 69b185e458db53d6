"""One Delta log reader: every commit is read through one action reader
(``DeltaLiteTable._read_commit``), and ``change_feed`` reads its rows
through the snapshot scan.

Logs are built BY HAND, as in ``test_delta_cdf.py``. Each test pins a
place where two copies of the log protocol could disagree: the id-mode
footer check, the commit-timestamp rule, the replay-path cutoff shared
with the ``deltalite`` DataSource, and the missing-commit error."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from forklift_spark.connections.deltalite import (
    DeltaLiteTable,
    DeltaUnsupported,
    checkpoint_delta_export,
)
from forklift_spark.delta_datasource import (
    _DeltaBatchReader,
    _DeltaStreamReader,
)
from tests.test_delta_cdf import _add, _commit, _kv, _meta, _one_parquet_file
from tests.test_delta_colmap import _build_id_table

_PROTO = {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}


def _linear_table(spark, root: str, n: int) -> str:
    """Commits 0..n-1; commit i appends one file holding k = i."""
    tdir = os.path.join(root, "lin")
    log = os.path.join(tdir, "_delta_log")
    os.makedirs(log)
    for i in range(n):
        _one_parquet_file(spark, _kv(spark, [(i, f"v{i}")]),
                          os.path.join(tdir, f"f{i}.parquet"))
        head = [_PROTO, _meta()] if i == 0 else []
        _commit(log, i, head + [{"add": _add(f"f{i}.parquet")}])
    return tdir


def test_change_feed_refuses_mismatched_id_mode_footer(spark, tmp_path):
    """A ``mode=id`` table whose footer gives ``col-v`` field id 9
    while the schema declares 2: ``change_feed`` refuses as ``read``,
    ``changes`` and ``changelog`` do, instead of reading by name."""
    tdir = _build_id_table(spark, str(tmp_path), {"col-k": 1, "col-v": 9})
    log = os.path.join(tdir, "_delta_log")
    # move the file's add into its own commit, so the feed covers it
    acts = [json.loads(line) for line in open(
        os.path.join(log, f"{0:020d}.json"))]
    _commit(log, 0, [a for a in acts if "add" not in a])
    _commit(log, 1, [a for a in acts if "add" in a])
    t = DeltaLiteTable(spark, tdir)
    for feed in (t.read, lambda: t.changes(0), lambda: t.changelog(0, 1),
                 lambda: t.change_feed(0)):
        with pytest.raises(DeltaUnsupported, match="field id"):
            feed().collect()


def test_history_and_change_feed_share_commit_timestamp(spark, tmp_path):
    """``inCommitTimestamp`` wins over ``commitInfo.timestamp`` in both
    ``history()`` and ``change_feed()``'s ``_commit_timestamp``; a commit
    without commitInfo falls back to its file's mtime in both."""
    tdir = _linear_table(spark, str(tmp_path), 3)
    log = os.path.join(tdir, "_delta_log")
    ict, ts = 1700000123456, 1700000999000
    _commit(log, 1, [{"add": _add("f1.parquet")},
                     {"commitInfo": {"inCommitTimestamp": ict,
                                     "timestamp": ts,
                                     "operation": "WRITE"}}])
    t = DeltaLiteTable(spark, tdir)
    hist = {r.version: (r.timestamp_ms, r.operation)
            for r in t.history().collect()}
    feed = {r["_commit_version"]: r["ms"] for r in t.change_feed(0).select(
        "_commit_version",
        F.unix_millis("_commit_timestamp").alias("ms")).collect()}
    assert hist[1] == (ict, "WRITE")
    assert feed[1] == ict
    mtime = int(os.path.getmtime(os.path.join(log, f"{2:020d}.json")) * 1000)
    assert hist[2][0] == feed[2] == mtime


def test_replay_cutoff_is_one_rule(spark, tmp_path, monkeypatch):
    """``snapshot()`` replays from the checkpoint exactly when the
    ``deltalite`` DataSource refuses to plan (it reads JSON only), on
    either side of a lowered cutoff."""
    n = 7
    tdir = _linear_table(spark, str(tmp_path), n)
    checkpoint_delta_export(spark, tdir, version=2)
    used = []
    orig = DeltaLiteTable._read_checkpoint

    def spy(self, version):
        used.append(version)
        return orig(self, version)

    monkeypatch.setattr(DeltaLiteTable, "_read_checkpoint", spy)
    schema_json = json.dumps(
        DeltaLiteTable(spark, tdir).snapshot()["schema"].jsonValue())

    def sides(target: int) -> tuple[bool, bool]:
        used.clear()
        snap = DeltaLiteTable(spark, tdir).snapshot(target)
        assert sorted(snap["files"]) == [f"f{i}.parquet"
                                         for i in range(target + 1)]
        reader = _DeltaBatchReader({"path": tdir, "version": str(target)},
                                   schema_json)
        try:
            reader.partitions()
            refused = False
        except ValueError as e:
            assert "checkpoint" in str(e)
            refused = True
        return bool(used), refused

    assert all(sides(v) == (False, False) for v in range(n))
    monkeypatch.setattr(DeltaLiteTable, "JSON_REPLAY_MAX", 3)
    got = {v: sides(v) for v in range(n)}
    assert all(ckpt == refused for ckpt, refused in got.values()), got
    # before the checkpoint, and a short history after it, replay JSON;
    # a history past the cutoff replays the checkpoint
    assert [v for v, (ckpt, _r) in got.items() if ckpt] == [3, 4, 5, 6]


def test_missing_commit_is_one_error(spark, tmp_path):
    """A commit missing from the middle of a range raises the same
    ``missing commit`` error from ``snapshot``, ``changes`` and
    ``change_feed``; the stream wraps it with its restart advice."""
    tdir = _linear_table(spark, str(tmp_path), 4)
    os.remove(os.path.join(tdir, "_delta_log", f"{2:020d}.json"))
    t = DeltaLiteTable(spark, tdir)
    msgs = set()
    for call in (t.snapshot, lambda: t.changes(0),
                 lambda: t.change_feed(0)):
        with pytest.raises(FileNotFoundError, match="missing commit 2") as e:
            call()
        msgs.add(str(e.value))
    assert len(msgs) == 1, msgs
    stream = _DeltaStreamReader({"path": tdir}, "{}")
    with pytest.raises(ValueError, match="missing commit 2") as e:
        stream._step(DeltaLiteTable(None, tdir), {}, 2)
    assert "restart the stream" in str(e.value)
    # a retained commit after the gap still steps
    shutil.copy(os.path.join(tdir, "_delta_log", f"{3:020d}.json"),
                os.path.join(tdir, "_delta_log", f"{2:020d}.json"))
    after, change = stream._step(DeltaLiteTable(None, tdir), {}, 2)
    assert sorted(after) == ["f3.parquet"] and change is not None
