"""The shared changelog kernel (forklift_spark/changelog.py): chunked
signed-weight replication reaches its second chunk level when the chunk
is small, through ``ManifestTable.changes()`` and through a
``changelog(net=True)`` feed.

Both fixtures move the same multiset from one version to the next:
before = B x4 + D, after = A x7 + C + D, so the net weights are A +7,
B -4, C +1 and D 0. With the chunk lowered to 3, A replicates as 3 + 3
+ 1 and B as 3 + 1."""

from __future__ import annotations

import os
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

from forklift_spark import changelog
from forklift_spark.connections.deltalite import DeltaLiteTable
from forklift_spark.manifest import ManifestTable
from tests.test_deltalite import _add, _commit, _meta_action

A, B, C, D = (1, "a"), (2, "b"), (3, "c"), (4, "d")
BEFORE = [B] * 4 + [D]
AFTER = [A] * 7 + [C, D]
WANT = Counter({(A, "insert"): 7, (B, "delete"): 4, (C, "insert"): 1})


def _net(df) -> Counter:
    return Counter(((r.k, r.v), r._change_type) for r in df.collect())


def test_manifest_changes_replicates_past_one_chunk(spark, tmp_path,
                                                    monkeypatch):
    monkeypatch.setattr(changelog, "_REPLICATE_CHUNK", 3)
    t = ManifestTable(spark, str(tmp_path), "t")
    t.create(spark.createDataFrame(BEFORE, "k long, v string"))
    t.overwrite(spark.createDataFrame(AFTER, "k long, v string"))
    assert _net(t.changes(1, 2)) == WANT


def test_delta_net_changelog_replicates_past_one_chunk(spark, tmp_path,
                                                       monkeypatch):
    monkeypatch.setattr(changelog, "_REPLICATE_CHUNK", 3)
    tdir = str(tmp_path / "t")
    log = os.path.join(tdir, "_delta_log")
    os.makedirs(log)
    for name, rows in (("f1.parquet", BEFORE), ("f2.parquet", AFTER)):
        pq.write_table(pa.table({"k": [k for k, _ in rows],
                                 "v": [v for _, v in rows]}),
                       os.path.join(tdir, name))
    _commit(log, 0, [{"protocol": {"minReaderVersion": 1,
                                   "minWriterVersion": 2}},
                     _meta_action(), _add("f1.parquet", {"p": "1"})])
    _commit(log, 1, [{"remove": {"path": "f1.parquet",
                                 "dataChange": True}},
                     _add("f2.parquet", {"p": "1"})])
    feed = DeltaLiteTable(spark, tdir).changelog(0, 1, net=True)
    assert _net(feed) == WANT
