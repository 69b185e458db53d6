"""Checkpoint-bounded replay ladder for the Delta export (r8).

Claim under test: without checkpoints, an external reader of a
long-lived publisher replays EVERY JSON commit ever written — O(commits)
planning; with the sync's auto-checkpoint every 10th commit, replay cost
is checkpoint + tail — flat in publisher lifetime.

Method: one manifest table, N incremental syncs (one single-row merge
each). At each ladder rung, time DeltaLiteTable.snapshot() (the full
log replay the read plans from) three ways:
  - json_only: checkpoints suppressed (replay every commit),
  - with_ckpt: the auto-written checkpoints honored (ckpt + tail),
and record the JSON-commit count each replay actually opened.

Prints the result as one JSON object on stdout (SCALE_DELTA_r8.json at
the repo root holds a recorded run). Run on a quiet box:
    python scripts/scale_delta_ckpt.py > scale_delta.json
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from forklift_spark.connections.deltalite import (  # noqa: E402
    DeltaLiteTable,
    sync_manifest_to_delta,
)
from forklift_spark.manifest import ManifestTable  # noqa: E402
from forklift_spark.session import get_spark  # noqa: E402

RUNGS = [10, 60, 240]


def time_snapshot(spark, dest: str, suppress_ckpt: bool) -> float:
    """Median-of-3 snapshot() wall time; optionally hide the
    checkpoint (rename _last_checkpoint) to force full-JSON replay."""
    log = os.path.join(dest, "_delta_log")
    lc = os.path.join(log, "_last_checkpoint")
    moved = False
    if suppress_ckpt and os.path.exists(lc):
        os.rename(lc, lc + ".hidden")
        moved = True
    try:
        runs = []
        for _ in range(3):
            t = DeltaLiteTable(spark, dest)
            t0 = time.perf_counter()
            snap = t.snapshot()
            runs.append(time.perf_counter() - t0)
            del snap
        runs.sort()
        return runs[1]
    finally:
        if moved:
            os.rename(lc + ".hidden", lc)


def main() -> None:
    spark = get_spark(app_name="scale_delta_ckpt")
    root = tempfile.mkdtemp(prefix="fk_scale_ckpt_")
    src = os.path.join(root, "src")
    dest = os.path.join(root, "pub")
    df = spark.range(2000).select(
        F.col("id").alias("k"),
        (F.col("id") % 8 + 1).cast("int").alias("p"),
        (F.col("id") * 10).alias("v"),
    )
    t = ManifestTable(spark, src, "ladder")
    t.create(df, partition_by="p")
    sync_manifest_to_delta(t, dest)

    out = {"note": __doc__.strip().splitlines()[0], "rungs": []}
    done = 0
    for rung in RUNGS:
        while done < rung:
            t.merge(
                spark.createDataFrame(
                    [(10_000 + done, int(done % 8 + 1), done)],
                    "k long, p int, v long",
                ),
                on="k",
            )
            sync_manifest_to_delta(t, dest)
            done += 1
        ext = DeltaLiteTable(spark, dest)
        ck = ext._last_checkpoint() or {}
        json_commits = len(ext.versions())
        tail = json_commits - int(ck.get("version", -1)) - 1 \
            if ck else json_commits
        row = {
            "sync_commits": rung,
            "json_commits_on_disk": json_commits,
            "checkpoint_version": ck.get("version"),
            "tail_commits_after_ckpt": max(0, tail),
            "snapshot_json_only_sec": round(
                time_snapshot(spark, dest, suppress_ckpt=True), 4),
            "snapshot_with_ckpt_sec": round(
                time_snapshot(spark, dest, suppress_ckpt=False), 4),
        }
        out["rungs"].append(row)

    # external replay correctness at the top rung, both paths
    got_ck = {tuple(r) for r in DeltaLiteTable(spark, dest).read()
              .select("k", "p", "v").collect()}
    want = {tuple(r) for r in t.read().select("k", "p", "v").collect()}
    out["top_rung_replay_matches_source"] = bool(got_ck == want)

    shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
