"""O(changed-files) ladder for the lakehouse changelog feeds (r8).

Claim under test: `changelog(from, to)` scan cost is proportional to
the CHANGED file set, not the table size — a one-partition dv-update
on an N-file table scans the same handful of files at every N.

Method: for each rung, build a manifest table with N partitions (one
data file each), sync to BOTH formats, apply ONE single-key dv-merge,
sync again, then time `changelog(v0, v1)` end-to-end (count() the
feed) and record the planner's own scan-set stats. If the changelog
were O(table), wall time and scan counts would grow with N; the claim
is they stay flat while a FULL-table read grows.

Prints the result as one JSON object on stdout (SCALE_CHANGELOG_r8.json
at the repo root holds a recorded run). Run on a quiet box:
    python scripts/scale_changelog.py > scale_changelog.json
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
from forklift_spark.connections.iceberglite import (  # noqa: E402
    IcebergLiteTable,
    sync_manifest_to_iceberg,
)
from forklift_spark.manifest import ManifestTable  # noqa: E402
from forklift_spark.session import get_spark  # noqa: E402

RUNGS = [8, 32, 128]
ROWS_PER_PART = 2_000


def _median3(fn) -> float:
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        fn()
        runs.append(time.perf_counter() - t0)
    runs.sort()
    return runs[1]


def main() -> None:
    spark = get_spark()
    out = {"rungs": [], "rows_per_partition": ROWS_PER_PART,
           "method": "one single-key dv-merge between two syncs; "
                     "changelog(v0,v1).count() median-of-3; scan-set "
                     "stats from last_changelog_stats"}
    for n in RUNGS:
        root = tempfile.mkdtemp(prefix=f"fk_chlog_scale_{n}_")
        try:
            df = spark.range(n * ROWS_PER_PART).select(
                F.col("id").alias("k"),
                (F.col("id") % n).cast("int").alias("p"),
                (F.col("id") * 3).alias("v"),
            )
            t = ManifestTable(spark, os.path.join(root, "src"), "t")
            t.create(df, partition_by="p")
            ddest = os.path.join(root, "d")
            idest = os.path.join(root, "i")
            sync_manifest_to_delta(t, ddest, dv_mode="native")
            sync_manifest_to_iceberg(t, idest, dv_mode="native")
            t.merge(spark.createDataFrame([(5, 5 % n, 999)],
                                          "k long, p int, v long"),
                    on="k", use_dv=True)
            sync_manifest_to_delta(t, ddest, dv_mode="native")
            sync_manifest_to_iceberg(t, idest, dv_mode="native")

            dt = DeltaLiteTable(spark, ddest)
            it = IcebergLiteTable(spark, idest)
            d_t = _median3(lambda: dt.changelog(0, 1).count())
            i_t = _median3(lambda: it.changelog(1, 2).count())
            full_t = _median3(lambda: dt.read().count())
            rung = {
                "n_files": n,
                "delta_changelog_s": round(d_t, 4),
                "delta_scanned": dict(dt.last_changelog_stats),
                "iceberg_changelog_s": round(i_t, 4),
                "iceberg_scanned": {
                    k: v for k, v in it.last_changelog_stats.items()},
                "full_read_s": round(full_t, 4),
            }
            out["rungs"].append(rung)
        finally:
            shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
