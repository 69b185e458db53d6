"""Write-amplification experiment for the manifest table's three merge
strategies, run at two scale factors to show how the gap GROWS with
data size (the 100 TB argument, measured instead of asserted).

For a table of N rows and a 1% uniformly-spread update batch (the worst
case for partition pruning — every partition is touched):

- rewrite merge      -> rewrites every touched partition: O(N) bytes
- dv merge           -> appends the batch + a positional sidecar: O(batch)
- bucketed dv merge  -> same writes, but the match SCAN is also cut to
                        the touched key-hash cells

A narrow batch (fixed small key range) additionally shows cell-level
rewrite pruning on the bucketed table.

Usage: python scripts/scale_manifest.py [sf_dir ...]
Each ``sf_dir`` must hold ``orders.parquet``; a missing input exits
before Spark starts. Prints one JSON line; intended for SCALING.md
appendix evidence.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from forklift_spark.manifest import ManifestTable  # noqa: E402
from forklift_spark.session import get_spark  # noqa: E402


def _bytes(t: ManifestTable, version: int) -> int:
    return sum(e["bytes"] for e in t.manifest(version)["entries"])


def _new_bytes(t: ManifestTable, v_from: int, v_to: int) -> int:
    """Bytes in files (and dv sidecars) first referenced at v_to."""
    old_paths = {e["path"] for e in t.manifest(v_from)["entries"]}
    old_dvs = {e.get("dv") for e in t.manifest(v_from)["entries"]}
    new = 0
    for e in t.manifest(v_to)["entries"]:
        if e["path"] not in old_paths:
            new += e["bytes"]
        dv = e.get("dv")
        if dv and dv not in old_dvs:
            old_dvs.add(dv)  # count each sidecar dir once
            droot = os.path.join(t.path, dv)
            for dp, _d, fs in os.walk(droot):
                new += sum(os.path.getsize(os.path.join(dp, f)) for f in fs)
    return new


def _meta_bytes_new(t: ManifestTable, v_from: int, v_to: int) -> int:
    """Metadata bytes the commit at v_to actually wrote: its manifest
    JSON plus segment files not already referenced by v_from."""
    total = os.path.getsize(os.path.join(t.path, f"manifest-v{v_to}.json"))
    old = {s["path"] for s in t._raw(v_from).get("segments", [])}
    for s in t._raw(v_to).get("segments", []):
        if s["path"] not in old:
            total += os.path.getsize(os.path.join(t.path, s["path"]))
    return total


def _meta_bytes_monolithic(t: ManifestTable, version: int) -> int:
    """What the pre-segment (r4) format would have written for this
    commit: the FULL entry list inlined in one JSON document."""
    return len(json.dumps(t.manifest(version)))


def run(spark, sf_dir: str) -> dict:
    base = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).select(
        "o_orderkey",
        F.year("o_orderdate").cast("bigint").alias("order_year"),
        "o_totalprice",
    )
    n = base.count()
    spread = base.filter(F.col("o_orderkey") % 100 == 7).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1.0)
    )
    narrow = base.filter(F.col("o_orderkey") < 8).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1.0)
    )
    out: dict = {"sf_dir": sf_dir, "rows": n, "batch_rows": spread.count()}

    def table(tag, **kw):
        t = ManifestTable(
            spark, tempfile.mkdtemp(prefix=f"fk_scale_{tag}_"), "orders"
        )
        t.create(base, partition_by="order_year", **kw)
        return t

    # 1) rewrite merge, spread batch: O(table) writes
    t = table("rw")
    v0, t0 = t.current_version(), time.monotonic()
    st = t.merge(spread, on="o_orderkey")
    out["rewrite"] = {
        "sec": round(time.monotonic() - t0, 2),
        "mb_written": round(_new_bytes(t, v0, st["version"]) / 1e6, 2),
        "files_rewritten": st["files_rewritten"],
    }

    # 2) dv merge, spread batch: O(batch) writes
    t = table("dv")
    v0, t0 = t.current_version(), time.monotonic()
    st = t.merge(spread, on="o_orderkey", use_dv=True)
    out["dv"] = {
        "sec": round(time.monotonic() - t0, 2),
        "mb_written": round(_new_bytes(t, v0, st["version"]) / 1e6, 2),
        "files_rewritten": st["files_rewritten"],
        "rows_masked": st["rows_masked"],
    }

    # 2b) metadata O(delta) (r5): on a MANY-FILE table (file count scales
    # with rows, segment size fixed — the 100 TB shape), a
    # single-partition dv merge must write metadata proportional to the
    # TOUCHED partition, not the table — segments covering other
    # partitions carry by reference. Compare against the monolithic
    # full-entry-list JSON the r4 format wrote for EVERY commit.
    nfiles = max(16, n // 5000)  # ~5k rows/file so files grow with SF
    tm = ManifestTable(
        spark, tempfile.mkdtemp(prefix="fk_scale_meta_"), "orders"
    )
    tm.segment_target = 64  # fixed entries/segment, like a real manifest
    tm.create(base.repartition(nfiles), partition_by="order_year")
    year = base.select(F.max("order_year")).collect()[0][0]
    one_part = base.filter(
        (F.col("order_year") == year) & (F.col("o_orderkey") % 50 == 3)
    ).withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1.0))
    v0 = tm.current_version()
    st = tm.merge(one_part, on="o_orderkey", use_dv=True)
    delta_b = _meta_bytes_new(tm, v0, st["version"])
    mono_b = _meta_bytes_monolithic(tm, st["version"])
    out["metadata_commit"] = {
        "touched_partitions": len(st["touched_partitions"]),
        "total_files": len(tm.files()),
        "segments": len(tm._raw().get("segments", [])),
        "delta_metadata_bytes": delta_b,
        "monolithic_metadata_bytes": mono_b,
        "reduction_x": round(mono_b / max(1, delta_b), 1),
    }

    # 2c) commit LADDER (r5): 30 consecutive single-partition dv merges.
    # The claim under test is AMORTIZED O(delta): per-commit metadata
    # bytes must stay flat (not grow with version count) and the
    # segment count must stay bounded (the inline small-segment merge
    # absorbs residue fragmentation without a manual checkpoint).
    ladder_meta: list[int] = []
    for i in range(30):
        step = base.filter(
            (F.col("order_year") == year) & (F.col("o_orderkey") % 60 == i)
        ).withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1.0))
        v0 = tm.current_version()
        stv = tm.merge(step, on="o_orderkey", use_dv=True)
        ladder_meta.append(_meta_bytes_new(tm, v0, stv["version"]))
    half = len(ladder_meta) // 2
    out["metadata_ladder"] = {
        "commits": len(ladder_meta),
        "kb_first_half_avg": round(sum(ladder_meta[:half]) / half / 1e3, 1),
        "kb_second_half_avg": round(
            sum(ladder_meta[half:]) / (len(ladder_meta) - half) / 1e3, 1
        ),
        "kb_max": round(max(ladder_meta) / 1e3, 1),
        "segments_final": len(tm._raw().get("segments", [])),
    }

    # 2d) commit-LATENCY ladder (r6, VERDICT item 2): what a commit's
    # wall time is actually made of at 10 / 200 / 2000 files — dataflow
    # (snapshot write), stats collection (footer pass since r6; the r5
    # format re-scanned the snapshot with a Spark job), and metadata IO
    # (segment parquet + manifest JSON + pointer swap). For the segment
    # IO we also time what the r4 MONOLITHIC format would have written
    # instead (full inline entry list), measured not asserted.
    out["commit_latency"] = []
    for nf in (10, 200, 2000):
        tl = ManifestTable(
            spark, tempfile.mkdtemp(prefix=f"fk_lat_{nf}_"), "orders"
        )
        tl.segment_target = 64
        tl.create(base.repartition(nf), partition_by="order_year")
        phases: dict[str, float] = {}

        def timed(name: str, fn):
            def wrap(*a, **kw):
                p0 = time.monotonic()
                try:
                    return fn(*a, **kw)
                finally:
                    phases[name] = phases.get(name, 0.0) + (
                        time.monotonic() - p0
                    )
            return wrap

        tl._write_snapshot = timed("snapshot_s", tl._write_snapshot)
        tl._file_stats_footer = timed("stats_s", tl._file_stats_footer)
        tl._file_stats = timed("stats_s", tl._file_stats)
        tl._pack_segments = timed("segment_io_s", tl._pack_segments)
        tl._commit = timed("manifest_io_s", tl._commit)
        reps = 3
        scanned = 0
        t0 = time.monotonic()
        for i in range(reps):
            step = base.filter(
                (F.col("order_year") == year) & (F.col("o_orderkey") % 70 == i)
            ).withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1.0))
            scanned += tl.merge(step, on="o_orderkey", use_dv=True).get(
                "files_scanned", 0
            )
        wall = time.monotonic() - t0
        total_files = len(tl.files())
        scoped_files = len(tl.files(partitions=[year]))
        # the r4 monolithic format's metadata write for ONE commit at
        # this file count: serialize + fsync the full inline entry list
        entries = tl.manifest()["entries"]
        m0 = time.monotonic()
        mono_path = os.path.join(tl.path, "_mono_probe.json")
        with open(mono_path, "w") as fh:
            json.dump({"entries": entries}, fh)
        mono_s = time.monotonic() - m0
        os.remove(mono_path)
        out["commit_latency"].append(
            {
                # nf is the create-time repartition count; partitionBy
                # fans each task across ~7 year dirs, so the real table
                # is larger — report what the merge actually faced
                "table_files": total_files,
                "touched_partition_files": scoped_files,
                "avg_files_scanned": round(scanned / reps, 1),
                "commits": reps,
                "avg_commit_s": round(wall / reps, 3),
                "avg_snapshot_s": round(phases.get("snapshot_s", 0) / reps, 3),
                "avg_stats_s": round(phases.get("stats_s", 0) / reps, 3),
                "avg_segment_io_s": round(
                    phases.get("segment_io_s", 0) / reps, 4
                ),
                "avg_manifest_io_s": round(
                    phases.get("manifest_io_s", 0) / reps, 4
                ),
                "monolithic_meta_write_s": round(mono_s, 4),
            }
        )

    # 2e) merge-key zone-map pruning (r6): on a KEY-CLUSTERED table
    # (time-ordered ingest — each commit's files hold recent keys,
    # modeled by repartitionByRange on the key), a recent-key batch
    # must scan only the files whose key range can hold a match, not
    # the whole touched partition. Same table size as the ladder's top
    # rung; compare avg_files_scanned there (no clustering -> no cut).
    tc = ManifestTable(
        spark, tempfile.mkdtemp(prefix="fk_prune_"), "orders"
    )
    tc.segment_target = 64
    tc.create(
        base.repartitionByRange(256, "o_orderkey"), partition_by="order_year"
    )
    hi_key = base.agg(F.max("o_orderkey")).collect()[0][0]
    recent = base.filter(
        (F.col("order_year") == year)
        & (F.col("o_orderkey") > hi_key - hi_key // 50)
    ).withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1.0))
    t0 = time.monotonic()
    st = tc.merge(recent, on="o_orderkey", use_dv=True)
    out["pruned_commit"] = {
        "table_files": len(tc.files()),
        "touched_partition_files": len(tc.files(partitions=[year])),
        "files_scanned": st["files_scanned"],
        "rows_masked": st["rows_masked"],
        "sec": round(time.monotonic() - t0, 2),
    }

    # 3) bucketed table, narrow batch: cell-level rewrite pruning
    t = table("cell", bucket_by=("o_orderkey", 16))
    total_files = len(t.files())
    v0, t0 = t.current_version(), time.monotonic()
    st = t.merge(narrow, on="o_orderkey")
    out["bucketed_narrow"] = {
        "sec": round(time.monotonic() - t0, 2),
        "mb_written": round(_new_bytes(t, v0, st["version"]) / 1e6, 2),
        "files_rewritten": st["files_rewritten"],
        "table_files": total_files,
    }
    return out


def main() -> None:
    dirs = sys.argv[1:] or ["/root/testdata/sf0.1", ".scale/sf1"]
    # fail before the JVM starts, not after the first scale factor's run
    missing = [
        os.path.join(d, "orders.parquet") for d in dirs
        if not os.path.exists(os.path.join(d, "orders.parquet"))
    ]
    if missing:
        sys.exit(f"scale_manifest: missing input {', '.join(missing)}")
    spark = get_spark(app_name="scale_manifest")
    print(json.dumps({"runs": [run(spark, d) for d in dirs]}))


if __name__ == "__main__":
    main()
