"""Turn one worker result into the benchmark's metrics.

End-to-end metrics come from untraced runs. Per-layer metrics come from
the traced warm passes of a traced run: each is a per-pass total, and the
median over those passes is reported.
"""

from __future__ import annotations

import statistics

from spans import Span, clip, self_times, union_length

END_TO_END_UNITS = {
    "setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "ok_frac": "ratio",
    "peak_rss_mb": "MB",
}

LAYERS = ("op", "queries", "tables", "operators", "manifest", "patterns",
          "connections", "streaming")

PER_LAYER_UNITS = {
    "spark.jobs": "count", "spark.in_job_s": "s", "spark.driver_gap_s": "s",
    "spark.task_s": "s", "spark.task_cpu_s": "s", "spark.concurrency": "cores",
    "spark.tasks": "count", "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "spark.input_mb": "MB", "spark.failed_tasks": "count",
    "spark.jobs_unread": "count",
    "session.start_s": "s",
    "queries.build_s": "s", "queries.action_s": "s",
    "tables.load_calls": "count", "tables.load_s": "s",
    "tables.memo_hit_ratio": "ratio",
    "operators.call_s": "s", "operators.jobs": "count",
    "manifest.commits": "count", "manifest.commit_s": "s",
    "manifest.commit_jobs": "count", "manifest.read_plan_s": "s",
    "manifest.bytes_written_mb": "MB",
    "patterns.cdc_sync_s": "s",
    "connections.delta_sync_s": "s", "connections.iceberg_sync_s": "s",
    "stream.batches": "count", "stream.latest_offset_ms": "ms",
    "stream.query_planning_ms": "ms", "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms", "stream.startup_s": "s",
    **{f"self.{layer}_s": "s" for layer in LAYERS},
    "scratch.stored_mb": "MB",
    "trace.pass_s": "s", "trace.overhead_s": "s",
}


def op_spark_metrics(jobs: list[dict], start: float, end: float) -> dict:
    """Per-operation Spark layer numbers from its jobs and its wall interval."""
    intervals = clip(
        [(j["start"], j["end"]) for j in jobs if j["start"] and j["end"]],
        start, end,
    )
    in_job = union_length(intervals)
    out = {
        "jobs": len(jobs),
        "in_job_s": in_job,
        "driver_gap_s": max(0.0, (end - start) - in_job),
    }
    for k in ("tasks", "failed_tasks", "task_s", "task_cpu_s", "input_mb",
              "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
        out[k] = sum(j[k] for j in jobs)
    return out


def concurrency(task_s: float, in_job_s: float) -> float:
    """Busy cores while a job runs: summed task time over in-job wall time."""
    return task_s / in_job_s if in_job_s > 0 else 0.0


def _spans(raw: list[dict]) -> list[Span]:
    return [Span(**s) for s in raw]


def outermost(spans: list[Span], pick, by_id: dict[int, Span]) -> list[Span]:
    """Spans matching ``pick`` that have no matching ancestor."""
    out = []
    for s in spans:
        if not pick(s):
            continue
        p = s.parent
        while p is not None and not pick(by_id[p]):
            p = by_id[p].parent
        if p is None:
            out.append(s)
    return out


def jobs_inside(jobs: list[dict], spans: list[Span]) -> int:
    return sum(
        1 for j in jobs
        if j["start"] and any(s.start <= j["start"] <= s.end for s in spans)
    )


def bytes_written_mb(histories: list[list[dict]]) -> float:
    """Growth of live table bytes per commit, summed, from ``history()``."""
    total = 0
    for rows in histories:
        prev = 0
        for r in rows:
            total += max(0, r["bytes"] - prev)
            prev = r["bytes"]
    return total / 1e6


def pass_layers(p: dict, spans: list[Span]) -> dict[str, float]:
    """Per-layer totals for one traced pass."""
    ids = {o["op_id"] for o in p["ops"]}
    sp = [s for s in spans if s.op in ids]
    by_id = {s.id: s for s in sp}
    jobs = [j for o in p["ops"] for j in o.get("jobs", [])]
    m: dict[str, float] = {}

    spark = [op_spark_metrics(o.get("jobs", []), o["start"], o["end"])
             for o in p["ops"]]
    for k in ("jobs", "in_job_s", "driver_gap_s", "task_s", "task_cpu_s",
              "tasks", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
              "input_mb", "failed_tasks"):
        m[f"spark.{k}"] = sum(s[k] for s in spark)
    m["spark.concurrency"] = concurrency(m["spark.task_s"], m["spark.in_job_s"])
    m["spark.jobs_unread"] = sum(o.get("jobs_unread", 0) for o in p["ops"])

    m["queries.build_s"] = sum(o.get("build_s", 0.0) for o in p["ops"])
    m["queries.action_s"] = sum(o.get("action_s", 0.0) for o in p["ops"])

    loads = [s for s in sp if s.name == "tables.load"]
    m["tables.load_calls"] = len(loads)
    m["tables.load_s"] = sum((s.end - s.start for s in loads), 0.0)
    m["tables.memo_hit_ratio"] = (
        sum(1 for s in loads if s.attrs.get("hit")) / len(loads) if loads else 0.0
    )

    ops = outermost(sp, lambda s: s.layer == "operators", by_id)
    m["operators.call_s"] = sum((s.end - s.start for s in ops), 0.0)
    m["operators.jobs"] = jobs_inside(jobs, ops)

    commits = outermost(sp, lambda s: s.name.startswith("manifest.commit."), by_id)
    m["manifest.commits"] = len(commits)
    m["manifest.commit_s"] = sum((s.end - s.start for s in commits), 0.0)
    m["manifest.commit_jobs"] = jobs_inside(jobs, commits)
    reads = [
        s for s in outermost(sp, lambda s: s.layer == "manifest", by_id)
        if s.name.startswith("manifest.read_plan.")
    ]
    m["manifest.read_plan_s"] = sum((s.end - s.start for s in reads), 0.0)
    m["manifest.bytes_written_mb"] = bytes_written_mb(
        [h for o in p["ops"] for h in o.get("history", [])]
    )

    def total(name: str) -> float:
        return sum((s.end - s.start
                    for s in outermost(sp, lambda s: s.name == name, by_id)), 0.0)

    m["patterns.cdc_sync_s"] = total("patterns.cdc_sync")
    m["connections.delta_sync_s"] = total("connections.delta_sync")
    m["connections.iceberg_sync_s"] = total("connections.iceberg_sync")

    progress = [g for o in p["ops"] for g in o.get("progress", [])]
    m["stream.batches"] = len(progress)
    for key, name in (("latestOffset", "latest_offset_ms"),
                      ("queryPlanning", "query_planning_ms"),
                      ("addBatch", "add_batch_ms"),
                      ("walCommit", "wal_commit_ms")):
        m[f"stream.{name}"] = float(
            sum(g["duration_ms"].get(key, 0) for g in progress))
    trigger_s = sum(g["duration_ms"].get("triggerExecution", 0)
                    for g in progress) / 1000
    stream_wall = union_length(
        [(s.start, s.end) for s in sp if s.layer == "streaming"])
    m["stream.startup_s"] = max(0.0, stream_wall - trigger_s) if progress else 0.0

    selfs = self_times(sp)
    for layer in LAYERS:
        m[f"self.{layer}_s"] = selfs.get(layer, 0.0)
    return m


def op_table(p: dict) -> list[dict]:
    """Per-operation Spark numbers for one traced pass."""
    rows = []
    for o in p["ops"]:
        s = op_spark_metrics(o.get("jobs", []), o["start"], o["end"])
        rows.append({
            "op": o["op"], "wall_s": o["wall_s"], "jobs": s["jobs"],
            "in_job_s": s["in_job_s"], "driver_gap_s": s["driver_gap_s"],
            "task_s": s["task_s"], "tasks": s["tasks"],
            "concurrency": concurrency(s["task_s"], s["in_job_s"]),
        })
    return rows


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(res: dict, peak_rss_bytes: int, failures: int) -> dict:
    passes = res["passes"]
    attempted = sum(len(p["ops"]) for p in passes) + len(res["checks"])
    return {
        "setup_s": res["setup_s"],
        "cold_pass_s": passes[0]["wall_s"],
        "pass_s": _median([p["wall_s"] for p in passes[1:]]),
        "ok_frac": (attempted - failures) / attempted,
        "peak_rss_mb": peak_rss_bytes / 1e6,
    }


def per_layer(res: dict) -> dict:
    spans = _spans(res.get("spans", []))
    warm = res["passes"][1:]
    traced = [pass_layers(p, spans) for p in warm if p["traced"]]
    out = {k: _median([t[k] for t in traced]) for k in traced[0]}
    out["session.start_s"] = res["session_start_s"]
    out["scratch.stored_mb"] = res["stored_bytes"] / 1e6 / len(res["passes"])
    out["trace.pass_s"] = _median([p["wall_s"] for p in warm if p["traced"]])
    # each traced pass against the untraced pass right after it: the later
    # pass is the warmer one, so the overhead is, if anything, overstated
    out["trace.overhead_s"] = _median([
        a["wall_s"] - b["wall_s"] for a, b in zip(warm, warm[1:])
        if a["traced"] and not b["traced"]
    ])
    return out


def as_metrics(values: dict, units: dict) -> dict:
    return {k: {"value": values[k], "unit": units[k]} for k in units}
