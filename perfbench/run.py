"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 1 --trace 0

Starts ``worker.py`` as a fresh process with a pinned environment and its
own scratch directories, samples the resident memory of its whole process
tree from /proc, checks every operation's result against the DuckDB
oracle, removes the scratch directories and prints, as its last line, one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones. Exits non-zero, without that line, when the engine or the
data is missing or the worker fails.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from importlib import metadata

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from metrics import (  # noqa: E402
    END_TO_END_UNITS, PER_LAYER_UNITS, as_metrics, end_to_end, op_table,
    per_layer,
)
from oracle import compare, expected  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

DATA = os.path.join(HERE, "data")
OUT = os.path.join(HERE, "out")
CACHE = os.path.join(HERE, ".cache")
RUNS = os.path.join(HERE, ".runs")
MASTER_CPUS = 4
DRIVER_MEM = "2g"
WORKER_TIMEOUT_S = 150


def pinned_env(run_dir: str) -> dict[str, str]:
    """The worker's environment: engine settings pinned, scratch isolated,
    the repo root importable by Spark's Python workers."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "PYSPARK_"))}
    dirs = {k: os.path.join(run_dir, k.lower())
            for k in ("TMPDIR", "SPARK_LOCAL_DIRS", "SPARK_GRAFT_WAREHOUSE")}
    for d in dirs.values():
        os.makedirs(d)
    env.update(dirs)
    env.update(
        SPARK_GRAFT_CPUS=str(MASTER_CPUS),
        SPARK_GRAFT_MASTER=f"local[{MASTER_CPUS}]",
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_UI="false",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(
            [ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]),
        PYTHONHASHSEED="0",
    )
    return env


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def pss_bytes(pids) -> int:
    """Resident memory of the processes, each shared page split between the
    processes sharing it, so forked Python workers are not counted twice."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass
    return total


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_all(pgid: int, seen: set[int], grace_s: float = 15.0) -> None:
    """Wait for every process the worker started to end; kill stragglers."""
    deadline = time.time() + grace_s
    while time.time() < deadline and any(alive(p) for p in seen):
        time.sleep(0.1)
    for p in seen:
        if alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    try:
        os.killpg(pgid, signal.SIGKILL)
    except OSError:
        pass
    while any(alive(p) for p in seen):
        time.sleep(0.05)


def environment(java: str) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    src = hashlib.sha256()
    for d, _, files in sorted(os.walk(os.path.join(ROOT, "forklift_spark"))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    src.update(fh.read())
    try:
        sha = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    return {
        "nproc": os.cpu_count(), "ram_gb": round(mem_kb / 2**20, 1),
        "master": f"local[{MASTER_CPUS}]", "driver_mem": DRIVER_MEM,
        "pyspark": metadata.version("pyspark"), "java": java,
        "duckdb": metadata.version("duckdb"), "git_sha": sha,
        "engine_sha256": src.hexdigest(),
    }


def ranking_markdown(workload: str, rows: list[dict]) -> str:
    def table(title, ranked):
        lines = [f"### {workload}: {title}", "",
                 "| op | wall s | jobs | in-job s | driver gap s | task s "
                 "| tasks | conc. |",
                 "|---|---|---|---|---|---|---|---|"]
        for r in ranked:
            lines.append(
                f"| {r['op']} | {r['wall_s']:.2f} | {r['jobs']} | "
                f"{r['in_job_s']:.2f} | {r['driver_gap_s']:.2f} | "
                f"{r['task_s']:.2f} | {r['tasks']} | {r['concurrency']:.2f} |")
        return "\n".join(lines) + "\n"

    return "\n".join([
        table("by driver gap", sorted(rows, key=lambda r: -r["driver_gap_s"])),
        table("by lowest concurrency",
              sorted(rows, key=lambda r: r["concurrency"])),
    ])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default="sf0.01",
                    help="data directory under perfbench/data")
    args = ap.parse_args(argv)
    # a terminated run still stops its worker (the finally blocks below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sf_dir = os.path.join(DATA, args.sf)
    for need in (os.path.join(ROOT, "forklift_spark", "__init__.py"),
                 os.path.join(ROOT, "scripts", "verify_driver.py"),
                 os.path.join(sf_dir, "lineitem.parquet")):
        if not os.path.exists(need):
            print(f"perfbench: missing {os.path.relpath(need, ROOT)}",
                  file=sys.stderr)
            return 2

    os.makedirs(OUT, exist_ok=True)
    tag = f"{args.workload}-{args.sf}-seed{args.seed}-trace{args.trace}"
    run_dir = os.path.join(RUNS, f"{tag}-{os.getpid()}")
    result_path = os.path.join(run_dir, "result.json")
    log_path = os.path.join(OUT, f"{tag}.log")
    try:
        env = pinned_env(run_dir)
        env["PERFBENCH_SPAWNED_AT"] = repr(time.time())
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"),
                 "--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace),
                 "--sf-dir", sf_dir, "--result", result_path],
                env=env, cwd=run_dir, stdout=log, stderr=log,
                stdin=subprocess.DEVNULL, start_new_session=True,
            )
            seen: set[int] = {proc.pid}
            peak = 0
            started = time.time()
            try:
                while proc.poll() is None:
                    pids = tree(proc.pid)
                    seen.update(pids)
                    peak = max(peak, pss_bytes(pids))
                    if time.time() - started > WORKER_TIMEOUT_S:
                        print("perfbench: worker timed out", file=sys.stderr)
                        break
                    time.sleep(0.2)
            finally:
                if proc.poll() is None:
                    proc.kill()
                proc.wait()
                stop_all(proc.pid, seen)
            if proc.returncode != 0 or not os.path.exists(result_path):
                print(f"perfbench: worker failed (exit {proc.returncode}); "
                      f"log in {os.path.relpath(log_path, ROOT)}",
                      file=sys.stderr)
                return 1
            with open(result_path) as f:
                res = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    # the worker has exited, so DuckDB never shares the measured process tree
    want = expected(sf_dir, {c["op"]: c["oracle_sql"] for c in res["checks"]
                             if c.get("oracle_sql")},
                    os.path.join(CACHE, "oracle.json"))
    mismatches = {c["op"]: compare(c, want.get(c["op"]))
                  for c in res["checks"]}
    mismatches = {k: v for k, v in mismatches.items() if v}
    op_errors = [o for p in res["passes"] for o in p["ops"] if o["error"]]
    failed = len(op_errors) + len(mismatches)
    attempted = sum(len(p["ops"]) for p in res["passes"]) + len(res["checks"])

    if args.trace:
        metrics = as_metrics(per_layer(res), PER_LAYER_UNITS)
        traced = [p for p in res["passes"][1:] if p["traced"]]
        ranking = ranking_markdown(args.workload, op_table(traced[-1]))
        with open(os.path.join(OUT, f"{tag}-ranking.md"), "w") as f:
            f.write(ranking)
        with open(os.path.join(OUT, f"{tag}-spans.json"), "w") as f:
            json.dump(res["spans"], f)
    else:
        metrics = as_metrics(end_to_end(res, peak, failed), END_TO_END_UNITS)

    detail = {
        "workload": args.workload, "seed": args.seed, "sf": args.sf,
        "order": res["order"], "passes": len(res["passes"]),
        "warm_passes": len(res["passes"]) - 1,
        "pass_walls_s": [round(p["wall_s"], 4) for p in res["passes"]],
        "pass_steal_s": [round(p["steal_s"], 2) for p in res["passes"]],
        "op_walls_s": [{o["op"]: round(o["wall_s"], 3) for o in p["ops"]}
                       for p in res["passes"]],
        "window_s": res["window_s"], "mismatches": mismatches,
        "op_errors": [f"{o['op']}: {o['error']}" for o in op_errors],
        "environment": environment(res["java"]),
    }
    with open(os.path.join(OUT, f"{tag}.json"), "w") as f:
        json.dump({"detail": detail, "metrics": metrics}, f, indent=1)
    print(json.dumps(detail))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
