"""One benchmark run inside a fresh process (started by ``run.py``).

Starts the session, runs a cold pass whose action collects each result
for the oracle check, then warm passes with a noop write until
``--seconds`` have passed since the cold pass ended (at least the
workload's fixed number of warm passes), hashes the collected results
outside the timed region, and writes a JSON result file. With
``--trace 1`` it wraps the engine's layers before the first operation,
alternates untraced and traced warm passes (starting and ending untraced)
and records Spark's job and stage metrics per operation.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]

from spans import Tracer  # noqa: E402
from workloads import WORKLOADS, pass_order  # noqa: E402

COMMIT_METHODS = (
    "create", "merge", "delete", "delete_keys", "apply_changes", "merge_into",
    "overwrite", "restore", "compact", "alter_layout", "checkpoint",
    "set_constraint", "drop_constraint", "vacuum",
)
READ_PLAN_METHODS = ("read", "files", "scan_plan")


class Run:
    def __init__(self, spark, catalog, sf_dir: str, trace: bool):
        self.spark = spark
        self.catalog = catalog
        self.sf_dir = sf_dir
        self.tracer = Tracer()
        self.trace = trace
        self.listener = None
        self.touched_tables: list = []
        self.load_results: dict[int, object] = {}
        self.collected: dict[str, object] = {}
        self.n_ops = 0

    # -- layer wrappers -------------------------------------------------
    def install(self) -> None:
        from pyspark.sql.streaming.query import StreamingQuery
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        from forklift_spark import patterns, tables
        from forklift_spark.connections import deltalite, iceberglite
        from forklift_spark.manifest import ManifestTable
        from forklift_spark.operators import dedup, graph, text

        from sparkstats import ProgressListener

        t = self.tracer

        def load_hit(span, args, result):
            span.attrs["hit"] = id(result) in self.load_results
            self.load_results[id(result)] = result

        def touched(span, args, result):
            if all(a is not args[0] for a in self.touched_tables):
                self.touched_tables.append(args[0])

        t.wrap(tables, "load", "tables.load", "tables", on_call=load_hit)
        for mod in (dedup, text, graph):
            t.wrap_module_functions(mod, "operators")
        for m in COMMIT_METHODS:
            t.wrap(ManifestTable, m, f"manifest.commit.{m}", "manifest",
                   on_call=touched)
        for m in READ_PLAN_METHODS:
            t.wrap(ManifestTable, m, f"manifest.read_plan.{m}", "manifest")
        t.wrap(patterns, "manifest_cdc_sync", "patterns.cdc_sync", "patterns")
        t.wrap(deltalite, "sync_manifest_to_delta", "connections.delta_sync",
               "connections")
        t.wrap(iceberglite, "sync_manifest_to_iceberg",
               "connections.iceberg_sync", "connections")
        t.wrap(DataStreamWriter, "start", "streaming.start", "streaming")
        t.wrap(StreamingQuery, "awaitTermination", "streaming.await",
               "streaming")
        self.listener = ProgressListener()
        self.spark.streams.addListener(self.listener)

    # -- one operation ----------------------------------------------------
    def run_op(self, name: str, traced: bool, collect: bool) -> dict:
        """Build and run one operation. The action is a noop-format write,
        which computes every output column without collecting it; with
        ``collect`` it is ``toPandas()`` instead, kept for the oracle check."""
        from sparkstats import drain_listeners, next_job_id, read_jobs

        t = self.tracer
        t.op = self.n_ops
        self.n_ops += 1
        self.touched_tables = []
        if traced:
            first_job = next_job_id(self.spark)
        rec = {"op": name, "op_id": t.op, "traced": traced, "error": None}
        t.enabled = traced
        start = time.time()
        try:
            with t.span(name, "op"):
                b0 = time.time()
                with t.span("queries.build", "queries"):
                    df = self.catalog[name](self.spark, self.sf_dir)
                b1 = time.time()
                with t.span("queries.action", "queries"):
                    if collect:
                        self.collected[name] = to_pandas(self.spark, df)
                    else:
                        df.write.format("noop").mode("overwrite").save()
            rec["build_s"], rec["action_s"] = b1 - b0, time.time() - b1
        except Exception:
            rec["error"] = traceback.format_exc().strip().splitlines()[-1]
            traceback.print_exc()
        end = time.time()
        t.enabled = False
        rec["start"], rec["end"], rec["wall_s"] = start, end, end - start
        if traced:
            # the status store and the streaming listener are fed from the
            # asynchronous listener bus: let it deliver every event first
            drain_listeners(self.spark)
            rec["jobs"], rec["jobs_unread"] = read_jobs(
                self.spark, first_job, next_job_id(self.spark))
            rec["progress"] = self.listener.take()
            rec["history"] = [tb.history() for tb in self.touched_tables]
        return rec

    def run_pass(self, order: list[str], traced: bool, collect: bool = False) -> dict:
        steal0 = steal_s()
        ops = [self.run_op(n, traced, collect) for n in order]
        return {"traced": traced, "wall_s": sum(o["wall_s"] for o in ops),
                "steal_s": steal_s() - steal0, "ops": ops}

    # -- correctness ------------------------------------------------------
    def checks(self, names: list[str], oracle_sql: dict[str, str]) -> list[dict]:
        """Canonical value hash of each collected result, computed outside
        the timed region the way ``scripts/verify_driver.py`` hashes it."""
        from verify_driver import _canon, _value_hash

        out = []
        for name in names:
            row = {"op": name, "oracle_sql": oracle_sql.get(name)}
            pdf = self.collected.get(name)
            if pdf is None:
                row["error"] = "no collected result"
            else:
                row.update(columns=sorted(pdf.columns), rows=len(pdf),
                           hash=_value_hash(_canon(pdf)))
            out.append(row)
        return out


def to_pandas(spark, df):
    """``toPandas()`` without Arrow, as ``scripts/verify_driver.py`` collects."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        return df.toPandas()
    finally:
        spark.conf.set(key, prev)


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs
    (the ``steal`` column of /proc/stat); 0 on bare metal."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def dir_bytes(*roots: str) -> int:
    total = 0
    for root in roots:
        for d, _, files in os.walk(root):
            for f in files:
                try:
                    total += os.lstat(os.path.join(d, f)).st_size
                except OSError:
                    pass
    return total


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()
    spawned_at = float(os.environ["PERFBENCH_SPAWNED_AT"])

    from forklift_spark import queries as Q
    from forklift_spark.session import get_spark

    catalog = Q.catalog()
    oracle_sql = Q.oracles()
    s0 = time.time()
    # a fixed heap (initial = max), so resident memory does not follow the
    # JVM's heap-resizing decisions; JVM temp files stay in the run's scratch
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    spark = get_spark(app_name="perfbench", extra_conf={
        "spark.driver.extraJavaOptions": f"-Xms{heap} -XX:-UsePerfData "
                                         f"-Djava.io.tmpdir={os.environ['TMPDIR']}"})
    session_start_s = time.time() - s0
    run = Run(spark, catalog, args.sf_dir, bool(args.trace))
    if run.trace:
        run.install()
    order = pass_order(args.workload, args.seed)
    setup_s = time.time() - spawned_at

    passes = [run.run_pass(order, traced=run.trace, collect=True)]
    window_start = time.time()
    # a traced run alternates untraced and traced warm passes and ends on an
    # untraced one, so every traced pass has an untraced one to compare with;
    # it makes at least three (untraced, traced, untraced)
    warm, min_warm = 0, WORKLOADS[args.workload]["warm_passes"]
    if run.trace:
        min_warm = max(min_warm, 3)
    while (warm < min_warm or time.time() - window_start < args.seconds
           or (run.trace and warm % 2 == 0)):
        passes.append(run.run_pass(order, traced=run.trace and warm % 2 == 1))
        warm += 1
    window_s = time.time() - window_start

    checks = run.checks(sorted(order), oracle_sql)
    stored = dir_bytes(os.environ["TMPDIR"], os.environ["SPARK_GRAFT_WAREHOUSE"])
    java = spark.sparkContext._jvm.System.getProperty("java.version")
    spark.stop()

    result = {
        "workload": args.workload, "seed": args.seed, "order": order,
        "setup_s": setup_s, "session_start_s": session_start_s,
        "window_s": window_s, "passes": passes, "checks": checks,
        "stored_bytes": stored, "java": java,
    }
    if run.trace:
        result["spans"] = run.tracer.dump()
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
