"""Console entry points (O5 parity): ``init`` scaffold + ``run`` plan.

Reference: `bin/forklift:12-63` — ``forklift --generate`` scaffolds the
project tree; ``forklift plan.rb [steps...]`` chdirs to the plan's
directory and loads it, with the step names consumed by
`plan.rb:96-117` ARGV selection. Here:

    python -m forklift_spark init [dir]
    python -m forklift_spark run plan.py [step ...]

``run`` executes the plan file from its own directory (same chdir
semantics); the plan file builds a ``Plan`` and calls
``plan.run(steps=cli_steps())`` — ``cli_steps()`` reads the selection
the CLI stashed in ``FORKLIFT_STEPS`` (empty/unset -> run all steps,
matching `plan.rb:100-104`).
"""

from __future__ import annotations

import argparse
import os
import runpy
import sys

SCAFFOLD_DIRS = (
    "config/connections/parquet",
    "config/connections/csv",
    "config/connections/jdbc",
    "transformations",
    "plans",
    "pids",
    "log",
)

EXAMPLE_PLAN = '''\
"""Example plan — run with: python -m forklift_spark run plans/plan.py [steps]"""
from forklift_spark.cli import cli_steps
from forklift_spark.engine import Engine
from forklift_spark.plan import Plan

plan = Plan(engine=Engine({"project_root": "."}))


@plan.step("hello")
def hello():
    plan.logger.log("hello from forklift_spark")


plan.run(steps=cli_steps())
'''

EXAMPLE_CONNECTION = """\
# connection config for a parquet warehouse; the engine discovers every
# config/connections/<type>/<name>.yml (see Engine.connect_all)
path: ./warehouse
"""

EXAMPLE_SQL_TRANSFORMATION = """\
-- Multi-statement SQL transformation (run with connection.exec).
-- DELIMITER redefinitions are honored, statements run one by one.
CREATE TABLE IF NOT EXISTS cleaned AS SELECT * FROM source_table;
DELIMITER //
SELECT count(*) FROM cleaned//
DELIMITER ;
"""

EXAMPLE_PY_TRANSFORMATION = '''\
"""Code transformation: full PySpark available (run with connection.exec)."""


def do(connection, engine, *args):
    df = connection.read("source_table")
    connection.write(df, "scored", mode="overwrite")
    engine.logger.log(f"scored {df.count()} rows")
'''


def init(root: str = ".") -> None:
    for d in SCAFFOLD_DIRS:
        os.makedirs(os.path.join(root, d), exist_ok=True)
    plan_path = os.path.join(root, "plans", "plan.py")
    if not os.path.exists(plan_path):
        with open(plan_path, "w") as f:
            f.write(EXAMPLE_PLAN)
    conn_path = os.path.join(root, "config", "connections", "parquet", "warehouse.yml")
    if not os.path.exists(conn_path):
        with open(conn_path, "w") as f:
            f.write(EXAMPLE_CONNECTION)
    for rel, content in (
        (os.path.join("transformations", "example.sql"), EXAMPLE_SQL_TRANSFORMATION),
        (os.path.join("transformations", "example.py"), EXAMPLE_PY_TRANSFORMATION),
    ):
        path = os.path.join(root, rel)
        if not os.path.exists(path):
            with open(path, "w") as f:
                f.write(content)


def cli_steps() -> list[str] | None:
    """Step selection stashed by ``run`` (None -> all steps)."""
    raw = os.environ.get("FORKLIFT_STEPS", "")
    return [s for s in raw.split(",") if s] or None


def run(plan_file: str, steps: list[str]) -> None:
    plan_path = os.path.abspath(plan_file)
    plan_dir = os.path.dirname(plan_path) or "."
    prev = os.getcwd()
    os.environ["FORKLIFT_STEPS"] = ",".join(steps)
    os.chdir(plan_dir)
    try:
        sys.path.insert(0, plan_dir)
        runpy.run_path(plan_path, run_name="__main__")
    finally:
        sys.path.remove(plan_dir)
        os.chdir(prev)
        os.environ.pop("FORKLIFT_STEPS", None)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="forklift_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    p_init = sub.add_parser("init", help="scaffold a project tree")
    p_init.add_argument("dir", nargs="?", default=".")
    p_run = sub.add_parser("run", help="run a plan file")
    p_run.add_argument("plan")
    p_run.add_argument("steps", nargs="*")
    sub.add_parser("queries", help="list the query catalog")
    p_query = sub.add_parser("query", help="run one catalog query")
    p_query.add_argument("name")
    p_query.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
    )
    p_query.add_argument("--limit", type=int, default=20)
    p_man = sub.add_parser(
        "manifest",
        help="manifest-table maintenance (history/compact/vacuum/restore)",
    )
    p_man.add_argument(
        "op",
        choices=["history", "compact", "vacuum", "restore", "fsck",
                 "checkpoint", "maintain", "set-constraint",
                 "drop-constraint", "export-delta", "export-iceberg",
                 "sync-delta", "sync-iceberg", "scan-plan"],
    )
    p_man.add_argument("root", help="warehouse dir holding the table")
    p_man.add_argument("table")
    p_man.add_argument("--min-files", type=int, default=4)
    p_man.add_argument("--keep-versions", type=int, default=3)
    p_man.add_argument("--version", type=int, help="restore target")
    p_man.add_argument(
        "--cluster-by", help="comma list: compact = OPTIMIZE ZORDER BY"
    )
    p_man.add_argument(
        "--auto-dv",
        action="store_true",
        help="compact only the partitions fsck flags for dv pressure",
    )
    p_man.add_argument(
        "--name", help="constraint name (set-constraint/drop-constraint)"
    )
    p_man.add_argument(
        "--expr", help="CHECK expression (set-constraint)"
    )
    p_man.add_argument(
        "--dest", help="export-*/sync-*: destination directory of the "
        "published Delta log / Iceberg table (an export is the first "
        "sync; on an existing destination, an incremental sync)"
    )
    p_man.add_argument(
        "--dv-mode", choices=["refuse", "native"], default="refuse",
        help="export-*/sync-*: live dv mask policy (see "
        "forklift_spark/connections/publish.py)",
    )
    p_man.add_argument(
        "--cdf", action="store_true",
        help="export-delta/sync-delta: create the destination with "
        "delta.enableChangeDataFeed — later syncs write real "
        "_change_data files for commits carrying deletes/dv churn",
    )
    p_man.add_argument(
        "--orphan-grace",
        type=float,
        default=None,
        help="vacuum/maintain: seconds a NEVER-referenced file must age "
        "before deletion (default 24h; 0 = reclaim crash debris now — "
        "only safe with no live writers)",
    )
    p_man.add_argument(
        "--where",
        help='scan-plan: JSON bounds {"col": [lo, hi]} (null = open end)',
    )
    p_man.add_argument(
        "--partitions",
        help="scan-plan: comma list of partition values to cover",
    )
    p_lake = sub.add_parser(
        "lakehouse",
        help="exported-table maintenance: dest-side vacuum of "
        "unreferenced DV bins / data / delete files",
    )
    p_lake.add_argument("op", choices=["vacuum-delta", "vacuum-iceberg",
                                       "checkpoint-delta",
                                       "expire-iceberg",
                                       "scan-plan-delta",
                                       "scan-plan-iceberg"])
    p_lake.add_argument("dest", help="exported table directory")
    p_lake.add_argument(
        "--where",
        help='scan-plan-*: JSON bounds {"col": [lo, hi]} (null = open '
        "end); prints the plan-time pruning counters (files/bytes "
        "planned, partition_pruned, stat-less columns) without reading "
        "a row",
    )
    p_lake.add_argument(
        "--grace-hours", type=float, default=168.0,
        help="minimum file age before reclaim (default 7 days, Delta's "
        "own VACUUM default; 0 only when no reader is mid-snapshot)",
    )
    p_lake.add_argument(
        "--keep-last", type=int, default=5,
        help="expire-iceberg: snapshots to retain (current always kept)",
    )
    ns = p.parse_args(argv)
    if ns.cmd == "init":
        init(ns.dir)
    elif ns.cmd == "queries":
        from forklift_spark import queries as Q

        oracles = Q.oracles()
        for name in sorted(Q.catalog()):
            kind = "oracle-checked" if name in oracles else "rows-only"
            print(f"{name}\t{kind}")
    elif ns.cmd == "query":
        import json as _json

        from forklift_spark import queries as Q
        from forklift_spark.session import get_spark

        cat = Q.catalog()
        if ns.name not in cat:
            match = [n for n in cat if ns.name in n]
            if len(match) != 1:
                print(f"unknown query {ns.name!r}; candidates: {match[:10]}")
                return 2
            ns.name = match[0]
        df = cat[ns.name](get_spark(), ns.sf_dir)
        for row in df.limit(ns.limit).collect():
            print(_json.dumps(row.asDict(), default=str))
    elif ns.cmd == "manifest":
        import json as _json

        from forklift_spark.manifest import ManifestTable
        from forklift_spark.session import get_spark

        t = ManifestTable(get_spark(), ns.root, ns.table)
        if ns.op == "history":
            for h in t.history():
                print(_json.dumps(h))
        elif ns.op == "compact":
            cluster = ns.cluster_by.split(",") if ns.cluster_by else None
            print(_json.dumps(t.compact(min_files=ns.min_files,
                                        cluster_by=cluster,
                                        auto_dv=ns.auto_dv)))
        elif ns.op == "vacuum":
            kw = {"keep_versions": ns.keep_versions}
            if ns.orphan_grace is not None:
                kw["orphan_grace_seconds"] = ns.orphan_grace
            print(_json.dumps(t.vacuum(**kw)))
        elif ns.op == "checkpoint":
            print(_json.dumps(t.checkpoint()))
        elif ns.op == "set-constraint":
            if not ns.name or not ns.expr:
                print("set-constraint requires --name and --expr")
                return 2
            print(_json.dumps(t.set_constraint(ns.name, ns.expr)))
        elif ns.op == "drop-constraint":
            if not ns.name:
                print("drop-constraint requires --name")
                return 2
            print(_json.dumps(t.drop_constraint(ns.name)))
        elif ns.op == "maintain":
            kw = {"min_files": ns.min_files,
                  "keep_versions": ns.keep_versions}
            if ns.orphan_grace is not None:
                kw["orphan_grace_seconds"] = ns.orphan_grace
            report = t.maintain(**kw)
            print(_json.dumps(report))
            return 0 if report["fsck"]["ok"] else 1
        elif ns.op == "fsck":
            report = t.fsck()
            print(_json.dumps(report))
            return 0 if report["ok"] else 1
        elif ns.op in ("export-delta", "export-iceberg",
                       "sync-delta", "sync-iceberg"):
            if not ns.dest:
                print(f"{ns.op} requires --dest")
                return 2
            from forklift_spark.connections.deltalite import (
                export_manifest_to_delta,
                sync_manifest_to_delta,
            )
            from forklift_spark.connections.iceberglite import (
                export_manifest_to_iceberg,
                sync_manifest_to_iceberg,
            )

            fn = {"export-delta": export_manifest_to_delta,
                  "export-iceberg": export_manifest_to_iceberg,
                  "sync-delta": sync_manifest_to_delta,
                  "sync-iceberg": sync_manifest_to_iceberg}[ns.op]
            kw = {"dv_mode": ns.dv_mode}
            if ns.cdf and ns.op in ("export-delta", "sync-delta"):
                kw["cdf"] = True
            print(_json.dumps(fn(t, ns.dest, **kw)))
        elif ns.op == "scan-plan":
            where = None
            if ns.where:
                where = {k: tuple(v) if isinstance(v, list) else (v, v)
                         for k, v in _json.loads(ns.where).items()}
            parts = ns.partitions.split(",") if ns.partitions else None
            print(_json.dumps(t.explain_read(version=ns.version,
                                             partitions=parts,
                                             where=where)))
        else:
            if ns.version is None:
                print("restore requires --version")
                return 2
            print(_json.dumps(t.restore(ns.version)))
    elif ns.cmd == "lakehouse":
        import json as _json

        from forklift_spark.session import get_spark

        if ns.op in ("scan-plan-delta", "scan-plan-iceberg"):
            if not ns.where:
                print("scan-plan needs --where")
                return 2
            where = {k: tuple(v) if isinstance(v, list) else (v, v)
                     for k, v in _json.loads(ns.where).items()}
            if ns.op == "scan-plan-delta":
                from forklift_spark.connections.deltalite import (
                    DeltaLiteTable,
                )

                t = DeltaLiteTable(get_spark(), ns.dest)
            else:
                from forklift_spark.connections.iceberglite import (
                    IcebergLiteTable,
                )

                t = IcebergLiteTable(get_spark(), ns.dest)
            t.read(where=where)  # plan only: nothing is collected
            print(_json.dumps(t.last_read_stats))
        elif ns.op == "checkpoint-delta":
            from forklift_spark.connections.deltalite import (
                checkpoint_delta_export,
            )

            print(_json.dumps(checkpoint_delta_export(
                get_spark(), ns.dest)))
        elif ns.op == "expire-iceberg":
            from forklift_spark.connections.iceberglite import (
                expire_iceberg_export_snapshots,
            )

            print(_json.dumps(expire_iceberg_export_snapshots(
                get_spark(), ns.dest, keep_last=ns.keep_last)))
        else:
            if ns.op == "vacuum-delta":
                from forklift_spark.connections.deltalite import (
                    vacuum_delta_export as _vac,
                )
            else:
                from forklift_spark.connections.iceberglite import (
                    vacuum_iceberg_export as _vac,
                )
            print(_json.dumps(_vac(
                get_spark(), ns.dest,
                grace_ms=int(ns.grace_hours * 3600 * 1000))))
    else:
        run(ns.plan, ns.steps)
    return 0


if __name__ == "__main__":  # pragma: no cover
    sys.exit(main())
