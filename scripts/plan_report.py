"""Physical-plan evidence report: one row per catalog query with the
plan features that decide 100 TB behavior — shuffle (Exchange) count,
broadcast count, whether the parquet scan carries pushed filters, and
whole-stage-codegen span count. Output: PLANS_r{N}.md (table) +
plans_report.json (machine-readable).

This is the artifact behind the plan-discipline claims: the catalog-wide
ban on CartesianProduct lives in tests/test_plan_audit.py; this report
makes the remaining plan shape reviewable query-by-query without
re-running explain() by hand.

Usage: python scripts/plan_report.py [round_tag]
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("PLAN_SF_DIR", "/root/testdata/sf0.001")

# build-time executors (streams, iterative fits, side-effect connectors):
# their plans are exercised by their own tests; building them here would
# run jobs, not just analyze
from tests.test_plan_audit import _BUILDS_EXECUTE  # noqa: E402


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r3"
    from forklift_spark import queries as Q
    from forklift_spark.session import get_spark

    spark = get_spark(app_name="plan_report")
    # exchange counts depend on it: operators that partition by the core
    # count add shuffles Spark elides at local[1]
    parallelism = spark.sparkContext.defaultParallelism
    cat = Q.catalog()
    skip = set(_BUILDS_EXECUTE) | {
        n for n in cat if n.startswith(("q_csv", "q_jdbc", "q_dump", "q_es",
                                        "q_optimistic", "q_jsonl", "q_orc",
                                        "q_partitioned", "q_bucketed",
                                        "q_corpus_store", "q_scd2", "q_cdc",
                                        "q_auto_increment", "q_sql_script",
                                        "q_time_travel"))
    }
    rows = []
    for name, fn in cat.items():
        if name in skip:
            rows.append({"query": name, "skipped": "side-effect/build-executes"})
            continue
        try:
            df = fn(spark, SF_DIR)
            # execute THIS dataframe's plan so AQE finalizes it: the
            # report shows the plan that actually ran (real codegen
            # spans, AQE join picks); count() would finalize a different
            # wrapper plan and leave this one isFinalPlan=false
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
            # adaptive plans append "== Initial Plan ==" after the final
            # plan — audit only what actually ran
            plan = plan.split("== Initial Plan ==")[0]
        except Exception as e:  # pragma: no cover - report, don't die
            rows.append({"query": name, "error": str(e).splitlines()[0][:120]})
            continue
        scans = plan.count("Scan parquet") + plan.count("FileScan parquet")
        shuffles = sum(
            1
            for line in plan.splitlines()
            if "ReusedExchange" not in line
            and re.match(r"^[\s+\-:*()0-9]*Exchange\b", line)
        )
        rows.append(
            {
                "query": name,
                # line-anchored: ReusedExchange descriptor text repeats
                # the exchange spec inline and must not count
                "exchanges": shuffles,
                "broadcasts": plan.count("BroadcastExchange"),
                "parquet_scans": scans,
                "pushed_filter_scans": len(
                    re.findall(r"PushedFilters: \[[^\]]", plan)
                ),
                "codegen_spans": len(set(re.findall(r"\*\((\d+)\)", plan))),
                "bnlj": plan.count("BroadcastNestedLoopJoin"),
                "cartesian": plan.count("CartesianProduct"),
            }
        )
    with open(f"plans_report.json", "w") as f:
        json.dump(
            {"sf_dir": SF_DIR, "default_parallelism": parallelism, "rows": rows},
            f,
            indent=1,
        )
    audited = [r for r in rows if "exchanges" in r]
    errors = [r for r in rows if "error" in r]
    with open(f"PLANS_{tag}.md", "w") as f:
        f.write(
            f"# Physical-plan evidence — {tag}\n\n"
            f"{len(audited)} catalog queries audited at {SF_DIR}, "
            f"defaultParallelism {parallelism} "
            f"({len(rows) - len(audited) - len(errors)} side-effect/streaming "
            "entries covered by their own tests instead; "
            f"{len(errors)} ERRORED — must be 0).\n\n"
            "Columns: shuffle Exchanges (excl. broadcast), BroadcastExchanges, "
            "parquet scans / scans with pushed filters, distinct "
            "WholeStageCodegen spans, BroadcastNestedLoopJoins "
            "(all allowlisted-bounded), CartesianProducts (banned — must be 0).\n\n"
            "| query | xchg | bcast | scans | pushed | codegen | bnlj | cart |\n"
            "|---|---|---|---|---|---|---|---|\n"
        )
        for r in audited:
            f.write(
                f"| {r['query']} | {r['exchanges']} | {r['broadcasts']} | "
                f"{r['parquet_scans']} | {r['pushed_filter_scans']} | "
                f"{r['codegen_spans']} | {r['bnlj']} | {r['cartesian']} |\n"
            )
        tot = lambda k: sum(r[k] for r in audited)
        f.write(
            f"\nTotals: {tot('exchanges')} shuffle exchanges, "
            f"{tot('broadcasts')} broadcasts, {tot('cartesian')} cartesian "
            f"products across {len(audited)} plans.\n"
        )
    if errors:
        for r in errors:
            print("PLAN-ERROR", r["query"], r["error"])
    print(json.dumps({
        "audited": len(audited),
        "errors": len(errors),
        "skipped": len(rows) - len(audited) - len(errors),
    }))


if __name__ == "__main__":
    main()
