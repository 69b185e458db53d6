"""SparkSession construction with scale-aware defaults.

Replaces the reference's connection bootstrap (forklift `plan.rb:119-141`
`do!` + mysql2 client setup at `transports/mysql.rb:7-10`) with a single
SparkSession factory. All engine defaults that matter at 100 TB live here:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting).
- master `local[SPARK_GRAFT_CPUS]`, 1 core when the variable is unset (a
  value that is not an integer raises); shuffle.partitions
  `max(cpus, 8)`. On a real cluster AQE's coalesce makes the static
  number mostly irrelevant as long as the initial value is high enough
  (set via `spark.sql.adaptive.coalescePartitions.initialPartitionNum`
  on deploy).
- UTC session timezone so timestamp semantics are engine-independent
  (and match the DuckDB correctness oracle).
- Arrow enabled for any pandas-UDF path.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def _cpus() -> int:
    """Local core count from ``SPARK_GRAFT_CPUS``: 1 when unset or
    empty, at least 1 otherwise; a non-integer value raises."""
    raw = os.environ.get("SPARK_GRAFT_CPUS") or "1"
    try:
        return max(1, int(raw))
    except ValueError:
        raise ValueError(
            f"SPARK_GRAFT_CPUS={raw!r} is not an integer core count"
        ) from None


def session_builder(
    app_name: str = "forklift_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession.Builder:
    """Builder with engine defaults; callers may override anything."""
    cpus = _cpus()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(cpus, 8)))
    )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Post-shuffle partition count derives from DATA BYTES, not core
        # count (optimization r9, guide §2.2 / VERDICT r8 item 1): with
        # parallelismFirst=true (Spark's default) AQE ignores the
        # advisory size and only coalesces down to minPartitionSize
        # (1 MB) per defaultParallelism, so every small shuffle still
        # pays one task per core — measured as the whole-suite 32-core
        # sweep running SLOWER than the 8-core sweep at sf0.1 (311 s vs
        # 274 s, BENCH_r08/BENCH_r08_c8). False is the setting Spark's
        # own tuning guide recommends ("it's recommended to set this
        # config to false and respect the configured target size"): a
        # shuffle of N bytes gets ceil(N / advisory) partitions at EVERY
        # scale — 64 MB advisory gives a 10 TB shuffle ~160k partitions
        # and a 10 MB shuffle 1, so cluster sizing is unchanged where it
        # matters and the tiny-shuffle task storm disappears. Both knobs
        # env-overridable; nothing is tuned to one box.
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            os.environ.get("SPARK_GRAFT_AQE_PARALLELISM_FIRST", "false"),
        )
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION_BYTES", "64m"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Python DataSource filter pushdown (the forklift_manifest
        # source prunes files via partition tokens + zone maps)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # read TIMESTAMP(NANOS) parquet as long; tables.load converts to
        # micro timestamps (Spark has no native nanos type)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        # 30g, not bigger: heaps >32g lose compressed oops and the default
        # G1 tuning degrades badly on allocation-heavy (decimal) plans —
        # measured 13s vs 3.4s on the LSH dedup at 48g vs <=32g. 30g keeps
        # compressed oops and is ample for local[32] at bench SFs; override
        # with SPARK_GRAFT_DRIVER_MEM for larger local datasets.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "30g"))
        # local mode: the driver is the executor; keep python worker reuse on
        .config("spark.python.worker.reuse", "true")
        # per-process warehouse: managed tables (bucketed signature/skew
        # tables) are session-cache artifacts, not shared state — two
        # concurrent processes writing the same managed-table PATH under a
        # shared ./spark-warehouse race (observed: transient
        # table-already-exists under parallel suite + verifier runs). The
        # catalog metastore is per-process already; the table location
        # must be too. Override with SPARK_GRAFT_WAREHOUSE for a shared
        # deployment metastore.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                os.path.join(
                    tempfile.gettempdir(), f"fk_warehouse_{os.getpid()}"
                ),
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b


def get_spark(**kwargs) -> SparkSession:
    spark = session_builder(**kwargs).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
