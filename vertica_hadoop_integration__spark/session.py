"""SparkSession factory with scale-aware defaults.

Defaults mirror the reference's tuning envelope (BASELINE.md §C):
AQE on (runtime re-planning, skew-join splitting, partition coalescing),
UTC session timezone (deterministic timestamp semantics vs the DuckDB
oracle), Arrow for any pandas exchange, and shuffle partitions sized from
the environment — 32 for local[32] test runs; a real 1000-executor
deployment overrides via ``extra_conf`` or spark-submit conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Shuffle partition default: on the local[32] test harness, 32 keeps one
# shuffle partition per core with zero queueing; at cluster scale callers
# should size this to ~2-3x total cores or rely on AQE coalescing from a
# higher initial value.
_DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _default_driver_memory() -> str:
    """16g, or half the host's physical memory when that is smaller: a
    heap sized past what the host can back gets the JVM killed by the OOM
    killer mid-run instead of spilling or failing one task."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return f"{min(16 * 1024, half_mb)}m"


def get_session(
    app_name: str = "spark-etl-engine",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    All engine code paths go through here so tests, bench, and the driver
    share one tuned configuration.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        # --- planner / runtime optimization -------------------------------
        # AQE: runtime shuffle-partition coalescing, skew-join splitting,
        # dynamic join-strategy switch (sort-merge -> broadcast when a side
        # turns out small). Essential at 100 TB where static stats lie.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", _DEFAULT_SHUFFLE_PARTITIONS)
        # Broadcast threshold: dims (region/nation/supplier + ledger) are
        # tiny even at 100 TB fact scale; 64 MiB keeps them map-side.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- determinism vs the DuckDB oracle -----------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # --- python boundary ----------------------------------------------
        # Arrow batches for any pandas_udf / toPandas hop (10-100x row-at-a-
        # time python).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- io -----------------------------------------------------------
        # 128 MiB split target: matches the reference's scan-efficient ORC
        # stripes (256 MiB stripes -> 2 splits) and keeps task count sane at
        # 100 TB (~800k tasks, fine for a 1000-executor cluster).
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # fixture `events.ts` is parquet TIMESTAMP(NANOS): read as long ns
        # (sources.readers normalizes it back to a timestamp column)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.orc.filterPushdown", "true")
        # local runs: don't let UI/retained-job bookkeeping grow
        .config("spark.ui.enabled", "false")
        # local[N] runs driver and executors in ONE JVM: the 1g default
        # heap cannot hold 32 concurrent task slots + broadcast builds
        # (observed: broadcast OOM at 50k-doc dedup). No-op if the JVM is
        # already up (driver-owned sessions keep their own setting).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
    )
    if master is None and not os.environ.get("SPARK_MASTER"):
        master = f"local[{_DEFAULT_CPUS}]"
    if master:
        builder = builder.master(master)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
