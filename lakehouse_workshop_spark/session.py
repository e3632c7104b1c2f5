"""SparkSession factory with scale-oriented defaults.

The reference relies on a Databricks-managed session; here the engine owns
session construction (SURVEY.md §4): Arrow exchange on (reference toggles it at
``DS_cust_lifetime_value.py:148``), AQE on (coalesce + skew-join), UTC session
timezone so date extraction matches the DuckDB oracle bit-for-bit, and shuffle
parallelism sized to the machine rather than Spark's default 200.

At cluster scale the same factory applies: AQE re-plans shuffles at runtime,
``spark.sql.files.maxPartitionBytes`` keeps scan partitions executor-sized, and
broadcast joins stay enabled for dimension tables.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "lakehouse-workshop-spark"


def _default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _default_driver_mem() -> str:
    """min(32g, ~60% of physical RAM), floored at 2g.

    Local mode runs driver AND all executor threads in ONE JVM, so this
    IS the executor heap; a fixed 32g would not start (or swap) on hosts
    with less than ~32 GB RAM. SPARK_GRAFT_DRIVER_MEM overrides.
    """
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):
        return "32g"
    return f"{max(2, min(32, int(total * 0.6 / (1 << 30))))}g"


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    Local test posture is ``local[$SPARK_GRAFT_CPUS]``; on a real cluster
    ``SPARK_GRAFT_MASTER`` names the cluster manager and the same SQL configs
    hold. ``extra_conf`` sets or overrides any other conf.
    """
    cpus = _default_parallelism()
    # Single-threaded BLAS in the Python workers: local[N] already
    # saturates the cores with N worker processes, so N workers × M
    # spinning OpenBLAS threads only adds sched_yield contention.
    # Set via env BEFORE the JVM launches so workers (forked from it)
    # inherit; setdefault keeps any explicit operator override. A real
    # cluster sets the same via spark.executorEnv.
    os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
    os.environ.setdefault("OMP_NUM_THREADS", "1")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        # Deterministic date semantics vs the DuckDB oracle (naive parquet ts).
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for every pandas boundary (toPandas/createDataFrame/applyInPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # AQE: runtime shuffle coalescing, skew-join splitting, plan re-opt.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(cpus))
        # Prefer shuffled-hash over sort-merge when the build side fits:
        # SHJ skips both sides' sorts (SMJ remains for large-per-partition
        # builds). Risk: preferSortMergeJoin=false
        # also enables PLAN-TIME SHJ selection via canBuildLocalHashMap
        # on ESTIMATED stats, independent of the AQE threshold; SHJ's
        # build side cannot spill, so a badly misestimated or skewed
        # build partition can OOM an executor at scale. The estimate
        # bound is autoBroadcastJoinThreshold × shuffle partitions with
        # per-partition skew the residual exposure; a deployment that
        # cannot tolerate it restores SMJ with
        # extra_conf={"spark.sql.join.preferSortMergeJoin": "true"} and
        # keeps only the bounded runtime conversion below. The AQE
        # threshold converts SMJ→SHJ at runtime only when EVERY
        # post-shuffle partition is under 64 MB; skew-join splitting
        # stays on above.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "67108864"
        )
        # Scan-side partition sizing: 128 MB splits keep tasks executor-sized
        # at 100 TB; harmless locally.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Floor scan parallelism at the core count: split packing charges
        # each file only openCostInBytes (4 MB), so a 32-file corpus would
        # pack into 4 splits and decode on 4 of 32 cores. The floor
        # divides totalBytes/minPartitionNum into the
        # split size, so it scales with input: at 100 TB splits stay
        # maxPartitionBytes-sized and the floor is a no-op; on small
        # inputs it stops the packer from serializing the scan.
        .config("spark.sql.files.minPartitionNum", str(cpus))
        # Local mode runs driver AND all executor threads in ONE JVM, so
        # this IS the executor heap; a small heap taxes long sessions with
        # old-gen pressure and shuffle spill. Cluster deployments size
        # executors explicitly and override via SPARK_GRAFT_DRIVER_MEM.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
