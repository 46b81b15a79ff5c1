"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]``; the same configs are what we would
ship for a 1000-executor cluster (AQE on, Arrow on, sane shuffle
partitioning). Scale-sensitive knobs are centralized here so the bench
harness can run the identical job at two parallelism levels (local[8] vs
local[32]) for the scaling-efficiency evidence.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# engine-semantics configs that must hold on ANY deployment (batch test
# session or spark-submit cluster job); deployment-shape knobs (master,
# memory, shuffle partitions) deliberately NOT included — those belong
# to the submit command / cluster manager
ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    # AQE right-sizes aggregation shuffles (byte-based). Grouped-KERNEL
    # stages have O(n²) flops per O(n) bytes, so byte-based coalescing
    # would fold them into one wave of uneven tasks — those operators
    # therefore use an explicit repartition-by-num on the group key
    # (operators/profile.py), which AQE leaves alone.
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # measured, not assumed: this flag only affects
    # TypedImperativeAggregates, which in this engine means the
    # collect_list packing paths (pack_series, segment encode) —
    # min_by/max_by compile to declarative HashAggregate in Spark 4
    # either way (plan-verified). pack_series over 16.7M rows:
    # 1.8 s sort-based vs 6.8 s object-hash at 16 cores, and the
    # object path is SLOWER at 16 cores than at 4 (per-group array
    # buffers in a hash map; GC churn grows with core count). Input
    # clustering by (conv, ts) — the table's native layout at
    # 100 TB — makes the partial sort nearly free.
    "spark.sql.execution.useObjectHashAggregateExec": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # grouped-map Arrow batches: large enough to amortize IPC, small
    # enough to never blow a python worker at 100 TB partition sizes
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
}


def get_spark(
    app: str = "matrixprofile_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores=None → ``local[*]``. ``shuffle_partitions`` defaults to the core
    count — on a real cluster this would be 2-3× total executor cores; the
    point is that it is *sized to the parallelism*, never the 200 default.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n = cores
    sp = int(shuffle_partitions or max(16, n * 4))
    conf = {
        "spark.sql.shuffle.partitions": str(sp),
        "spark.default.parallelism": str(n),
        **ENGINE_CONF,
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "48g"),
        # single-disk sandbox: concurrent shuffle/spill writers serialize
        # on /tmp; RAM-backed local dirs restore write parallelism (a real
        # cluster uses per-executor local NVMe for the same reason)
        "spark.local.dir": os.environ.get(
            "SPARK_LOCAL_DIRS",
            "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp"),
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        **(extra_conf or {}),
    }
    b = SparkSession.builder.master(master).appName(app)
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def get_submit_spark(app: str = "matrixprofile_spark_job") -> SparkSession:
    """Session for `spark-submit --py-files ...` jobs (north_rule's
    deployment shape): master, deploy mode, executor sizing and shuffle
    partitioning come from the submit command / cluster defaults; only
    the engine-semantics configs are pinned here. On a cluster, pass
    e.g. `--conf spark.sql.shuffle.partitions=<2-3x total cores>`."""
    b = SparkSession.builder.appName(app)
    for k, v in ENGINE_CONF.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
