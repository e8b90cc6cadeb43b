"""SparkSession factory with scale-aware defaults, and the release of
stored DataFrames."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "hdtspark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a SparkSession.

    Defaults target this sandbox (local[N]); on a real cluster the same
    pipeline runs unchanged via ``spark-submit --py-files hdtspark.zip`` —
    only master/shuffle-partitions move with cluster size.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    # Shuffle/spill dir: in local mode the VM disk is slow and noisy; tmpfs
    # keeps shuffle I/O off it.  On a real cluster this is instead the
    # executors' NVMe local dirs (spark.local.dir set by the cluster conf).
    local_dir = os.environ.get("HDTSPARK_LOCAL_DIR")
    if local_dir is None and master.startswith("local") and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/hdtspark-local"
    # 4x the core count: small enough tasks to avoid per-task sort spill and
    # keep all cores busy through AQE coalescing; on a real cluster this is
    # sized so post-shuffle partitions land near 64-128 MB.
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 4 * cpus))
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32MB")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Compress serialized cached blocks (the DISK_ONLY triples_str cache
        # is string-heavy, ~4-6x compressible): on a single box the scaling
        # limiter is shared memory bandwidth, and trading bytes for (fully
        # parallel) codec CPU moves work from the contended to the scalable
        # resource.  Shuffle/spill compression is already on by default.
        .config("spark.rdd.compress", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("HDTSPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def leaf_rdd(df: DataFrame):
    """The JVM RDD behind ``df`` when its plan is one ``localCheckpoint``
    leaf (a ``LogicalRDD`` node), else None."""
    plan = df._jdf.queryExecution().logical()
    if plan.getClass().getSimpleName() != "LogicalRDD":
        return None
    return plan.rdd()


def release(df: DataFrame, blocking: bool = False) -> None:
    """Free the blocks ``df`` stores: its cache, and for a localCheckpoint
    leaf the checkpointed RDD, which ``DataFrame.unpersist`` leaves in
    place (the RDD stays listed in ``SparkContext.getPersistentRDDs``).
    A released leaf cannot be read again: it has no lineage to recompute
    from."""
    df.unpersist(blocking)
    rdd = leaf_rdd(df)
    if rdd is not None:
        rdd.unpersist(blocking)
