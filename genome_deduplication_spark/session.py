"""SparkSession factory tuned for this engine.

Local mode is the test harness; the conf defaults are chosen to also be the
right starting point on a real multi-executor cluster (AQE on, skew-join
splitting on, Arrow for the pandas-UDF kernels, Python workers under the
engine's ``worker_daemon``, so executors must be able to import this package,
and a codegen cache that holds the engine's generated classes).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "genome_deduplication_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    ``shuffle_partitions`` defaults to the local core count — at cluster
    scale this should be set to ~2-3x total executor cores instead.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.python.daemon.module", "genome_deduplication_spark.worker_daemon")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # ObjectHashAggregate (collect_list/sort_array aggs) silently falls
        # back to SORT-based aggregation after only 128 distinct keys per
        # task (upstream default) — i.e. every real partition pays a full
        # sort, the exact operation this host's flat memory-bandwidth cap
        # punishes at high parallelism (PLANS.md round 5). Every
        # collect_list in this engine is pre-capped (rank filter or DROP
        # cap before the aggregate), so per-key state is bounded and a
        # 256k-key in-memory map is safe: typical ~50B/key, worst case
        # (every bucket at max_bucket_size) ~200MB/task against multi-GB
        # execution memory.
        .config(
            "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
            str(256 * 1024),
        )
        # Compile each generated class once per session. One mirror_crawl op
        # needs about 165 distinct classes, as does one pass of the ten
        # benchmark queries, so the default 100-entry LRU cache never hit
        # on a warm rerun. Without the stage id in class names, identical
        # code keeps its cache key when AQE re-plans stages in another
        # order. Cost: stack traces and profiles show `GeneratedIterator`
        # without its stage suffix (`explain` still shows `*(n)`).
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
