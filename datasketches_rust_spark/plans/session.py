"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    master: str | None = None,
    shuffle_partitions: int | None = None,
    app_name: str = "datasketches-rust-spark",
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a session with AQE, Arrow, and sane shuffle sizing.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, else all
    cores). On a real cluster, pass ``master=None`` after spark-submit has
    set the master — the builder then inherits it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else 32

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # runtime re-planning: partition coalescing + skew-join splitting —
        # the plan-level analog of the reference's mode adaptivity
        # (hll/sketch.rs:214-243 List->Set->Hll promotion)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # respect cluster parallelism when coalescing: with size-first
        # coalescing (parallelismFirst=false) the small post-LSH stages
        # (verify, CC iterations) collapse to ~64MB partitions = fewer
        # tasks than cores, flatlining their scaling from N to 4N
        # executors; per-task overhead is milliseconds, idle cores are not
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # signature kernels work on whole-file strings; keep Arrow batches
        # bounded so a batch of 200KB files stays well under executor memory
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # Spark's codegen cache holds 100 classes by default; one pipeline
        # run generates ~133 and one pass of the 12 headline queries ~272,
        # so every class was evicted before reuse and Janino recompiled it
        # on the driver each run. One pipeline run plus all 33 queries()
        # compile 572 distinct classes (unbounded cache, local[4]); 2048
        # holds that set with headroom. Static conf: must be set here.
        .config("spark.sql.codegen.cache.maxEntries", "2048")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
