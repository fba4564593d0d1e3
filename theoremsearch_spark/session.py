"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what a cluster submit would set via
``spark-submit --conf`` (see jobs/build_index.py); AQE is on so skewed
shuffles re-plan at runtime, Arrow is on because every Python crossing
in this engine is a pandas/Arrow UDF (no per-row Python).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _warm_python_workers(spark: SparkSession, cores: int) -> None:
    """Pre-fork the Python worker pool at session creation.

    The FIRST pandas-UDF job of a session pays the daemon fork + one
    interpreter start (pandas/numpy import) per worker — measured 4.5 s
    cold vs 0.6 s warm for an identical trivial mapInPandas on local[32].
    A long-lived executor amortizes that over its lifetime
    (spark.python.worker.reuse is on by default); forcing it at session
    init makes every *query* pay steady-state cost instead of charging
    the whole pool spin-up to whichever operator happens to run first.
    One trivial job over `cores` partitions touches every worker slot.
    Each task imports the engine package, which installs the worker's
    lazy zip-directory invalidation (see theoremsearch_spark/__init__)
    before any serving task runs.
    Set TS_NO_WORKER_WARMUP=1 to skip (short-lived CLI helpers)."""
    if os.environ.get("TS_NO_WORKER_WARMUP"):
        return
    if getattr(spark, "_ts_workers_warm", False):
        return
    import pandas as pd  # noqa: F401 — imported in the workers below

    def _ident(batches):
        import theoremsearch_spark  # noqa: F401 — per-worker set-up

        for pdf in batches:
            yield pdf

    (
        spark.range(0, cores, numPartitions=cores)
        .mapInPandas(_ident, "id long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    spark._ts_workers_warm = True


def get_spark(
    app: str = "theoremsearch_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 12g, NOT "all the RAM": with ParallelGC a 48g heap grows a
        # ~16g young gen whose copy-collections stall all executor
        # threads on this paravirt host — the measured index phase was
        # 102s@16-cores with 48g vs 27s with 12g (3.7×), and 16 cores
        # were slower than 4 in absolute wall (allocation rate scales
        # with cores; GC pause cost scales with young-gen size). Spill
        # paths (shuffle/sort) handle the rest on disk.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "12g"))
        # ParallelGC: G1's concurrent phases futex-convoy on this
        # paravirtualized host (measured: identical shuffle+sort 3.7s vs
        # 47.9s run-to-run under G1; 4.1/3.1s stable under ParallelGC).
        # GC threads are capped at the executor's core count — the JVM
        # default (all host CPUs) makes co-located executors thrash.
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:+UseParallelGC -XX:ParallelGCThreads={cores} "
            + os.environ.get("SPARK_EXTRA_JAVA_OPTS", ""),
        )
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/tmp"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # 32MB splits (not the 128MB default): scans feeding pandas-UDF
        # stages need more, smaller partitions to keep every core fed —
        # a 1GB table at 128MB caps parallelism at 8 tasks regardless of
        # cluster size
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        # bigger Arrow batches amortize per-batch pandas/UDF overhead in
        # the vectorized block writer and extraction
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # keep the python-worker env IDENTICAL across runner types:
        # SPARK_SIMPLIFIED_TRACEBACK is set by some Arrow runners and not
        # others, which splits the worker pool per env-key and cold-starts
        # a second daemon + N workers mid-job (measured: an 18s 16-core
        # kernel storm of parallel pandas imports)
        .config("spark.sql.execution.pyspark.udf.simplifiedTraceback.enabled", "false")
        # multi-path reads (probed ANN cell dirs, pruned doc files,
        # per-generation roots) list a few hundred local directories;
        # above this threshold Spark launches a distributed LISTING JOB
        # whose fixed job cost (~0.4 s measured at 170 dirs) dwarfs the
        # listing itself on a local filesystem. Driver-side listing is
        # the right default here; on a cluster against object storage
        # with 10^4+ dirs per read, lower it via env to re-enable the
        # distributed listing (guide §6: listing is driver-side work —
        # parallelize it only when it is actually the bottleneck).
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            os.environ.get("TS_PAR_LISTING_THRESHOLD", "10000"),
        )
        .getOrCreate()
    )
    _warm_python_workers(spark, cores)
    return spark
