"""SparkSession factory tuned for the link-graph engine.

Defaults target local[32] testing but every knob matters identically on a
real multi-executor cluster (spark-submit --py-files): AQE for runtime
re-planning/skew joins, Arrow for pandas-UDF transfer, and a shuffle
partition count sized to the parallelism level rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "spark-link-graph",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``; on a cluster the
    caller passes no master and spark-submit supplies it.
    """
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{default_parallelism()}]")
    if shuffle_partitions is None:
        shuffle_partitions = default_parallelism()

    # Shuffle/spill files on tmpfs when available: on virtio-disk sandboxes
    # the default /tmp makes per-superstep shuffles stall erratically on
    # writeback (observed 3s→56s variance for identical supersteps).
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
        os.makedirs(local_dir, exist_ok=True)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE on for one-shot analytic queries; SuperstepLoop.commit turns
        # it off for the duration of each superstep job.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Multi-executor scale-out tuning (no-ops under local[N], measured on
        # a standalone cluster at 4 executor JVMs x 4 cores, 20M-edge
        # PageRank — tools/standalone_scaling.py): delay scheduling waits up
        # to 3s for the executor holding a cached edge block while other
        # executors idle; with short superstep tasks, stealing the task and
        # reading the block remotely is strictly better (4.88s -> 3.34s
        # median superstep, +46%). Bigger fetch/write buffers cut per-block
        # fetch round-trips for the per-superstep state+message shuffles.
        .config("spark.locality.wait", "0s")
        .config("spark.reducer.maxSizeInFlight", "96m")
        .config("spark.shuffle.file.buffer", "1m")
    )
    # JVM tuning for iterative superstep jobs, each measured on a 15M-edge
    # transcript graph:
    # - 32 MB G1 regions: MB-sized shuffle/Arrow buffers stop being
    #   "humongous" allocations (7.8 s max GC pauses → ~1 s);
    # - -Xms = -Xmx + AlwaysPreTouch: heap growth was causing page-fault
    #   storms (high sys-time phases, 3 s→38 s per-superstep variance);
    #   pre-touching makes superstep times settle to a flat ~1.6 s.
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    jvm_opts = (
        f"-Xms{mem} -XX:+AlwaysPreTouch -XX:G1HeapRegionSize=32m "
        "-XX:MaxGCPauseMillis=200 -XX:+ParallelRefProcEnabled"
    )
    builder = (
        builder.config("spark.driver.memory", mem)
        .config("spark.driver.extraJavaOptions", jvm_opts)
        .config("spark.executor.extraJavaOptions", jvm_opts)
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
