"""SparkSession factory with scale-aware defaults.

The reference never tunes Spark (its only configs are the Kafka
connector package and log level, ``spark_processor.py:35-45``); it
inherits ``spark.sql.shuffle.partitions=200`` for a 1-key-per-window
stream. Here every config is chosen for the two regimes we run in:

  * local correctness/bench runs: ``local[N]`` with shuffle
    partitions sized to the core count so tiny SF data doesn't pay
    200-task scheduling overhead;
  * a real cluster at ~100 TB: AQE owns runtime partition sizing
    (coalescing, skew-join splitting), so the static shuffle number is
    only an upper bound for the pre-AQE plan. Callers on a cluster
    should pass ``shuffle_partitions`` ≈ 2-3× total executor cores.

Two choices depend on the master: the master URL itself, and, for a
``local`` master, the streaming checkpoint file manager (see
``get_spark``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Cores: SPARK_GRAFT_CPUS, else every CPU this process may run on (the
# count `nproc` reports, which honours the affinity mask).
DEFAULT_CPUS = int(
    os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
)


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """75 % of the box's MemTotal in whole GiB, at least 1g: the
    remaining quarter is for what lives outside the heap (the JVM's
    code cache and metaspace, the Arrow Python workers, the OS)."""
    with open(meminfo) as fh:
        kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{max(1, kib * 3 // 4 // 2**20)}g"


def get_spark(
    app_name: str = "ibd-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-sane defaults.

    Every option below is also correct on a 1000-executor cluster,
    except the master URL and the checkpoint file manager, which only
    a ``local`` master gets.
    """
    cpus = DEFAULT_CPUS
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    conf = dict(extra_conf or {})
    if master == "local" or master.startswith("local["):
        # Spark's default checkpoint manager renames every offset-log,
        # commit-log, state .delta/.crc and metadata file through
        # FileContext's rename(src, dst, Options.Rename), and on the
        # local file system that call resolves each path with a forked
        # `readlink`: 184 processes per 3-batch drain of the weather
        # stream (JFR jdk.ProcessStart), of 242 forks in all. The
        # FileSystem-based manager checks the target and then renames
        # with one rename(2), forking nothing; on a local disk the
        # FileContext path is check-then-rename too, so no guarantee is
        # lost. Cluster masters keep the default: there HDFS's atomic
        # no-overwrite rename is what Spark relies on.
        conf.setdefault(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Local mode runs every executor thread in the driver JVM, so
        # the 1 GiB default is too small; a heap larger than the box
        # gets the JVM OOM-killed. SPARK_GRAFT_DRIVER_MEM overrides.
        # Ignored if a JVM already exists.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        # Whole-stage codegen emits one class per stage; a workload
        # that plans many distinct queries (bench, test suite) fills
        # the default 240 MB JIT code cache, after which HotSpot
        # stops compiling and everything runs interpreted (~10×).
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        # AQE: runtime partition coalescing, skew-join splitting, and
        # dynamic join-strategy switching. This is the main line of
        # defense for skew at 100 TB — keep it on everywhere.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Static shuffle parallelism: AQE coalesces down from this, so
        # size it to cores locally / 2-3x cluster cores in production.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Deterministic timestamps across Spark and the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow transfer for every pandas_udf / applyInPandas /
        # toPandas path — the only acceptable Python boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batches for Python UDTFs too (default is pickled
        # row-batches — BatchEvalPythonUDTF in the plan).
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        # 128 MB parquet split targets: big enough for vectorized-read
        # efficiency, small enough that a task's working set fits in
        # executor memory at any SF.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Broadcast joins for dimension tables (region/nation/supplier
        # stay tiny at every SF; AQE also upgrades to broadcast at
        # runtime when a post-filter side shrinks under the threshold).
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # Nested-schema pruning so struct/JSON projections reach the
        # scan (the reference relies on this implicitly for its
        # 12-of-25-leaves projection, spark_processor.py:125-144).
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
