"""SparkSession factory.

Defaults follow the engine's scale posture (SURVEY.md §4): AQE on (runtime
re-plan, skew-join split, partition coalescing), Arrow on (pandas UDF path),
UTC session timezone (determinism — the reference's convert_tz pattern,
``/root/reference/Sql Scripts/FCT_RESERVATION_UPD.sql:11``, is replaced by
explicit from_utc_timestamp on UTC-normalized data).

``shuffle_partitions`` should track cluster parallelism: on a real cluster
(spark-submit --py-files) set it to 2-3x total executor cores; locally we
match the local[N] thread count. AQE coalesces down when partitions are
small, so oversizing is safe; undersizing at 100 TB is not.
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession


def _launch_conf() -> SparkConf | None:
    """The conf of the driver JVM when one is already running — e.g. the one
    spark-submit started with its ``--master`` — else None (reading a conf
    with no JVM would start one before the defaults below are set)."""
    if SparkContext._jvm is None:
        if "PYSPARK_GATEWAY_PORT" not in os.environ:
            return None
        SparkContext._ensure_initialized()  # connect to the running JVM
    return SparkConf()


def get_spark(
    app_name: str = "data_warehouse_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master=None`` keeps the master of the launch conf (spark-submit's
    ``--master``) and falls back to ``local[$SPARK_GRAFT_CPUS]`` (env) or
    ``local[*]`` only when there is none. The ``spark.driver.memory``
    default is set only when this call launches the driver JVM: a running
    JVM's heap is already fixed.

    DataFrame debugging is off (``spark.python.sql.dataFrameDebugging.
    enabled=false``): with it on, every DataFrame/Column call walks the
    Python stack and makes ~4 extra py4j round trips to record its call
    site, about half a small batch's driver round trips. The cost: an
    analysis error's DataFrame query context no longer names the Python
    line that built the failing expression. PySpark reads this setting once
    per process, at the first DataFrame call made with an active session.
    """
    launch = _launch_conf()
    if master is None:
        if launch is not None and launch.contains("spark.master"):
            master = launch.get("spark.master")
        else:
            cpus = os.environ.get("SPARK_GRAFT_CPUS")
            master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        if inner.isdigit():
            shuffle_partitions = max(int(inner), 4)
        else:
            shuffle_partitions = max(os.cpu_count() or 8, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelism-first coalescing (round 5): with parallelismFirst=
        # false, a reduce stage whose shuffle is ~cores x advisory bytes
        # coalesces to FEWER tasks than threads — measured on the LWW winner
        # reduce at local[32]: a ~300MB shuffle at 16m advisory became ~19
        # fat tasks on 32 threads, under-parallel and maximally exposed to
        # stragglers (tools/width_probe.py: that stage's 8->32 efficiency
        # 0.23 with 5x wall variance; finer tasks restored it). The same
        # trap scales: on a 1000-core cluster any GB-sized reduce would
        # coalesce to ~16 fat tasks. parallelismFirst=true keeps stage
        # width and still merges sub-minPartitionSize (1m) slivers.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # scan-split floor: the per-file open charge keeps tiny files from
        # exploding into tasks, but the 4m default also FLOORS the derived
        # split size (max(openCost, bytes/parallelism)), serializing
        # expression-heavy scans of medium inputs into a handful of tasks
        # (a 10MB table scanned by 3 tasks on 32 cores). 1m keeps the
        # tiny-file guard while letting split size track input/parallelism
        # — the scale-adaptive behavior, not a fixed width (guide §6)
        .config("spark.sql.files.openCostInBytes", "1m")
        # our tables pass explicit file lists (manifest) or single files;
        # driver-side listing of a few hundred local paths is faster than
        # scheduling a 60-task listing job per read (profiled ~0.4-1s of
        # pure scheduler time per batch at local[4])
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "512")
        # v2 commit: task output moves once, no per-job sequential rename pass
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # dynamic-partition writes keep per-partition writers open instead of
        # sorting every task's rows by partition key first (bucketed commit
        # writes 16-64 partitions/task; measured -40% write wall)
        .config("spark.sql.maxConcurrentOutputFileWriters", "64")
        # dictionary encoding buys nothing on unique-per-row url/html/text
        # payloads and costs hash-probing per value on the write hot path
        .config("spark.hadoop.parquet.enable.dictionary", "false")
        # single-host local mode: locality tiers are meaningless, and the 3s
        # default wait stalls slots whenever cached/shuffle block preferences
        # don't line up (measured: 85s → 50s on a 2-batch replay)
        .config("spark.locality.wait", "0s")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    builder = builder.master(master)
    if launch is None:
        builder = builder.config(
            "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
