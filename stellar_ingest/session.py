"""SparkSession construction with scale-aware defaults.

Local mode is the sandbox stand-in for a multi-executor cluster
(driver instruction; see BASELINE.md scaling row).  Shuffle-partition
count scales with parallelism: 8x cores locally, and on a real cluster
you would size it to ~2-3x total executor cores (or simply leave AQE
coalescing on, as we do).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "stellar-ingest",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``cores=None`` → ``local[*]``.  AQE stays ON (runtime coalescing +
    skew-join splitting); our own salting handles window skew that AQE
    cannot (SURVEY.md §4).
    """
    cores_env = os.environ.get("SPARK_GRAFT_CPUS")
    if cores is None and cores_env:
        cores = int(cores_env)
    master = f"local[{cores}]" if cores else "local[*]"
    if shuffle_partitions is None:
        n = cores if cores else (os.cpu_count() or 8)
        shuffle_partitions = max(32, 8 * n)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # ledger segments are many small files; default 128m split +
        # 4m open-cost bin-packs them into too few read tasks to use
        # the cluster — size splits for parallelism (at 100 TB with
        # 256 MB files, raise maxPartitionBytes back via extra_conf)
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.files.openCostInBytes", "1m")
        # parquet writers buffer a full row group PER TASK; the default
        # 128 MB x 32 concurrent writers GC-thrashes any sane heap
        # (measured: 171s GC in one write stage).  Our data files are
        # 10-30 MB, so a 32 MB row group costs nothing and caps write
        # memory at ~1 GB for 32 threads.
        .config("spark.hadoop.parquet.block.size", str(32 * 1024 * 1024))
        # above this many input paths Spark launches a PARALLEL listing
        # JOB whose fixed overhead dwarfs stat-ing local files (measured:
        # 646 ms -> 101 ms to plan a 416-segment ledger read).  Local
        # filesystems stat in ~µs, so serial listing wins far past the
        # 32-path default.  On an object store listing latency is
        # network-bound and the parallel job is the right call: pass a
        # low value back through ``extra_conf``.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # DataFrame debugging capture wraps EVERY PySpark API call: an
        # active-session lookup, a conf read, an origin set + clear over
        # py4j and a Python stack walk.  It cost round trips on every
        # call: 680 of the 1,091 py4j round trips a warm merge-on-read
        # epoch made while building its plan (4 cores, 30-conversation
        # table, tests/test_epoch_plan.py).  When debugging an analysis
        # error, turn it back on through extra_conf to get call sites
        # in error messages.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("STELLAR_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
