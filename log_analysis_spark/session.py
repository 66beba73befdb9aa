"""SparkSession construction with scale-appropriate defaults.

Local-mode testing stands in for a multi-executor cluster; every knob here is
chosen to also be correct at cluster scale (AQE on, Arrow on, UTC session TZ
so results are oracle-comparable, shuffle partitions sized to parallelism).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "log_analysis_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    Defaults: ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``), AQE enabled,
    Arrow enabled for pandas UDFs, UTC session timezone (required for
    DuckDB-oracle comparability — duckdb timestamps are UTC-naive).

    JVMs start with ``-XX:-DontCompileHugeMethods``.  HotSpot never
    JIT-compiles a method whose bytecode exceeds its fixed 8,000-byte
    ``HugeMethodLimit``.  In the fused scan → parse → enrich → tag stage of
    ``plans.pipeline`` the largest generated method is
    7,246 bytes after parse, which compiles, but 8,192 after the two enrich
    joins and 8,564 after the tag, so without the flag that whole stage runs
    interpreted and the broadcast joins against 4- and 7-row dims cost about
    as much CPU as the parse itself.  The flag goes in the
    ``default*JavaOptions`` keys, which Spark prepends to any caller
    ``extraJavaOptions``.  It only takes effect when this call launches the
    JVM: under ``spark-submit`` the driver JVM is already running, so pass
    ``--driver-java-options -XX:-DontCompileHugeMethods`` on the command
    line.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # match local core count, not the 200 default (wrong at both extremes)
        n = master[master.index("[") + 1 : -1] if "[" in master else "*"
        shuffle_partitions = 32 if n == "*" else max(int(n), 4)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "12g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Fan-out (partitionBy) writes: concurrent per-task writers instead of
        # the planned-write sort — measured 53s → 5s on a 2M-row routed write
        # (the sort shuffles/sorts wide text rows per task for no benefit at
        # our sink cardinality ~6).  If a write exceeds the concurrent-writer
        # cap Spark falls back to sorting the remainder, so high-cardinality
        # partition columns (per-PID splits) stay safe.
        .config("spark.sql.optimizer.plannedWrite.enabled", "false")
        .config("spark.sql.maxConcurrentOutputFileWriters", "10")
        .config("spark.driver.defaultJavaOptions", "-XX:-DontCompileHugeMethods")
        .config("spark.executor.defaultJavaOptions", "-XX:-DontCompileHugeMethods")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
