"""SparkSession construction with scale-appropriate defaults.

Local-mode testing stands in for a multi-executor cluster; every knob here is
chosen to also be correct at cluster scale (AQE on, Arrow on, UTC session TZ
so results are oracle-comparable, shuffle partitions sized to parallelism).

Local writes.  Hadoop runs here without libhadoop, so its stock local file
system sets every mode by forking ``chmod``: each file, ``.crc`` and new
directory a write creates costs a process, and each FileContext status
lookup (the stream checkpoint's offset and commit logs) forks ``readlink``
as well: 4 processes and 6.5 ms per file create, 20 and 28 ms per
checkpoint-log create + rename, about 2,100 per 10-micro-batch stream.
``get_spark`` binds ``jvm/NioLocalFileSystem.java`` for ``file:`` paths
instead, which does those two calls with ``java.nio`` and leaves the rest,
``.crc`` checksums included, to the stock code.  It binds it only when it
launches the JVM itself on a ``local[...]`` master (the executors then run
in that JVM): ``spark.driver.extraClassPath`` gets the jar, appended to the
caller's, and ``LOCAL_FS_CONF`` the class names.  Without ``javac``, or when
the JVM already runs (``spark-submit``), the stock file system stays, with
one warning; ``submit_flags()`` gives ``spark-submit`` the same binding.
"""

from __future__ import annotations

import hashlib
import logging
import os
import re
import shutil
import subprocess
import tempfile
import zipfile
from pathlib import Path

import pyspark
from pyspark import SparkContext
from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

_JVM_SRC = Path(__file__).resolve().with_name("jvm") / "NioLocalFileSystem.java"
NIO_FS = "log_analysis_spark.NioLocalFileSystem"
# The two Hadoop settings that bind it to file: paths, as Spark confs.
LOCAL_FS_CONF = {
    "spark.hadoop.fs.file.impl": NIO_FS,
    "spark.hadoop.fs.AbstractFileSystem.file.impl": NIO_FS + "$Fs",
}
_LOCAL_MASTER = re.compile(r"local(\[.*\])?")


def _javac() -> str | None:
    return shutil.which("javac")


def _warn_stock_fs(reason: str) -> None:
    log.warning(
        "%s: local writes use Hadoop's stock file system, which forks "
        "chmod for every file and directory they create", reason,
    )


def local_fs_jar() -> str | None:
    """The jar of ``jvm/NioLocalFileSystem.java``, compiled against the
    running Spark's jars on first use and kept per source hash under
    ``jvm/build/``; None (with a warning) without ``javac`` or when the
    build fails.  The jar appears whole or not at all: concurrent builds
    each write a temp file and ``os.replace`` it."""
    javac = _javac()
    if javac is None:
        _warn_stock_fs("no javac on PATH")
        return None
    src = _JVM_SRC.read_bytes()
    key = hashlib.sha256(src + pyspark.__version__.encode()).hexdigest()[:16]
    jar = _JVM_SRC.parent / "build" / f"nio-local-fs-{key}.jar"
    if jar.exists():
        return str(jar)
    from pyspark.find_spark_home import _find_spark_home

    try:
        jar.parent.mkdir(exist_ok=True)
        with tempfile.TemporaryDirectory(dir=jar.parent) as tmp:
            subprocess.run(
                [javac, "--release", "17", "-nowarn", "-d", tmp,
                 "-cp", os.path.join(_find_spark_home(), "jars", "*"), str(_JVM_SRC)],
                check=True, capture_output=True,
            )
            part = os.path.join(tmp, "part.jar")
            with zipfile.ZipFile(part, "w") as z:
                for cls in sorted(Path(tmp).rglob("*.class")):
                    z.write(cls, cls.relative_to(tmp).as_posix())
            os.replace(part, jar)
    except (OSError, subprocess.CalledProcessError) as e:
        _warn_stock_fs(f"building {jar.name} failed ({e})")
        return None
    return str(jar)


def submit_flags() -> list[str]:
    """The ``spark-submit`` flags that give a job's JVM the local file
    system ``get_spark`` binds: ``--driver-class-path <jar>`` and the two
    ``--conf``s ([] when the jar cannot be built).  ``get_spark`` cannot
    bind it itself under ``spark-submit``: the JVM is already up.  For a
    ``local[...]`` master only: executors elsewhere lack the jar."""
    jar = local_fs_jar()
    if jar is None:
        return []
    confs = [a for k, v in LOCAL_FS_CONF.items() for a in ("--conf", f"{k}={v}")]
    return ["--driver-class-path", jar, *confs]


def _jvm_running() -> bool:
    # pyspark's own test before it launches a JVM (java_gateway.launch_gateway)
    return bool(SparkContext._gateway) or "PYSPARK_GATEWAY_PORT" in os.environ


def _local_fs_conf(master: str, class_path: str | None) -> dict[str, str]:
    """The settings that bind ``NioLocalFileSystem`` for a JVM launched on
    ``master``: its jar appended to ``class_path`` plus ``LOCAL_FS_CONF``.
    Empty unless the master is ``local[...]`` (executors then share the
    driver's class path) and this process has no JVM yet."""
    if not _LOCAL_MASTER.fullmatch(master) or _jvm_running():
        return {}
    jar = local_fs_jar()
    if jar is None:
        return {}
    cp = f"{class_path}{os.pathsep}{jar}" if class_path else jar
    return {"spark.driver.extraClassPath": cp, **LOCAL_FS_CONF}


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
    conf = dict(extra_conf or {})
    jvm_running = _jvm_running()
    conf.update(_local_fs_conf(master, conf.get("spark.driver.extraClassPath")))
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (
        jvm_running
        and _LOCAL_MASTER.fullmatch(spark.sparkContext.master)
        and spark._jsc.hadoopConfiguration().get("fs.file.impl") != NIO_FS
    ):
        _warn_stock_fs("the JVM was started without session.submit_flags()")
    return spark
