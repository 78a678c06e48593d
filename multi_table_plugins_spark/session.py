"""SparkSession factory with scale-appropriate defaults.

Every knob is the one you would set on a 1000-executor cluster: AQE on
(runtime re-plan + skew-join splitting), shuffle partitions sized to
cores, Arrow enabled for the pandas-UDF boundary, and a 64 MiB broadcast
threshold so Catalyst broadcasts dimension tables and per-batch key sets
on its own (on a cluster, size it to executor memory). A JVM this
factory launches also gets the driver JIT policy (:data:`JIT_POLICY`).
"""

from __future__ import annotations

import logging
import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

#: Hadoop's local filesystem, bound so that setPermission sets mode bits
#: in-process (java.nio) instead of forking ``chmod`` for every file,
#: checksum file and directory Spark writes when libhadoop is absent.
#: Source and build script: jvm/src, jvm/build.sh.
LOCALFS_JAR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jvm", "mtp-localfs.jar"
)
LOCALFS_CONF = {
    "spark.hadoop.fs.file.impl": "mtp.localfs.NioLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": "mtp.localfs.NioLocalFs",
}

#: Driver JIT policy: HotSpot's tier-4 (C2) promotion thresholds raised
#: about 10x over the defaults (5000 / 600 / 15000 / 40000). A micro-batch
#: re-runs the driver's analysis, planning and commit code a few hundred
#: times and then moves on, so at the default thresholds the JIT spends
#: most of a short batch's CPU recompiling that lukewarm code at C2; hot
#: loops (the scan, shuffle and parquet write) still reach C2. No
#: ``TieredStopAtLevel``: stopping at C1 roughly doubled the CPU per event
#: of a bulk replay. README "Driver JIT policy" has the A/B.
JIT_POLICY = (
    "-XX:Tier4InvocationThreshold=50000",
    "-XX:Tier4MinInvocationThreshold=20000",
    "-XX:Tier4CompileThreshold=60000",
    "-XX:Tier4BackEdgeThreshold=400000",
)


def _jvm_running() -> bool:
    """Whether the driver JVM already runs (spark-submit, or an earlier
    session), so that launch-time conf can no longer reach it."""
    return SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ


def _local_fs_conf(conf: dict) -> dict:
    """Conf that binds the in-process-permissions local filesystem.

    A JVM this call launches gets the jar on its driver classpath (after
    any caller entries). Into a JVM that is already running (spark-submit,
    or an earlier session) the binding goes only if its class loads there;
    otherwise Hadoop's default stays and one warning says how to add it."""
    if not _jvm_running():
        if os.path.isfile(LOCALFS_JAR):
            cp = conf.get("spark.driver.extraClassPath")
            return {
                "spark.driver.extraClassPath": os.pathsep.join(
                    p for p in (cp, LOCALFS_JAR) if p
                ),
                **LOCALFS_CONF,
            }
    else:
        SparkContext._ensure_initialized()
        jvm = SparkContext._jvm
        hconf = jvm.org.apache.hadoop.conf.Configuration()
        cls = LOCALFS_CONF["spark.hadoop.fs.file.impl"]
        if hconf.getClassByNameOrNull(cls) is not None:
            if SparkContext._active_spark_context is None:
                # spark-submit caches a default file: FileSystem while it
                # resolves --py-files; closing it drops it from Hadoop's
                # cache, so the new context's conf picks the class
                fs = jvm.org.apache.hadoop.fs.FileSystem.get(
                    jvm.java.net.URI("file:///"), hconf
                )
                if fs.getClass().getName() != cls:
                    fs.close()
            return dict(LOCALFS_CONF)
    _log.warning(
        "mtp-localfs.jar is not on the driver classpath: Hadoop's default "
        "local filesystem forks chmod for every file Spark writes. Pass "
        "--driver-class-path <checkout>/multi_table_plugins_spark/jvm/"
        "mtp-localfs.jar to spark-submit."
    )
    return {}


def _jit_conf() -> dict:
    """Conf that starts a JVM this call launches with :data:`JIT_POLICY`.

    The flags go in ``spark.driver.defaultJavaOptions``, which Spark's
    launcher puts ahead of ``spark.driver.extraJavaOptions``; HotSpot takes
    the last occurrence of a flag, so a caller's own value wins. A JVM that
    already runs keeps the flags it was started with; one warning says how
    to pass them if its launch arguments lack any of the policy's flags."""
    if not _jvm_running():
        return {"spark.driver.defaultJavaOptions": " ".join(JIT_POLICY)}
    SparkContext._ensure_initialized()
    mgmt = SparkContext._jvm.java.lang.management
    args = mgmt.ManagementFactory.getRuntimeMXBean().getInputArguments()
    if not {a.split("=")[0] for a in args} >= {f.split("=")[0] for f in JIT_POLICY}:
        _log.warning(
            "the driver JVM runs without the micro-batch JIT policy flags: "
            "it recompiles per-batch code at C2 for most of a short batch's "
            "CPU. Pass --driver-java-options '%s' to spark-submit.",
            " ".join(JIT_POLICY),
        )
    return {}


def local_fs_class(spark: SparkSession) -> str:
    """Class name of the Hadoop FileSystem that serves ``file:`` paths."""
    jvm = spark.sparkContext._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark.sparkContext._jsc.hadoopConfiguration()
    )
    return fs.getClass().getName()


def get_spark(
    app_name: str = "multi-table-plugins-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    if shuffle_partitions is None:
        # 4x cores: fine enough that hash imbalance over write combos
        # (table x bucket) doesn't leave straggler tasks; AQE coalesces
        # small partitions back together where it matters
        shuffle_partitions = max(4 * cores, 16)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # INT64 µs timestamps (not legacy INT96): INT96 columns carry NO
        # parquet min/max statistics, which silently disables manifest
        # file skipping for timestamp keys — and µs INT64 is what every
        # modern reader (Iceberg, DuckDB, pyarrow) expects
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # dynamic-partition writes: concurrent per-partition writers instead
        # of a per-task sort — the sort dominates when rows carry arrays
        .config("spark.sql.maxConcurrentOutputFileWriters", "640")
        # dimension tables / per-batch key sets broadcast freely
        # (cluster guidance: size to executor memory)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    conf = {**_jit_conf(), **(extra_conf or {})}
    conf.update(_local_fs_conf(conf))
    for k, v in conf.items():
        b = b.config(k, v)
    return b.getOrCreate()
