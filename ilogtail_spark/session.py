"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set on a real cluster:
AQE on (runtime skew-join + partition coalescing), UTC session TZ
(oracle parity with DuckDB), Arrow enabled for the pandas-UDF path,
shuffle partitions sized to cores rather than the 200 default.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.sql import SparkSession

# The JVM side of the engine (sources and build script in ``jvm/``):
# Hadoop's local filesystem, setting permissions without a forked
# ``chmod`` per written file, for ``FileSystem`` and ``FileContext``
# callers, and the SLS LogGroup codec (``operators/pb.py``)
JVM_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "ilogtail-jvm.jar")
LOCAL_FS_CLASS = "ilogtail.spark.fs.NioLocalFileSystem"
LOCAL_FS_CONTEXT_CLASS = "ilogtail.spark.fs.NioLocalFs"


def default_driver_memory(
    meminfo: str = "/proc/meminfo", cgroup_max: str = "/sys/fs/cgroup/memory.max"
) -> str:
    """Half the memory this process may use, rounded down to whole GiB,
    at least ``1g`` (Spark's own default, also used when ``meminfo``
    cannot be read). That memory is the host's ``MemTotal``, or the
    cgroup v2 limit in ``cgroup_max`` when that holds a smaller number:
    an explicit ``-Xmx`` overrides the JVM's own container-aware sizing.
    A local-mode driver is the whole engine, but the OS, the page cache
    the parquet scans go through and the Python driver need the other
    half."""
    try:
        with open(meminfo) as fh:
            total = 1024 * next(
                (int(line.split()[1]) for line in fh if line.startswith("MemTotal:")), 0
            )
    except OSError:
        total = 0
    try:
        with open(cgroup_max) as fh:
            limit = fh.read().strip()
        if limit.isdigit():  # "max" means no limit
            total = min(total, int(limit))
    except OSError:
        pass
    return f"{max(1, total // (2 << 30))}g"


def get_spark(
    app_name: str = "ilogtail_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores=None → local[*]. shuffle_partitions defaults to max(cores, 8)
    — on a real cluster this would be ~2-3× total executor cores. The
    driver heap is ``SPARK_DRIVER_MEM`` when set, else
    ``default_driver_memory()``.

    ``spark.python.sql.dataFrameDebugging.enabled`` is off. When on,
    PySpark wraps every ``functions.*`` and ``Column`` call in a
    call-site capture: a conf round trip, a JVM origin set and clear,
    and a walk of the Python stack. That made building a plan cost two
    to three times the Py4J round trips (about 2 000 instead of 650 per
    q96 timestamp format) and only adds the Python call site to
    analysis-error messages. While debugging, pass
    ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled":
    "true"}``; PySpark reads the setting once per process, at the first
    wrapped call after a session exists.

    ``JVM_JAR`` is on the driver's classpath and ``file://`` paths go
    through ``LOCAL_FS_CLASS`` (see ``_use_jvm_jar``).
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(env) if env else 0
    master = f"local[{cores}]" if cores else "local[*]"
    ncores = cores if cores else (os.cpu_count() or 8)
    if shuffle_partitions is None:
        shuffle_partitions = max(ncores, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # throughput collector: on this substrate G1 loses ~25% at
        # high thread counts on the string-allocation-heavy stages
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GC_OPTS", "-XX:+UseParallelGC"),
        )
    )
    conf = dict(extra_conf or {})
    _use_jvm_jar(conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _use_jvm_jar(conf: dict[str, str]) -> None:
    """Point ``spark.hadoop.fs.file.impl`` in ``conf`` at
    ``LOCAL_FS_CLASS``, and ``spark.hadoop.fs.AbstractFileSystem.file.impl``
    at ``LOCAL_FS_CONTEXT_CLASS``, when the session about to start can
    load them.

    A JVM's classpath is fixed when it starts. When the session will
    launch the JVM, ``JVM_JAR`` is appended to
    ``spark.driver.extraClassPath`` (after a classpath the caller
    passed). A new session in a JVM that is already running uses the
    class only when that JVM can load it. An active SparkContext is
    returned as it is, and under ``spark-submit`` the launcher owns the
    classpath (``submit.sh`` passes these settings itself): both keep
    the filesystem they have. Without the jar the pb codec operators
    raise an error that names it.
    """
    if SparkContext._active_spark_context is not None:
        return
    if SparkContext._jvm is None:
        if "PYSPARK_GATEWAY_PORT" in os.environ:
            return
        classpath = conf.get("spark.driver.extraClassPath")
        conf["spark.driver.extraClassPath"] = (
            f"{classpath}{os.pathsep}{JVM_JAR}" if classpath else JVM_JAR
        )
    else:
        try:
            SparkContext._jvm.java.lang.Class.forName(LOCAL_FS_CLASS)
        except Py4JError:
            return
    conf["spark.hadoop.fs.file.impl"] = LOCAL_FS_CLASS
    conf["spark.hadoop.fs.AbstractFileSystem.file.impl"] = LOCAL_FS_CONTEXT_CLASS
