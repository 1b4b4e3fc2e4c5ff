"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[N]``; the same configuration block is what
we would ship to a 1000-executor cluster via spark-submit --py-files:
AQE on (runtime skew-join splitting + partition coalescing), Arrow
enabled for the pandas-UDF refine stages, and shuffle partition counts
sized by the caller, not hard-coded. Python workers import the package
from its source root and run under ``pyogrio_spark._daemon``, Spark's
daemon minus the per-task re-read of unchanged zip archives. On a
``local`` master the JVM and its Python processes talk over Unix-domain
sockets in a private 0700 directory, not loopback TCP: on TCP every
Python node waited about 40 ms for its first Arrow batch (41-45 ms on a
4-core x86 host, 1-3 ms over the Unix socket). Every default can be
overridden through ``extra_conf``.
"""

from __future__ import annotations

import os
import tempfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

from pyogrio_spark.uri import process_temp_dir

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_JAVA_OPTS = "-XX:+UseParallelGC -XX:GCTimeRatio=19"

_UDS_ENABLED = "spark.python.unix.domain.socket.enabled"
_UDS_DIR = "spark.python.unix.domain.socket.dir"
_UDS_PREFIX = "pyogrio_spark_uds_"
# Spark names each socket <dir>/.<uuid4>.sock (43 bytes after the dir) and
# Linux's sun_path holds 107 bytes plus the NUL, so the dir gets 64 bytes;
# Spark 4.1 also rejects a dir of more than 61 characters (its conf check).
# A path's UTF-8 bytes are never fewer than its Java characters, so 61
# bytes meets both rules.
_MAX_UDS_DIR = min(107 - 43, 61)


def socket_conf(master: str, extra_conf: dict | None = None) -> dict:
    """The confs that put a session's JVM<->Python traffic (the workers'
    daemon, collects, accumulator updates) on Unix-domain sockets.

    Empty, so Spark keeps loopback TCP, when the master is not ``local``
    (an executor host has no driver directory), when a SparkContext is
    already running (``getOrCreate`` would ignore the confs), when
    ``extra_conf`` names either option, or when neither the system temp
    dir nor ``/tmp`` can hold a short enough, writable directory. The
    directory is a new 0700 ``mkdtemp`` removed at interpreter exit: on a
    Unix socket Spark drops its auth secret, so the file mode is the guard.
    Spark's own default, ``java.io.tmpdir``, may be too long for a socket
    path, and then the session fails to start.
    """
    if not (master == "local" or master.startswith("local[")):
        return {}
    if SparkContext._active_spark_context is not None:
        return {}
    if extra_conf and (_UDS_ENABLED in extra_conf or _UDS_DIR in extra_conf):
        return {}
    for base in dict.fromkeys((tempfile.gettempdir(), "/tmp")):
        # mkdtemp appends 8 random characters to the prefix
        if len(os.fsencode(os.path.join(base, _UDS_PREFIX))) + 8 > _MAX_UDS_DIR:
            continue
        try:
            return {_UDS_ENABLED: "true", _UDS_DIR: process_temp_dir(_UDS_PREFIX, dir=base)}
        except OSError:
            continue
    return {}


def get_spark(
    app_name: str = "pyogrio_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: one shuffle partition per core keeps every stage
        # fully parallel without tiny-partition overhead. On a real
        # cluster this is 2-3x total executor cores instead.
        try:
            shuffle_partitions = int(master.split("[")[1].rstrip("]*"))
        except (IndexError, ValueError):
            shuffle_partitions = cpus
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # 65,536 rows mirrors the reference's Arrow scan batch size
        # (/root/reference/pyogrio/_io.pyx:2138-2143 MAX_FEATURES_IN_BATCH).
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # Throughput GC for wide batch JVMs: G1's pause-time goal costs
        # 20-30% of suite wall on a 32-thread local driver (measured
        # 102.7-117.1 s -> 81.7 s for the full sf1.0 bench); batch
        # executors have no latency SLO, so the parallel collector is
        # the right default on a cluster too. GCTimeRatio=19 sets a 5%
        # GC-time goal in place of ParallelGC's 1%: once a small table
        # scans on every core, four Parquet writers allocate at 1.7x
        # the rate of one, and to meet the 1% goal the JVM grew eden
        # from 451 to 619 MB and the 20k-doc PIP join's peak RSS from
        # 877-1078 to 1278-1321 MB (+29%). With the 5% goal it read
        # 888-956 MB, for about 0.01 s more GC per op. Override via env.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", _JAVA_OPTS),
        )
        .config(
            "spark.executor.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_EXECUTOR_JAVA_OPTS", _JAVA_OPTS),
        )
        # Spark packs files into read splits of max(openCostInBytes,
        # bytes / cores) and charges each file openCostInBytes; at the
        # 4 MB default a sub-MB table is one split however many row
        # groups it has. 64 KiB lets it split per row group, and
        # io.writer.write_table sizes row groups by the same formula.
        .config("spark.sql.files.openCostInBytes", str(64 << 10))
        # Python workers import the package from its source root, so a
        # mapInPandas stage works without the caller setting PYTHONPATH
        # (Spark merges this with the workers' own PYTHONPATH). Not
        # addPyFile: zip imports slow down every Python worker start.
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        # Same assumption: the workers' daemon is pyogrio_spark._daemon,
        # Spark's daemon minus the per-task re-read of its unchanged
        # zip archives (about 0.25 s of CPU per Python task on CPython
        # 3.11). Where executors cannot import the package before their
        # first task (--py-files only), pass "pyspark.daemon" through
        # extra_conf.
        .config("spark.python.daemon.module", "pyogrio_spark._daemon")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    # Over loopback TCP a Python function waited 41-45 ms for its first
    # Arrow batch, a steady 40 ms that fits Nagle's algorithm meeting
    # delayed ACK; over a Unix socket it waits 1-3 ms. TCP_NODELAY on the
    # worker's end of the TCP socket left it at 35-47 ms. On 4 cores a
    # trivial one-node mapInPandas job went from 0.10 to 0.05 s (medians
    # of 10) and a perfbench vector_convert op (two Python nodes) from
    # 0.19-0.20 to 0.17-0.20 s (medians over 18 alternating pairs).
    for k, v in {**socket_conf(master, extra_conf), **(extra_conf or {})}.items():
        b = b.config(k, v)
    return b.getOrCreate()
