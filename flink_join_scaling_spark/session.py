"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[N]`` (one JVM); the config below is
chosen so the same logical plans scale to a multi-executor cluster:
AQE handles runtime re-planning (partition coalescing, skew-join
splitting), shuffle partitions default to ~cores locally (on a real
cluster you'd size this to ~2-3x total cores or let AQE coalesce), and
Arrow is enabled for the Pandas-UDF slow path.

Python workers start through ``_pyworker/graft_daemon.py``
(``spark.python.daemon.module``), not ``pyspark.daemon`` directly.
Spark puts pyspark.zip, the py4j zip and the spark-core jar first on
the workers' ``sys.path``, and every task calls
``importlib.invalidate_caches()``; on CPython 3.10-3.12 that re-reads
each archive's central directory through every cached zipimporter,
0.15-0.3 s per task before the task reads a row (measured on a 4 vCPU
host, Python 3.11, Spark 4.1.2). CPython 3.13 made the re-read lazy.
The daemon drops the archives when the interpreter has its own pyspark
of the same version and py4j; otherwise (the fallback) it leaves
``sys.path`` as Spark built it and the per-task cost stays.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_SHM = "/dev/shm"
#: spark.local.dir moves to ``_SHM`` only with at least this much free.
_SHM_MIN_FREE_BYTES = 4 << 30
#: Driver heap ceiling when ``$SPARK_GRAFT_DRIVER_MEM`` is unset.
_DRIVER_MEM_MAX_GB = 16
#: Directory of the Python-worker daemon module (no ``__init__.py``,
#: so the module loads without importing pyspark first).
_PYWORKER_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_pyworker")
_DAEMON_MODULE = "graft_daemon"


def _default_local_dir() -> str | None:
    """A RAM-backed scratch dir when ``_SHM`` is writable and has room,
    else None (Spark's default, ``/tmp``)."""
    if not os.access(_SHM, os.W_OK):
        return None
    st = os.statvfs(_SHM)
    if st.f_bavail * st.f_frsize < _SHM_MIN_FREE_BYTES:
        return None
    return os.path.join(_SHM, "fjss-spark-local")


def _default_driver_memory() -> str:
    """Half of physical RAM, at least 1g and at most
    ``_DRIVER_MEM_MAX_GB``: the local-mode driver JVM is also every
    executor, and the Python workers need the other half."""
    ram_gb = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")) >> 30
    return f"{max(1, min(_DRIVER_MEM_MAX_GB, ram_gb // 2))}g"


def _default_cpus() -> int:
    """The CPUs this process may run on (its affinity mask), which can
    be fewer than ``os.cpu_count()`` in a container or under taskset."""
    return len(os.sched_getaffinity(0))


def get_spark(
    app_name: str = "flink_join_scaling_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    max_partition_bytes: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or the CPUs this process
    may run on.
    ``max_partition_bytes`` sizes file-scan splits: leave None (Spark's
    128m) on a real cluster reading TB-scale tables; set small (e.g.
    "8m") when the inputs are tiny relative to cores, else every scan
    collapses to one task and the cluster idles (a 10 MB file at the
    default split size is a single-task scan on 32 cores).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or _default_cpus())
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 4)
    if max_partition_bytes is None:
        max_partition_bytes = os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES")
    # Shuffle/spill scratch (spark.local.dir): put it on the fastest
    # local storage available (guide §2.1/§9 — local disk bandwidth and
    # open() latency bound the shuffle). r18 jstack sampling of a
    # query loop showed executor threads spending most of their
    # non-CPU wall in java.io.FileOutputStream.open0 / file-stat
    # syscalls against the default /tmp (ext4-on-virtio here); a
    # RAM-backed dir removed that wait (measured same-session:
    # q_lm_bigram_hashed 2.11 → 1.89 s, q_dedup_minhash 3.28 → 2.45 s
    # medians). The tmpfs is RAM, so it is used only with a few GB free.
    # Scale note: on YARN/K8s the resource manager OVERRIDES
    # spark.local.dir with container-local dirs, so this default only
    # governs local/standalone mode; production standalone deployments
    # point $SPARK_GRAFT_LOCAL_DIR at their NVMe scratch instead.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR") or _default_local_dir()
    extra_conf = dict(extra_conf or {})
    # Workers find the daemon module from any cwd; a caller's worker
    # PYTHONPATH is kept after it. Workers of a local[N] session run on
    # this host, so the path is valid for them.
    worker_pythonpath = os.pathsep.join(
        p for p in (_PYWORKER_DIR, extra_conf.pop("spark.executorEnv.PYTHONPATH", None)) if p
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.noDataMicroBatches.enabled", "true")
        .config("spark.python.daemon.module", _DAEMON_MODULE)
        .config("spark.executorEnv.PYTHONPATH", worker_pythonpath)
    )
    if max_partition_bytes is not None:
        builder = builder.config(
            "spark.sql.files.maxPartitionBytes", max_partition_bytes
        )
    if local_dir is not None:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
