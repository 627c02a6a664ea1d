"""SparkSession factory with the engine's required configuration.

Local mode is the sandbox stand-in for a multi-executor cluster; the
configuration below is what we'd ship in spark-defaults on a real
cluster (AQE on, Arrow on, sane shuffle partitioning).

Python workers start through flatnav_spark.worker_daemon, which imports
pyspark from the interpreter's directory install instead of Spark's
``pyspark.zip`` when the versions match: a zip on the path costs every
task ~0.2 s in ``importlib.invalidate_caches()``. The directory (or zip)
this package was imported from goes on the workers' PYTHONPATH so the
daemon module can load before any ``--py-files`` ship; sessions here are
``local[...]``, so driver and workers share one filesystem and one
interpreter."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

GIB = 1 << 30
# the driver heap is at most this, and at most HEAP_SHARE of host memory:
# the rest is left to the JVM's off-heap, the Python workers and tmpfs
MAX_DRIVER_HEAP_GB = 48
HEAP_SHARE = 0.5
# the sys.path entry (directory or zip) this package was imported from
ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# pre-size the heap: the first heavy stage otherwise pays dozens of young
# GCs while G1 grows the heap from its small initial size (observed via
# -Xlog:gc during the zipf:200k merge). 16g covers the measured ~13g peak
# at bench scale. It is committed at session start, so it is only set
# when the heap it would pre-size fits at least this large.
XMS_GB = 16

_CGROUP_LIMITS = ("/sys/fs/cgroup/memory.max",
                  "/sys/fs/cgroup/memory/memory.limit_in_bytes")


def host_memory_bytes() -> int:
    """Memory this process can actually use: MemAvailable, capped by the
    cgroup limit when one is set (v2 or v1)."""
    with open("/proc/meminfo") as f:
        avail = next(int(line.split()[1]) * 1024 for line in f
                     if line.startswith("MemAvailable:"))
    for path in _CGROUP_LIMITS:
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            avail = min(avail, int(raw))
    return avail


def driver_memory_conf(host_bytes: int) -> tuple[str, str | None]:
    """(spark.driver.memory, -Xms option or None) for a host with
    ``host_bytes`` usable memory."""
    heap_gb = max(1, min(MAX_DRIVER_HEAP_GB, int(host_bytes * HEAP_SHARE) // GIB))
    return f"{heap_gb}g", (f"-Xms{XMS_GB}g" if heap_gb >= XMS_GB else None)


def get_spark(
    app_name: str = "flatnav_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 8
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cores), 8)
    extra_conf = dict(extra_conf or {})
    driver_mem = os.environ.get("FLATNAV_SPARK_DRIVER_MEM")
    java_opts = os.environ.get("FLATNAV_SPARK_DRIVER_JAVA_OPTS")
    if driver_mem is None or java_opts is None:
        auto_mem, auto_xms = driver_memory_conf(host_memory_bytes())
        driver_mem = driver_mem or auto_mem
        if java_opts is None:
            java_opts = auto_xms
    # a caller's JVM options extend ours (later flags win), never drop them
    caller_opts = extra_conf.pop("spark.driver.extraJavaOptions", None)
    java_opts = " ".join(o for o in (java_opts, caller_opts) if o) or None
    # a caller's worker PYTHONPATH keeps its entries; the engine's is added
    worker_path = [p for p in extra_conf.pop("spark.executorEnv.PYTHONPATH", "")
                   .split(os.pathsep) if p]
    if ENGINE_ROOT not in worker_path:
        worker_path.append(ENGINE_ROOT)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "32768")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_mem)
        .config("spark.python.daemon.module", "flatnav_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", os.pathsep.join(worker_path))
    )
    if java_opts is not None:
        builder = builder.config("spark.driver.extraJavaOptions", java_opts)
    builder = builder.config("spark.ui.enabled", "false")
    # shuffle/spill scratch on tmpfs when available: the sandbox's virtual
    # disk shows multi-second stalls and writer contention; on a real
    # cluster this is the usual fast local SSD setting
    local_dir = os.environ.get("FLATNAV_SPARK_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/flatnav_spark_local"
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
