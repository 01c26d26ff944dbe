"""SparkSession factory tuned for this engine.

Local mode is the sandbox stand-in for a multi-executor cluster; the
configs below are the ones that matter at cluster scale too (AQE,
shuffle partition sizing, Arrow for the pandas-UDF extraction path).
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Driver-heap ceiling for large machines. Below 2× this, the default is
# half of the memory the host can back: ParallelGC sizes its generations
# from -Xmx, so a heap larger than RAM grows into memory the box does not
# have and the OOM killer ends the JVM. The other half is for what the
# local driver shares the box with — one Python worker per core, Arrow
# buffers, JVM off-heap.
_DRIVER_MEM_CEILING_MB = 24 * 1024
_CGROUP_MEMORY_MAX = "/sys/fs/cgroup/memory.max"


def driver_memory() -> str:
    """``spark.driver.memory`` for :func:`get_spark`.

    A non-empty ``SPARK_GRAFT_DRIVER_MEM`` is used unchanged. Otherwise
    ``24g`` on hosts with at least 48 GB, else half of host memory in
    MB — physical RAM, or the cgroup-v2 ``memory.max`` when smaller.
    """
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    host = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        with open(_CGROUP_MEMORY_MAX) as f:
            limit = f.read().strip()
    except OSError:
        limit = ""
    if limit.isdigit():  # "max" means no limit
        host = min(host, int(limit))
    half_mb = host // 2 // 2**20
    if half_mb >= _DRIVER_MEM_CEILING_MB:
        return f"{_DRIVER_MEM_CEILING_MB // 1024}g"
    return f"{half_mb}m"


def ship_package(spark: SparkSession) -> None:
    """Make ``text2mc_dataprocessor_spark`` importable inside Python
    workers regardless of the driver's cwd — the local-mode stand-in
    for ``spark-submit --py-files`` (idempotent)."""
    sc = spark.sparkContext
    if getattr(sc, "_t2m_pkg_shipped", False):
        return
    pkg_dir = os.path.join(_REPO_ROOT, "text2mc_dataprocessor_spark")
    zpath = os.path.join(tempfile.mkdtemp(prefix="t2m_pyfiles_"), "text2mc_dataprocessor_spark.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    z.write(full, os.path.relpath(full, _REPO_ROOT))
    sc.addPyFile(zpath)
    sc._t2m_pkg_shipped = True


def get_spark(
    app_name: str = "text2mc_dataprocessor_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    executors: int | None = None,
    executor_cores: int = 2,
    executor_mem_mb: int = 4096,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores=None → ``local[*]``. With ``executors`` set, uses Spark's
    ``local-cluster[E,C,M]`` master instead: E REAL executor JVM
    processes on this machine (own heap, own Python worker pool, own
    Arrow channel each) — the honest single-box emulation of a
    multi-executor cluster for N→4N scaling evidence. Shuffle
    partitions default to the total core count.

    ``spark.driver.memory`` (the local-mode heap) comes from
    :func:`driver_memory`: ``SPARK_GRAFT_DRIVER_MEM`` when set and
    non-empty, else ``24g`` capped at half of host memory (physical RAM,
    or the cgroup-v2 ``memory.max`` when smaller).
    """
    gc_threads = None
    if executors is not None:
        master = f"local-cluster[{executors},{executor_cores},{executor_mem_mb}]"
        total_cores = executors * executor_cores
        # E executor JVMs on ONE box: each defaults its ParallelGC thread
        # count to the machine's core count, so 8 executors would spawn
        # 8×32 GC threads and stall each other — size GC to the cores the
        # executor actually owns
        gc_threads = max(2, executor_cores)
    else:
        if cores is None:
            env = os.environ.get("SPARK_GRAFT_CPUS")
            cores = int(env) if env else 0
        master = f"local[{cores}]" if cores else "local[*]"
        total_cores = cores if cores else (os.cpu_count() or 8)
    if shuffle_partitions is None:
        shuffle_partitions = total_cores

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # rows carrying full page bodies make the default 10000-row Arrow
        # batches hundreds of MB per worker; 512 keeps the JVM↔Python
        # pipeline streaming (and costs little on narrow rows)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        # plan-description strings are generated synchronously on every
        # action; iterative round plans can get large — cap the walk
        .config("spark.sql.maxPlanStringLength", "65536")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # G1 collapses under the allocation pattern of many concurrent
        # Arrow-Python runners (measured 4× aggregate-throughput loss at
        # 32 workers on 35KB binary rows; ParallelGC removes it)
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config(
            "spark.executor.extraJavaOptions",
            "-XX:+UseParallelGC"
            + (f" -XX:ParallelGCThreads={gc_threads}" if gc_threads else ""),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # Workers must import this package even when the driver cwd differs
    # (production: spark-submit --py-files; local: PYTHONPATH + addPyFile).
    os.environ["PYTHONPATH"] = (
        _REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark
