"""SparkSession builders tuned for the engine.

Local mode (``local[N]``) is a single JVM with N executor threads; the same
confs are the ones we would pass to ``spark-submit`` on a real cluster
(AQE, Arrow, shuffle-partition sizing), so plans tested here carry over.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that shape the physical plans we care about. All are standard
# upstream Spark knobs (no vendor/proprietary settings).
ENGINE_CONFS: dict[str, str] = {
    # AQE: runtime coalescing, skew-join splitting, broadcast demotion.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas UDF / applyInPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    # Deterministic sessions.
    "spark.sql.session.timeZone": "UTC",
    # Keep broadcast joins for genuinely small dims only; degree/dictionary
    # tables at web scale must shuffle, AQE decides per-run.
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    "spark.ui.enabled": "false",
    # G1 regions of 16 MB, so Spark's 4 MB buffers (every broadcast piece,
    # task binaries included) are ordinary young objects. Under the default
    # region size (1 MB at a 2 GB heap, 8 MB at 24 GB) they are humongous:
    # placed from the top of the heap and freed only at the next young GC,
    # so how much of the heap a job touches depends on GC timing. Peak RSS
    # of one perfbench web_pipeline job (2 GB heap, 4 vCPU) had a middle
    # half of 0.50 GB run to run without this, 0.13 GB with it. Spark
    # prepends these to extraJavaOptions, so a caller's flags still win.
    "spark.driver.defaultJavaOptions": "-XX:G1HeapRegionSize=16m",
    "spark.executor.defaultJavaOptions": "-XX:G1HeapRegionSize=16m",
}


# The driver heap never defaults above this (the 125 GiB scaling host's
# setting).
MAX_DRIVER_MEM_MB = 24 * 1024


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def driver_heap_mb(mem_total_kb: int) -> int:
    """The default driver heap for a host with ``mem_total_kb`` of
    physical memory: half of it, capped at ``MAX_DRIVER_MEM_MB``. A
    heap larger than the host (24g on 16 GB) lets the JVM grow until
    the kernel's OOM killer ends it."""
    return min(MAX_DRIVER_MEM_MB, mem_total_kb // 2048)


def default_driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM`` if set, else ``driver_heap_mb`` of
    this host's ``MemTotal`` (the cap where there is no
    ``/proc/meminfo``)."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except OSError:
        return f"{MAX_DRIVER_MEM_MB}m"
    return f"{driver_heap_mb(kb)}m"


def get_spark(
    app_name: str = "trianglecount_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's confs.

    ``shuffle_partitions`` defaults to the core count — right for local
    mode; on a cluster you size it to ~2-3x total executor cores and let
    AQE coalesce.
    """
    cores = cores or default_parallelism()
    shuffle_partitions = shuffle_partitions or cores
    # Python workers unpickle library UDFs by importing this package; make
    # sure the repo root is importable on workers even when the launcher's
    # cwd/PYTHONPATH differ (spark-submit --py-files covers this on a real
    # cluster, this covers ad-hoc local launchers).
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + existing if existing else "")
        )
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.driver.memory", driver_memory or default_driver_memory())
    )
    for k, v in ENGINE_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
