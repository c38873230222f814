"""SparkSession factory with scale-appropriate defaults.

Tuned for the target execution model (many-executor cluster, 100 TB scans)
while testing on local[N]: AQE on (runtime re-plan + skew-join splitting),
Arrow on (pandas-UDF batches), shuffle partitions sized to cores locally —
at cluster scale this would be set to ~2-3× total cores or left to AQE
coalescing. Timezone pinned UTC for oracle comparison.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_UNITS = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40,
          "p": 1 << 50}


def heap_bytes(spec: str) -> int:
    """A JVM memory string ("16g", "2048m", "512k") → bytes; a bare
    number is MiB, as `spark.driver.memory` reads it."""
    s = spec.strip().lower()
    num, unit = (s[:-1], s[-1]) if s[-1:] in _UNITS else (s, "m")
    if not num.isdigit():
        raise ValueError(f"bad JVM memory size {spec!r}")
    return int(num) * _UNITS[unit]


def driver_memory(explicit: str | None, mem_total: int) -> str:
    """`spark.driver.memory` for a host of `mem_total` bytes: `explicit`
    (SPARK_DRIVER_MEM) when given, else half the host's memory capped
    at 16g. An explicit heap larger than the host raises ValueError —
    the JVM would start and die at its first large allocation."""
    if explicit:
        if heap_bytes(explicit) > mem_total:
            raise ValueError(
                f"driver heap {explicit} exceeds this host's "
                f"{mem_total >> 20} MiB of memory")
        return explicit
    return f"{min(mem_total // 2, 16 << 30) >> 20}m"


def host_memory() -> int:
    """Physical memory of this host in bytes (MemTotal on Linux)."""
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def get_spark(app: str = "search-engines-spark", cores: int | None = None,
              shuffle_partitions: int | None = None,
              master: str | None = None,
              executor_mem: str | None = None) -> SparkSession:
    """`master` overrides the default local[cores] — e.g.
    "local-cluster[2,16,16384]" for the separate-executor-JVM scaling
    measurements (each executor brings its own heap, the property a
    real N→4N cluster has and local[k] lacks). `executor_mem` sets
    spark.executor.memory — REQUIRED with local-cluster masters, whose
    executors otherwise get the 1g default no matter how much memory
    the worker declares (exit code 52 OOMs on any real build).

    Defaults come from the host: `cores` from SPARK_GRAFT_CPUS, else the
    CPUs this process may run on; the driver heap from SPARK_DRIVER_MEM,
    else `driver_memory`'s half of the host's memory."""
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS")
                         or len(os.sched_getaffinity(0)))
    driver_mem = driver_memory(os.environ.get("SPARK_DRIVER_MEM"),
                               host_memory())
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    if master and master.startswith("local-cluster") and not executor_mem:
        raise ValueError(
            "local-cluster masters require executor_mem: without "
            "spark.executor.memory each executor JVM gets the 1g default "
            "(regardless of the worker's declared memory) and OOMs with "
            "exit code 52 on any real build — fail fast instead")
    builder = SparkSession.builder.master(master or f"local[{cores}]")
    if executor_mem:
        builder = builder.config("spark.executor.memory", executor_mem)
    return (
        builder
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce by SIZE, not parallelism: interactive query shuffles
        # are KB-scale and the default parallelism-first policy keeps
        # them at `shuffle.partitions` tiny tasks — pure scheduler
        # overhead. Large (build-time) shuffles still fan out: they
        # exceed the advisory partition size.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # collect_list aggregations (postings positions) run in
        # ObjectHashAggregate, whose default 128-key fallback silently
        # degrades to SORT-based aggregation → per-task sort memory →
        # spills that invert multi-core scaling. Keys per task are
        # bounded by rows-per-partition; size the threshold so the hash
        # path is kept (measured: 3× build speedup at 32 cores).
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
                "8000000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
