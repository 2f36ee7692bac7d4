"""SparkSession factory for the local test and bench harness.

The settings mirror what a 1000-executor cluster deployment would set
per-executor (AQE on, shuffle partitions ~ cores, Arrow for the Pandas-UDF
path, UTC timestamps for engine-portable semantics).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _host_cpus() -> int:
    """CPUs this process may run on (its affinity mask, not the whole
    machine's count)."""
    return len(os.sched_getaffinity(0))


def _host_driver_memory() -> str:
    """Half of physical RAM, capped at 24g: the driver JVM shares the
    host with the Python workers and the OS page cache."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(24, total // 2**31))}g"


def get_spark(
    app_name: str = "vectorsearch-applications-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    All operators in this package work against *any* session (the driver
    harness passes its own); this factory is for tests and bench runs.
    CPUs default to the process's CPU affinity and driver memory to half
    of physical RAM (at most 24g); ``SPARK_GRAFT_CPUS`` and
    ``SPARK_DRIVER_MEMORY`` override them.

    Two codegen confs make a warm pass compile nothing:

    - ``spark.sql.codegen.cache.maxEntries`` = 1000. Spark's cache of
      compiled classes is a 100-entry LRU, and one warm ``batch_eval``
      pass uses more than 100 classes, so a cyclic reuse pattern evicted
      every class before its next use: each warm pass recompiled 132-141
      classes and each interactive H K H V R A pattern 139-163, on the
      cores the tasks use. With both confs the second and later warm
      passes, and every interactive pattern after the first, compile 0.
      Both perfbench workloads together, set-up included, compile 249
      distinct classes in one JVM, so 1000 leaves about 4x headroom.
    - ``spark.sql.codegen.useIdInClassName`` = false. Whole-stage
      classes no longer embed the per-plan stage id in their name, so
      identical code from different plans or stage positions shares one
      cached class.

    ``maxEntries`` is a static conf: it only takes effect when the JVM's
    first session is built. A caller who brings their own session must
    set it on that session's builder. The parity gates (``preflight.py``
    and ``__spark_entry__.py``) run on a vanilla session, so neither conf
    affects them.
    """
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(_host_cpus())
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else _host_cpus()
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
            os.environ.get("SPARK_DRIVER_MEMORY") or _host_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
