"""SparkSession factory for the CAWD-Spark engine.

Local-mode defaults mirror the driver harness (``local[$SPARK_GRAFT_CPUS]``),
but every knob is environment-overridable so the same code runs unchanged on a
real cluster: shuffle partitions sized to cores locally (vs. the 200 default
that over-fragments local runs and under-fragments 100 TB runs), AQE on so
joins re-plan at runtime (skew splits, dynamic coalesce), Arrow on for every
pandas-UDF chunker in :mod:`columnar_aware_dedup_spark.sources`.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: the local-mode heap ceiling, in MiB.
_MAX_HEAP_MB = 16 << 10


def default_driver_memory(mem_total_bytes: int) -> str:
    """min(16g, half of physical memory), in MiB: the heap is pre-touched
    at startup, so it must leave the host room for the Python workers."""
    return f"{min(_MAX_HEAP_MB, mem_total_bytes // 2 >> 20)}m"


def get_spark(
    app_name: str = "cawd-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the process-wide SparkSession.

    Environment knobs:

    - ``SPARK_GRAFT_CPUS``: local core count (default: the cores this
      process may run on).
    - ``CAWD_SHUFFLE_PARTITIONS``: shuffle width (default = core count; on a
      real cluster set to 2-3x total executor cores).
    - ``CAWD_DRIVER_MEMORY``: local-mode heap (default
      :func:`default_driver_memory` of the host's physical memory; local
      mode is driver-only so this is the only memory knob that matters).
    """
    cpus = os.environ.get(
        "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
    )
    parts = str(
        shuffle_partitions
        or os.environ.get("CAWD_SHUFFLE_PARTITIONS")
        or cpus
    )
    mem = os.environ.get("CAWD_DRIVER_MEMORY") or default_driver_memory(
        os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", parts)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", mem)
        # Pre-touch a fixed heap: on lazily-backed VM memory, on-demand heap
        # growth page-faults against the hypervisor mid-query (measured: the
        # first heavy shuffles of a session stalling 5-10x with idle CPU).
        # Paying the fault cost once at startup removes the stalls entirely.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{mem} -XX:+AlwaysPreTouch -XX:+UseG1GC"
            " -Dderby.system.home=/tmp/cawd-derby",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # bucketed store tables (sources/store.py) live outside the repo
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("CAWD_WAREHOUSE", "/tmp/cawd-warehouse"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
