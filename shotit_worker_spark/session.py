"""SparkSession factory.

Local-mode defaults come from the host: local[os.cpu_count()] and a driver
heap of half the physical RAM. ``SPARK_GRAFT_CPUS`` and
``SPARK_GRAFT_DRIVER_MEM`` override them. At cluster scale the same configs
apply except master/memory come from the cluster manager. AQE is on so
skewed shuffles re-plan at runtime; session timezone is pinned UTC so
results hash-match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """``SPARK_GRAFT_CPUS``, else every CPU the host has."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def default_driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else half the host's physical RAM."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, phys // 2 // 2**30)}g"


def get_spark(
    app_name: str = "shotit-worker-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard configs.

    Configs chosen for the 100-TB posture:
      - AQE + partition coalescing + skew-join: runtime re-planning.
      - shuffle partitions ~= cores locally; a real cluster overrides.
      - Arrow enabled: the three pandas-UDF kernels (SURVEY §2.10) move
        columnar batches, not pickled rows.
      - UTC timezone: oracle comparability (duckdb is UTC-naive).
    """
    cpus = default_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", default_driver_memory())
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_GRAFT_NO_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
