"""SparkSession factory tuned for this engine.

Local-mode defaults derive from the host: ``local[cores]`` and a driver
heap of half the physical RAM, at most 48g (``SPARK_DRIVER_MEMORY``
overrides it). The same settings are scale-sane on a real cluster: AQE on
(runtime coalesce + skew-join handling), Arrow on (pandas UDF hot paths),
UTC session timezone (oracle comparability), shuffle partitions ~cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

MAX_DRIVER_MEMORY_MB = 48 * 1024


def default_driver_memory() -> str:
    """Half the host's physical RAM, capped at 48g, as a JVM size string."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    return f"{max(1, min(MAX_DRIVER_MEMORY_MB, phys_mb // 2))}m"


def get_spark(
    app_name: str = "ctcityscraper_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        # mergeSchema off by default globally; the store opts in per read
        .config("spark.sql.parquet.mergeSchema", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
