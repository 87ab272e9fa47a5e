"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads,
single JVM). The same configs are what we would ship as cluster defaults:
AQE on (runtime coalescing + skew-join splitting), Arrow on (all our
Python-side operators are Arrow-batched), shuffle partitions sized to the
parallelism rather than Spark's legacy 200.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Half of physical RAM, capped at 32g: on local[n] the driver heap
    is the whole engine's memory, and the OS, the Python workers and
    the page cache need the other half."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{min(32 << 10, ram_mb // 2)}m"


def get_spark(
    app_name: str = "yamr_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    At cluster scale the same knobs apply with different values:
    ``shuffle.partitions`` ≈ 2-3× total executor cores, and
    ``files.maxPartitionBytes`` sized so a scan partition fits in executor
    memory. AQE then coalesces/repartitions at runtime, so these are
    starting points, not hand-tuned constants.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    parts = str(shuffle_partitions or int(cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", parts)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
