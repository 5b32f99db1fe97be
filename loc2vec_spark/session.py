"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: driver heap ceiling; below it the default is half of physical RAM
MAX_DRIVER_MEM_MB = 16 * 1024


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``min(16g, MemTotal / 2)`` as a JVM size. In local mode the
    driver is also the executor, and a flat 16g heap on a 16 GB host
    lets the JVM outgrow physical memory and get OOM-killed, which
    Python only sees as a dead gateway. Without a readable
    ``meminfo`` (non-Linux hosts) the ceiling itself is returned."""
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    half_mb = int(line.split()[1]) // 2048  # kB -> MB/2
                    return f"{min(MAX_DRIVER_MEM_MB, half_mb)}m"
    except (OSError, ValueError, IndexError):
        pass
    return f"{MAX_DRIVER_MEM_MB}m"


def get_spark(master: str | None = None, app_name: str = "loc2vec_spark",
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build a SparkSession.

    Defaults follow SURVEY.md §4.3: AQE on (runtime coalesce + skew-join
    split), Arrow on (all Python crossings are vectorized), shuffle
    partitions sized to cores (not the 200 default, which over-partitions
    local runs and under-partitions clusters — on a real cluster set
    2-4x total cores via spark-submit conf).
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[*]"
    if shuffle_partitions is None:
        cores = os.cpu_count() or 8
        if master.startswith("local["):
            # local[N] or local[N,maxFailures]: cores come before the comma
            inner = master[len("local["):-1].split(",")[0]
            if inner != "*":
                cores = int(inner)
        shuffle_partitions = max(8, cores)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                or default_driver_memory())
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
