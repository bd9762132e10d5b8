"""SparkSession factory with scale-appropriate defaults.

Local testing runs ``local[N]`` but every setting is chosen as it would be
on a 1000-executor cluster: AQE on (runtime re-planning + skew-join
mitigation), shuffle partitions sized to cores, Arrow enabled for the
pandas-UDF boundary, and broadcast threshold left to AQE.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory() -> str:
    """``SPARK_DRIVER_MEM`` if set; else half the host's physical memory
    in whole GiB (at least 1g), capped at 32g. In local mode the driver
    JVM also runs every task, so a fixed 32g outgrows smaller hosts."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return "32g"
    return f"{min(32, max(1, phys // 2**31))}g"


def get_spark(
    app_name: str = "data-ingestor-py-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores=None`` uses ``local[*]``. ``shuffle_partitions`` defaults to
    2x cores locally; on a real cluster leave it to AQE coalescing.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        ncores = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        ncores = cores
    if shuffle_partitions is None:
        shuffle_partitions = max(8, 2 * ncores)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # keep post-shuffle parallelism: default 64MB advisory coalesces a
        # CPU-bound sort/aggregate stage down to a handful of tasks
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # PySpark otherwise wraps every DataFrame/Column call to capture its
        # Python call site for error messages: ~5 py4j round trips per call,
        # 60% of a merge batch's driver round trips
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # the default 100-entry codegen cache is smaller than one merge +
        # lookup + view-refresh cycle's generated classes, so each refresh
        # evicted the merge's classes and both recompiled every cycle
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
