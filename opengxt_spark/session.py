"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design target and proven locally:
AQE on (runtime re-plan + skew-join splitting), Arrow for every
pandas-UDF boundary, shuffle partitions sized to the parallelism level.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: Driver heap ceiling when sized from the host (``SPARK_DRIVER_MEM`` unset).
MAX_DRIVER_MEM_MB = 48 * 1024


def default_driver_mem() -> str:
    """About half of the host's MemTotal (``/proc/meminfo``), capped at
    MAX_DRIVER_MEM_MB. Spark and the Python workers live outside the heap,
    so the other half is theirs. Hosts without /proc/meminfo get 4g."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "4g"
    return f"{max(min(kb // 2048, MAX_DRIVER_MEM_MB), 512)}m"


def get_spark(
    app_name: str = "opengxt-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` (driver convention) or the
    host's CPU count. The driver heap is ``$SPARK_DRIVER_MEM`` or
    default_driver_mem().
    On a real cluster the master/size come from spark-submit; these configs
    are safe there too (AQE, Arrow, adaptive shuffle sizing).
    """
    cores = int(cores or os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4)
    mem = os.environ.get("SPARK_DRIVER_MEM") or default_driver_mem()
    shuffle = shuffle_partitions or max(2 * cores, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Cell joins are many-to-many on bounded key groups: shuffled-hash
        # avoids sorting both sides (the sort of a 10^8-row candidate build
        # side dominates SMJ); AQE still falls back / splits skewed keys.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # Tiled (ghost-halo) joins co-partition both sides by tile and join
        # on (tile, cell): accepting subset-key co-partitioning lets the
        # join and grouping run with zero additional exchange.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.sql.requireAllClusterKeysForDistribution", "false")
        .config("spark.driver.memory", mem)
        # Heap paging policy. Default: do NOT pre-size the heap (-Xms = max
        # without pre-touch was A/B'd in round 1: the second query stalls
        # 60-100 s in kernel page-zeroing while G1 first-touches tens of GB
        # on demand). But a LAZILY grown heap just spreads the same zeroing
        # over whichever queries trigger growth — measured as intermittent
        # 30-60 s first-build spikes on the allocation-heaviest query (knn
        # collect_list buffers). SPARK_GRAFT_PRETOUCH=1 (bench sets it)
        # commits AND zeroes the whole heap at JVM startup
        # (-Xms=-Xmx -XX:+AlwaysPreTouch, parallel in JDK 17), so timed
        # queries never pay first-touch; startup cost is untimed.
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # PySpark 4.1 records the Python call site of every DataFrame API
        # call for error query contexts: about four extra py4j round trips
        # per call plus a failed IPython import. The ring joins make
        # hundreds of such calls per plan build; on 4 cores a ring-path
        # knn_join build (pending count excluded) took 1.0-2.1 s with it
        # and 0.9-1.8 s without. Cost of turning it off: error messages
        # no longer name the Python line in their DataFrame query context.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if os.environ.get("SPARK_GRAFT_PRETOUCH", "") == "1":
        builder = builder.config(
            "spark.driver.extraJavaOptions",
            f"-Xms{mem} -XX:+AlwaysPreTouch",
        )
    return builder.getOrCreate()
