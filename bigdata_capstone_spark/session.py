"""SparkSession construction tuned for this engine.

The reference relied on ``SparkSession.builder.getOrCreate()`` with cluster
flags in a spark-submit comment (customer_segmentation_1.py:6). We centralize
session config so local test runs and cluster submits share one code path.

At 100 TB scale the interesting knobs are shuffle partitioning, AQE (runtime
coalescing + skew-join splitting), and Arrow for any pandas boundary; locally
we additionally cap shuffle partitions at the core count so tiny test runs
are not over-parallelized.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Default local driver heap: this share of the memory the host (or the
# enclosing cgroup) grants, never more than DRIVER_MEM_CAP_MB. The heap
# grows lazily, so a fixed 48g default looks harmless until a long run
# pushes the JVM past physical RAM and the kernel kills it.
DRIVER_MEM_FRACTION = 0.6
DRIVER_MEM_CAP_MB = 48 * 1024


def host_memory_bytes() -> int | None:
    """Memory this process may use: the smaller of physical RAM
    (``MemTotal``) and the cgroup limit (v2 ``memory.max`` or v1
    ``memory.limit_in_bytes``). None when neither is readable."""
    limits = []
    try:
        limits.append(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"))
    except (AttributeError, OSError, ValueError):
        pass
    for path in (
        "/sys/fs/cgroup/memory.max",
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",
    ):
        try:
            with open(path) as f:
                v = f.read().strip()
        except OSError:
            continue
        if v.isdigit():  # v2 writes "max" when unlimited
            limits.append(int(v))
    return min(limits) if limits else None


def default_driver_memory(host_bytes: int | None = None) -> str:
    """``spark.driver.memory`` default: DRIVER_MEM_FRACTION of
    ``host_bytes`` (default: :func:`host_memory_bytes`), capped at
    DRIVER_MEM_CAP_MB; the cap itself when host memory is unknown."""
    if host_bytes is None:
        host_bytes = host_memory_bytes()
    if host_bytes is None:
        return f"{DRIVER_MEM_CAP_MB}m"
    mb = int(host_bytes * DRIVER_MEM_FRACTION) >> 20
    return f"{min(mb, DRIVER_MEM_CAP_MB)}m"


def build_session(
    app_name: str = "bigdata_capstone_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Local default: ``local[$SPARK_GRAFT_CPUS]`` (falls back to ``local[*]``)
    with shuffle partitions = core count. On a real cluster, pass
    ``master=None`` with a pre-configured environment and only the SQL-level
    configs below apply.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # dimension tables at test scale are single-digit MB; the default
        # 10 MB threshold leaves some star-join dims on the shuffle path
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # runtime bloom-filter pushdown: a selective build side of a
        # shuffle join prunes the probe side's SCAN — at 100 TB this is
        # the difference between scanning a week and scanning a year of a
        # fact table when the filtered dimension implies the subset
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # local mode: the driver JVM hosts all executor threads — size it
        # from the host, not like a cluster driver (8g for 32 threads
        # thrashes GC under shuffle-heavy self-joins, 48g on a 15 GB host
        # is OOM-killed); SPARK_DRIVER_MEM overrides for a deployment
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        # ContextCleaner runs off GC; a big mostly-idle heap can defer GC
        # for many minutes, piling up dead shuffle/broadcast state that
        # slows later queries in long sessions. Default is 30min.
        .config("spark.cleaner.periodicGC.interval", "1min")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_utc(spark: SparkSession) -> SparkSession:
    """Pin the session time zone to UTC (runtime-settable).

    Timestamp field extraction (hour/date_trunc) is session-TZ dependent in
    Spark but UTC-naive in DuckDB; every query that touches timestamps calls
    this so oracle comparisons are TZ-stable regardless of who built the
    session.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark
