"""SparkSession factory.

Local-mode testing profile for a single-JVM local[N] master; the configs
chosen here are the ones that transfer to a real multi-executor cluster
(AQE, adaptive coalescing/skew-join, Arrow for pandas UDFs). On a cluster
the same code runs via spark-submit --py-files with master/memory supplied
externally — nothing in the engine assumes local mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "dint_spark",
    cpus: int | None = None,
    driver_memory: str = "48g",
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cpus: parallelism for local[N]; defaults to $SPARK_GRAFT_CPUS or 32.
    spark.sql.shuffle.partitions is cpus (never the 200 default — at
    local scale that's pure scheduling overhead; on a cluster AQE
    coalesces); extra_conf overrides it, like any other Spark conf.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Start wide, let AQE coalesce: shuffle.partitions==cpus is right
        # for the many tiny exchanges of the query plans, but data-heavy
        # stages (multi-million-row window sorts) need more splits than
        # cores — a 2000-query scored-set sort measured 170s -> 104s at
        # local[8] with 64 initial partitions. AQE shrinks small stages
        # back, so tiny exchanges pay only planning overhead.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(8 * cpus),
        )
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Caching a pandas-UDF plan registers PROCESS_LOCAL python-worker
        # preferred locations on its partitions; every later task then waits
        # spark.locality.wait (3s) per locality level — measured +7s on EVERY
        # job after caching a block index. In single-host local mode locality
        # is meaningless → disable. (On a real cluster use a small value,
        # e.g. 100ms; never the 3s default with cached UDF outputs.)
        .config("spark.locality.wait", "0ms")
        # Repeated shuffle-heavy jobs degrade monotonically (1.8s → 16.5s
        # over 3 runs at local[32]) until a JVM GC lets ContextCleaner
        # release stale shuffle/broadcast state; with a 48g mostly-idle
        # heap that GC never comes (default periodicGC interval: 30min).
        # A forced System.gc() restored 1.3s runs — so trigger it often.
        .config("spark.cleaner.periodicGC.interval", "30s")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, str(v))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
