"""SparkSession construction.

One place to configure the session so tests, bench.py and the driver
entry point all agree. Defaults target local[N] smoke/bench runs but
every knob is cluster-safe: AQE on (runtime re-plan, skew-join,
partition coalescing), UTC session timezone (oracle comparability),
Arrow enabled (fast Pandas-UDF path).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "couchwarehouse_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    ``master``/``shuffle_partitions`` default from the environment
    (SPARK_GRAFT_CPUS) so the same code runs under the driver harness,
    pytest, and a real cluster (where ``master`` is left to
    spark-submit and this just applies SQL conf).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Spill sizing: 128 MB input splits keep a partition's
        # decompressed working set well inside executor memory even at
        # high SF; AQE coalescing (above) merges the small ones back.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # events.parquet stores TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as long and convert in the catalog.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Warehouse reads pass each manifest file as a root path. Above
        # this many paths (default 32) Spark lists them with a Spark
        # job, one task per file, on every read, although the manifest
        # already is the listing: keep the listing on the driver.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(1 << 16))
        .config("spark.ui.enabled", "false")
    )
    # NB: spark.driver.memory cannot be set here — by the time
    # builder.getOrCreate() runs, the JVM gateway is already launched
    # with its default heap. Heap must come from the launcher:
    # SPARK_DRIVER_MEMORY / PYSPARK_SUBMIT_ARGS / spark-submit.
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
