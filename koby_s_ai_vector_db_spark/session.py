"""SparkSession factory with scale-oriented defaults.

Local testing runs on local[N]; the config choices below are the ones that
matter on a real cluster (AQE, skew-join handling, partial aggregation
pushdown) and are harmless locally.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "koby-spark-engine", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Master resolves from SPARK_GRAFT_CPUS (driver contract) or local[*].
    AQE is on so shuffle partition counts coalesce at runtime and skewed
    joins split automatically — both essential at 100 TB, free locally.

    DataFrame debugging is off: with it on (pyspark's default), every
    ``pyspark.sql.functions`` call and Column method walks the Python
    stack and sends its call site to the JVM, ~10 py4j round trips per
    call. pyspark reads the setting once per process, from the first
    active session, so a session the caller built itself (the external
    driver's ``entry(spark)``) keeps its own setting.
    """
    # Python workers (pandas_udf / mapInPandas) import this package by name
    # at deserialization time, resolving against the worker's PYTHONPATH —
    # not the driver's sys.path. Pin the package root into PYTHONPATH before
    # the JVM forks workers so queries run regardless of the caller's cwd
    # (on a real cluster the same is done with --py-files / spark.submit.pyFiles).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )

    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # zstd, not snappy: persisted indexes and chunk tables ~30% smaller.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Floor the scan split count at the core count: small inputs (few
        # row groups) must not cap parallelism of CPU-bound maps. At scale
        # this is a no-op (splits >> cores); maxPartitionBytes still bounds
        # the per-split size.
        .config(
            "spark.sql.files.minPartitionNum",
            str(int(cpus) if cpus else (os.cpu_count() or 8)),
        )
    )
    return builder.getOrCreate()
