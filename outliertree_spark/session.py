"""SparkSession builder with the settings this engine assumes."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "outliertree_spark", master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    b = (
        SparkSession.builder.master(master).appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Disable PySpark's per-API-call origin capture (a Python stack
        # walk + a py4j round trip on EVERY DataFrame/Column call, used
        # only to decorate error messages with user line numbers).  On
        # query-build-heavy workloads this is pure driver overhead:
        # measured ~5-10% of warm plan-construction time and ~25% of a
        # cold heavy build (guide §1 "driver does no data work").
        # Re-enable per session via extra_conf when debugging.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
