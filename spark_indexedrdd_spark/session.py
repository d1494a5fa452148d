"""SparkSession builder with the configuration this engine assumes.

Scale notes (targets a 1000-executor cluster even though tests run
local[N]):

- AQE on: runtime coalescing, skew-join splitting, and dynamic join
  strategy selection replace hand-tuned partition counts at 100 TB.
- ``spark.sql.shuffle.partitions`` is only the *initial* number; AQE
  coalesces. Local default = cores; a real cluster would set
  2-3x total cores via ``extra_conf``.
- Session timezone pinned UTC so timestamp semantics match the DuckDB
  oracle and are cluster-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "spark_indexedrdd_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
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
        # Legacy testdata wrote events.ts as TIMESTAMP(NANOS); the flag
        # reads that as long (normalized in sources.tables). No-op for
        # the current timestamp[us] data.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def driver_budget_bytes() -> int:
    """Bytes all driver-resident structures together may hold: 1/8 of
    the driver JVM's ``Runtime.maxMemory()`` (about 230 MB on a 2 GB
    driver), and at most half of ``spark.driver.maxResultSize`` (Spark's
    default 1g; 0 means no limit), since such a structure is collected
    through the driver's task results. A structure above what is left
    takes its cluster path instead. 0 when no SparkContext is active."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return 0
    jvm = sc._jvm
    budget = jvm.java.lang.Runtime.getRuntime().maxMemory() // 8
    results = jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        sc.getConf().get("spark.driver.maxResultSize", "1g")
    )
    return min(budget, results // 2) if results > 0 else budget
