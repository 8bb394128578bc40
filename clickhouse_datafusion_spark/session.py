"""SparkSession construction for the engine.

Defaults are chosen for OLAP on large data (AQE on, Arrow on, UTC session
timezone so timestamp semantics line up with a UTC-naive oracle like DuckDB).
Shuffle partitions default to the local core count; on a real cluster the
caller should size it to ~2-3x total executor cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "clickhouse_datafusion_spark",
              master: str | None = None,
              shuffle_partitions: str | int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the singleton SparkSession.

    The configuration mirrors what the reference gets for free from
    DataFusion (columnar exec, incremental streaming) plus Spark-only wins:
    AQE for runtime re-planning (skew joins, dynamic coalescing), Arrow for
    any Python-side data interchange.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        # ClickHouse identifiers are case-sensitive (reference src/context.rs:49-76);
        # Spark default is case-insensitive resolution which is a superset — keep
        # default (insensitive) so ANSI SQL corpora run unchanged.
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # Python DataSource filter pushdown (the clickhouse_native connector
        # implements pushFilters; off by default in Spark 4)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # r14: Spark 4's DataFrame-debugging call-site capture wraps EVERY
        # PySpark DataFrame/Column call in a conf lookup + PySparkCurrentOrigin
        # set/clear (3 extra py4j round trips) plus a Python stack walk. On
        # plan-construction-heavy operators that is 35-45% of the driver-side
        # build time (OPTIMIZATION_r14.md lever 1a: 8-entry build total
        # 1.6-2.4 s -> 1.0-1.4 s, three interleaved process pairs). Pure
        # driver overhead on any topology; the only cost is less detailed
        # call-site info in AnalysisException messages. Static conf.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
