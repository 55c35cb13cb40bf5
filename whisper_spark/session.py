"""SparkSession factory with the engine's default tuning.

Defaults target the local[32] harness but are chosen to transfer to a
multi-executor cluster: AQE on (runtime shuffle re-planning + skew-join
splitting), partition coalescing on, Arrow on for the few Pandas-UDF
paths, UTC session timezone so epoch arithmetic is stable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "whisper_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[%s]" % (
        os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    if shuffle_partitions is None:
        # match local parallelism, not the 200 default (local mode has no
        # cluster to spread 200 partitions over; on a real cluster this is
        # overridden by the deployment)
        cpus = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the harness' synthetic parquet uses TIMESTAMP(NANOS), which the
        # vanilla Spark reader rejects; read them as nanosecond longs
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # every sort and hash-aggregate task takes at least one memory page,
        # an on-heap long[] (by default execution memory / cores / 16, up
        # to 64 MB: 64 MB on 4 cores with the 8g heap).  An array of half a
        # G1 region (2 MB at 8g) or more is humongous, and a store flush of
        # a few thousand rows then starts back-to-back concurrent GC cycles
        # in some processes and not in others
        .config("spark.buffer.pageSize", "1m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
