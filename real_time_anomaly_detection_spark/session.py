"""SparkSession factory with scale-aware defaults.

Local-mode testing stands in for a multi-executor cluster; every conf here is
one that transfers: AQE (runtime re-plan + skew-join splitting), shuffle
partition sizing, Arrow for the pandas-UDF path, UTC session timezone (oracle
comparability), and parquet pushdown left at defaults (on).

One conf is driver-side only: `spark.python.sql.dataFrameDebugging.enabled`
is off. PySpark 4 otherwise wraps every `functions.*` call in call-site
capture (an active-session lookup, a conf read, a JVM origin set and clear,
and a Python stack walk), which is most of the py4j traffic of building a
validation plan. Plan building is a per-call driver cost, independent of
table size, so it is paid in full on every small incremental run. What is
lost is only the Python call site appended to analysis-error messages.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "rtad-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    if shuffle_partitions is None:
        # local mode: ~cores, not the 200 default (over-parallelized for local,
        # and the engine repartitions explicitly for its wide stages anyway).
        shuffle_partitions = max(cores, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        # split files small enough that payload-heavy stages (binary audio
        # columns through mapInPandas) produce >= cores tasks; with the 128 MB
        # default a few-GB table yields fewer tasks than cores and the UDF
        # stage under-parallelizes (measured: 11/32 cores busy)
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # no per-call call-site capture in plan building (module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
