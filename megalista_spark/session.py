"""SparkSession bootstrap tuned for both local testing and cluster scale.

The defaults here are chosen for the 100 TB design point:
- AQE on (runtime coalescing, skew-join splitting, dynamic join strategy)
- shuffle partitions sized to cores locally; on a real cluster AQE
  coalesces from a high initial number, so we set the *initial* number
  high and let AQE shrink it.
- Arrow enabled for the (rare) pandas-UDF paths.
- session timezone pinned to UTC so results are reproducible and
  comparable with external oracles (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return os.cpu_count() or 4


def get_spark(
    app_name: str = "megalista_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    On a real cluster, pass ``master=None`` and submit via spark-submit;
    locally this defaults to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = _cpus()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local: ~cores. AQE coalesces down when partitions are tiny.
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # SQL-side Python (the sink's mapInArrow upload, mapInPandas
        # kernels) runs in the same worker pool as RDD Python: Spark keys
        # its Python workers by environment, and simplified tracebacks add
        # a variable that starts a second daemon with its own workers
        .config("spark.sql.execution.pyspark.udf.simplifiedTraceback.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # split small single-file inputs across cores (a lone parquet file
        # would otherwise scan in ~1 task locally); harmless on clusters
        # where inputs arrive multi-split anyway
        .config("spark.sql.files.minPartitionNum", str(cpus))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # read INT64 TIMESTAMP(NANOS) parquet columns as long (Spark has no
        # nanosecond timestamp); loaders convert to micros explicitly
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # read no-tz parquet TIMESTAMP(MICROS) as TimestampType (micros
        # since epoch, rendered in the UTC session zone) rather than
        # TIMESTAMP_NTZ, so timestamp arithmetic (unix_micros, watermarks)
        # and oracle renderings behave identically for both encodings
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
