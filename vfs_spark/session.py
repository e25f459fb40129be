"""SparkSession factory with scale-oriented defaults.

Tested on local[32]; the config choices are the ones that matter on a
real multi-executor cluster:

- AQE on (runtime coalesce + skew-join splitting) so shuffle
  partition counts self-tune as data volume grows 1000x.
- ``spark.sql.shuffle.partitions`` defaults to the local core count;
  on a cluster you'd size this at ~2-3x total executor cores (AQE
  coalesces the excess).
- Arrow enabled for every pandas-UDF boundary.
- ``files.maxPartitionBytes`` 128 MiB — scan parallelism scales with
  input bytes, independent of file count.
- Broadcast threshold 64 MiB: every dim table in the star schema
  (region/nation/customer/supplier/part at per-executor scale)
  broadcast-joins instead of shuffling the fact table.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "vfs_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Split even small inputs across all cores: scan parallelism is
        # otherwise bytes-driven, so a compute-heavy op (shingling,
        # UDF hashing) over a few-MB file runs on ONE core. maxSplitBytes
        # = max(openCostInBytes, totalBytes/minPartitionNum), so the
        # 4 MiB default open cost must drop too or small files never
        # split. At real scale inputs exceed this floor and both
        # settings are inert.
        .config("spark.sql.files.minPartitionNum", str(cpus))
        .config("spark.sql.files.openCostInBytes", str(64 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # PySpark's call-site capture wraps every Column and DataFrame
        # method in a Python stack walk plus getActiveSession, conf.get
        # and origin set/clear gateway round trips (one F.col costs 13
        # py4j commands), which made plan building slower than the
        # jobs it feeds. Off, an error keeps its class and message and
        # loses only the Python call-site line of its query context.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("VFS_DRIVER_MEMORY", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
