"""SparkSession factory tuned for the scale posture of this engine.

Local testing runs on ``local[N]`` but every setting is chosen to also be the
right default on a 1000-executor cluster reading ~100 TB:

- AQE on (runtime coalescing, skew-join splitting, dynamic broadcast demotion).
- Master and shuffle partitions sized from ``SPARK_GRAFT_CPUS``, else from the
  cores this process may use; on a real cluster AQE coalesces from a high
  initial number, so the static value matters little.
- Arrow enabled for the (few) pandas-UDF paths.
- ``maxPartitionBytes`` left at Spark's 128 MB default — matches the
  reference's Hadoop-default split size (SURVEY §4, PathSplitSource).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(
    app_name: str = "disq_original_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # default: the cores this process may run on (its CPU affinity), not
    # every core of the machine
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
