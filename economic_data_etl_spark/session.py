"""SparkSession factory.

Defaults are chosen for the 100 TB design point and scale down cleanly to
local[32] testing:

- AQE on (runtime re-planning, partition coalescing, skew-join splitting).
- Broadcast threshold raised to 64 MiB: every dimension table in the star
  schema (region/nation/customer/supplier/part at reasonable SF) should hash
  to the build side without a shuffle.
- Arrow transfer on, so the few Pandas-UDF code paths are vectorized.
  The refresh's local fact and dim frames are Arrow tables
  (`sources/transforms.local_frame`) whatever this conf says.
- Session timezone pinned to UTC so timestamp semantics are stable across
  environments (parquet stores UTC instants).

Queries in plans/ never *depend* on these settings (the driver may hand us
its own session); they are the preferred defaults for standalone use.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "economic-data-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    return builder.getOrCreate()
