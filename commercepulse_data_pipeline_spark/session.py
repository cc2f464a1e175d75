"""SparkSession construction tuned for the engine.

The reference is single-threaded pandas with a hard RAM ceiling
(reference README.md:119 "~10M rows (memory-bound)"). Our engine targets a
multi-executor cluster; these configs encode the scale posture:

- AQE on (runtime join-strategy switch, skew-join splitting, partition
  coalescing) so plans survive skewed keys and bad stats at 100 TB.
- Arrow on for any Pandas-UDF extension point.
- ``shuffle.partitions`` sized for local testing; on a real cluster AQE's
  coalescing makes the initial number mostly irrelevant.

NOTE: queries in ``__spark_entry__`` must also run under a driver-owned
session whose configs we don't control, so nothing in the engine may
*depend* on these settings (e.g. we always use ``try_to_timestamp`` rather
than assuming ``spark.sql.ansi.enabled=false``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "commercepulse-spark",
    master: str | None = None,
    shuffle_partitions: int = 32,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-appropriate defaults."""
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{DEFAULT_CPUS}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode: keep the UI off and the driver light
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
