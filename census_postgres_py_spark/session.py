"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set fleet-wide on a real
cluster: shuffle partitions sized to cores rather than the 200
default, UTC session timezone (required for DuckDB-oracle timestamp
parity), and Arrow enabled so any Pandas-UDF path is vectorized. AQE,
with skew-join splitting and partition coalescing, is Spark's default
and is left to it.

The driver heap is fixed when the JVM launches: ``SPARK_DRIVER_MEM``
(default 8g, enough for the dense-graph queries at sf0.1, which OOM at
Spark's 1g default).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "census_postgres_py_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # ~cores, not 200: at local scale 200 partitions is pure overhead;
        # on a real cluster this is set to 2-3x total cores.
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
