"""SparkSession factory tuned for this engine.

Local-mode testing defaults follow the repo guide; in cluster deployments the
same builder applies minus the local master. AQE stays on so skewed joins and
partition counts re-plan at runtime — the scale posture for 100 TB inputs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "kafka_streams_common_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # driver fixtures write TIMESTAMP(NANOS) parquet, which vanilla Spark
        # rejects (PARQUET_TYPE_ILLEGAL); read as long, normalized in catalog
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", "/tmp/kscs_warehouse")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # local[N] only: the workers share this checkout, so they import the
        # package (daemon and kernel closures) from any cwd
        .config("spark.python.daemon.module", "kafka_streams_common_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _REPO_ROOT)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
