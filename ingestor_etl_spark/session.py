"""SparkSession factory with scale-oriented defaults.

Defaults are chosen for correctness-parity with the DuckDB oracle
(UTC session timezone, no ANSI surprises) and for 100 TB-scale
behavior (AQE on, skew-join handling, partition coalescing, Arrow
batches for the pandas-UDF decode path).

On the test rig this runs local[N]; on a real cluster the same
builder applies — only master/memory come from the environment.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import SparkSession

# Sized so a shuffle partition at sf0.1 stays well under executor
# memory; at cluster scale these are overridden per-job, but AQE
# coalescing makes the static number far less sensitive.
_DEFAULTS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.parquet.filterPushdown": "true",
    # events.parquet stores TIMESTAMP(NANOS); Spark reads it as long
    # and catalog.load_table converts to a microsecond timestamp.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


@functools.cache
def _quiet_glob_probe(gateway) -> None:
    """Before reading a glob (``<dir>/*.pcap``) Spark probes the
    literal path for a streaming-sink metadata directory and logs the
    miss as a WARN with a FileNotFoundException trace, although the
    read goes on normally. At ERROR, a real failure's trace is not
    lost among them. Once per JVM: the level outlives a stopped
    session, and a session set up again skips the py4j round trips."""
    log4j = gateway.jvm.org.apache.logging.log4j
    log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink", log4j.Level.ERROR
    )


def get_spark(app_name: str = "ingestor-etl-spark", **overrides: str) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``overrides`` win over defaults; the master is taken from the
    environment (``SPARK_GRAFT_CPUS``) in local mode and is left to
    spark-submit on a cluster.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in {**_DEFAULTS, **overrides}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _quiet_glob_probe(spark.sparkContext._gateway)
    return spark
