"""SparkSession factory tuned for this engine.

Local-mode settings mirror what a 1000-executor cluster deployment would
set cluster-wide: AQE on (runtime re-plan + skew-join splitting),
Arrow enabled (all our Python UDFs are Arrow-batched), UTC session time,
shuffle partitions sized to the parallelism level rather than the 200
default.

Python workers fork from `osm_notes_ingestion_spark.daemon`, Spark's own
daemon with one patch: the import-cache flush that starts every Python
task re-reads a zip on the worker path only when the zip changed.
Without it each task re-parses pyspark.zip, py4j and the spark-core jar
(0.12–0.24 s per task on 4 local cores), more than a small batch's UDF
body. The runner's own spark-submit session keeps Spark's daemon: there
the package may reach executors only through `--py-files`, after the
daemon has started.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    parallelism: int | None = None,
    app_name: str = "osm_notes_ingestion_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    parallelism=None → local[*]. Shuffle partitions track parallelism so
    local benches don't drown in tiny tasks; on a real cluster this is
    replaced by AQE coalescing from an intentionally-high initial value.
    """
    cpus = parallelism or os.cpu_count() or 8
    builder = (
        SparkSession.builder.master(f"local[{parallelism or '*'}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.daemon.module", "osm_notes_ingestion_spark.daemon")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
