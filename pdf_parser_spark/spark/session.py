"""SparkSession construction with the configs this engine needs.

Tuned for MB-scale binary rows moving over Arrow to Python workers:
small Arrow batches (documents are the parallel unit; a 10k-row
default batch of multi-MB PDFs would OOM the worker), AQE on for
runtime coalescing, and shuffle partitions sized for the local
testbed (cluster deployments override via spark-submit --conf).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_ARROW_BATCH = 64  # rows per Arrow batch — docs are MBs, keep small


def build_session(
    app_name: str = "pdf-parser-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch: int = DEFAULT_ARROW_BATCH,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(cpus) if str(cpus).isdigit() else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        .config("spark.sql.execution.arrow.useLargeVarTypes", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
