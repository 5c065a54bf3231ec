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

# The directory holding ``pdf_parser_spark`` (or the zip it was loaded
# from).  Local-mode Python workers would otherwise resolve the package
# from their working directory, so a job started elsewhere would fail
# every UDF task with ModuleNotFoundError.
PACKAGE_PARENT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def _worker_pythonpath() -> str:
    """``PACKAGE_PARENT`` ahead of the driver's own PYTHONPATH entries."""
    paths = [PACKAGE_PARENT, *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    return os.pathsep.join(dict.fromkeys(p for p in paths if p))


def build_session(
    app_name: str = "pdf-parser-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or (int(cpus) if cpus.isdigit() else 32)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.executorEnv.PYTHONPATH", _worker_pythonpath())
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(DEFAULT_ARROW_BATCH))
        .config("spark.sql.execution.arrow.useLargeVarTypes", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
