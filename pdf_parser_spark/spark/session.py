"""SparkSession construction with the configs this engine needs.

Tuned for MB-scale binary rows moving over Arrow to Python workers:
small Arrow batches (documents are the parallel unit; a 10k-row
default batch of multi-MB PDFs would OOM the worker), AQE on for
runtime coalescing, and shuffle partitions sized for the local
testbed (cluster deployments override via spark-submit --conf).

Python workers fork from :mod:`pdf_parser_spark.spark.daemon` rather
than ``pyspark.daemon``.  Every task otherwise re-reads the central
directory of pyspark.zip and the py4j zip once per cached zip importer
(CPython 3.11's ``importlib.invalidate_caches``), a fixed 100-220 ms of
CPU per UDF task whatever the UDF does; that daemon re-reads an archive
only when it changed.  The module sits in this package, which the
daemon imports through ``spark.executorEnv.PYTHONPATH`` locally; on a
cluster the package must be on the executors' PYTHONPATH when the
daemon starts, as YARN arranges for ``--py-files dist/engine.zip``.
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
        .config("spark.python.daemon.module", "pdf_parser_spark.spark.daemon")
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
