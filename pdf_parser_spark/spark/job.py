"""The extraction batch job: partitioning, skew routing, lineage,
resume.

Design (SURVEY.md §3.4, §4):

* **Heavy-tail routing** — extraction cost scales with payload size,
  which is invisible to AQE (a map-only stage has no shuffle for AQE
  to re-plan), so giant PDFs / megapage HTML are routed EXPLICITLY:
  rows with ``length(html) > threshold`` go to a separate
  high-parallelism pass so one 500 MB document cannot straggle a
  2000-row partition.  This is the job-level analog of a salted skew
  join.
* **Lineage** — per-partition rows (partition id, row counts, error
  tallies, byte totals) aggregated with a real groupBy and written
  next to the output; makes any partition auditable and resumable.
* **Resume** — ``left_anti`` join of the source against already
  committed urls; with Iceberg this is a snapshot read, with the
  parquet fallback it reads the previous output directory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pdf_parser_spark.spark.udfs import with_extraction

# payload-size boundary between the normal and heavy-tail partition
# classes; at 100 TB this is the knob that keeps P99 task time flat
DEFAULT_HEAVY_TAIL_BYTES = 1 << 20  # 1 MiB

OUTPUT_COLUMNS = [
    "url",
    "warc_ts",
    "text_extracted",
    "spans",
    "n_pages",
    "n_elements",
    "doc_type",
    "decode_error",
    "decode_error_kind",
    "size_class",
]


def classify_size(df: DataFrame, threshold: int = DEFAULT_HEAVY_TAIL_BYTES) -> DataFrame:
    """Add the partition-class column used for heavy-tail routing."""
    return df.withColumn(
        "size_class",
        F.when(F.length("html") > threshold, F.lit("heavy")).otherwise(F.lit("normal")),
    )


def run_extract(
    pages: DataFrame,
    fmt: str = "txt",
    threshold: int = DEFAULT_HEAVY_TAIL_BYTES,
    page: int | None = None,
    extended_filters: bool = False,
) -> DataFrame:
    """Two-pass extraction plan with explicit compute-skew routing.

    The normal class stays a **narrow map over the input splits**: the
    size threshold bounds per-document cost, so byte-balanced scan
    splits (``spark.sql.files.maxPartitionBytes``) are already
    compute-balanced — shuffling 100 TB of raw bytes in front of a
    narrow map would be the single largest cost in the whole job.

    The heavy class is where compute skew lives (cost is unbounded
    above the threshold), so it IS spread via ``xxhash64(url)`` —
    one-giant-document-per-task-ish, never straggling a 2000-row
    partition.
    """
    n_heavy = pages.sparkSession.sparkContext.defaultParallelism

    classed = classify_size(pages, threshold)
    normal = classed.filter(F.col("size_class") == "normal")
    heavy = classed.filter(F.col("size_class") == "heavy").repartition(
        n_heavy, F.xxhash64("url")
    )

    # one extraction over the union; Catalyst still pushes the UDF
    # projection into each branch, so the plan keeps one
    # ArrowEvalPython per class
    extracted = with_extraction(
        normal.unionByName(heavy), fmt, page=page, extended=extended_filters
    )
    return extracted.select(*OUTPUT_COLUMNS)


def lineage(extracted: DataFrame) -> DataFrame:
    """Per-partition lineage/metrics rows (north rule: input files, row
    counts, decode-failure tallies).  One real groupBy over tiny data."""
    return (
        extracted.withColumn("part_id", F.spark_partition_id())
        .groupBy("part_id")
        .agg(
            F.count(F.lit(1)).alias("row_count"),
            F.sum(F.when(F.col("decode_error").isNotNull(), 1).otherwise(0)).alias(
                "decode_failures"
            ),
            F.sum(F.length("text_extracted")).alias("text_chars"),
            F.sum("n_pages").alias("pages"),
            F.min("url").alias("first_url"),
            F.max("url").alias("last_url"),
        )
    )


def resume_filter(pages: DataFrame, committed: DataFrame) -> DataFrame:
    """Anti-join the source against committed urls — the resume path.
    At cluster scale the committed side is an Iceberg snapshot scan;
    the join is a shuffled anti-join (both sides large) which AQE can
    convert to broadcast when the committed set is small."""
    return pages.join(committed.select("url"), on="url", how="left_anti")

