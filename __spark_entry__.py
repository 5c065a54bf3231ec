"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction job (SURVEY.md §3.4)
over a deterministic Common-Crawl-style pages DataFrame in the
BASELINE.json ``input_hint`` shape.  ``queries()`` exposes the two
extraction entries plus every op in the ``pdf_parser_spark.ops``
registry; ``oracle_sql()`` provides the DuckDB twin for each op.  The
extraction pipeline itself is non-SQL-expressible (rows-only check
here; byte-identity vs the reference semantics is enforced by
``python -m pytest -x -q``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# the BASELINE.json input_hint shape exactly:
# (url:string, warc_ts:timestamp, html:binary, text:string, lang:string)
PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)

_PAGES_RAW_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts_us", LongType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)


def _pages_df(spark: SparkSession, scale: int = 1) -> DataFrame:
    """Deterministic synthetic pages table in the input_hint shape
    (url, warc_ts TIMESTAMP, html, text, lang) from the fixture
    corpus — no external data.  The generator emits epoch micros; the
    timestamp conversion happens JVM-side (timestamp_micros) so the
    value is exact and timezone-free."""
    from fixtures.gen import build_pages_rows

    rows = [
        (url, ts, bytearray(data), text, lang)
        for (url, ts, data, text, lang) in build_pages_rows(scale)
    ]
    return spark.createDataFrame(rows, _PAGES_RAW_SCHEMA).select(
        "url",
        F.timestamp_micros("warc_ts_us").alias("warc_ts"),
        "html",
        "text",
        "lang",
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full extraction job — skew-routed vectorized
    extraction with spans, error columns, and doc typing."""
    from pdf_parser_spark.spark.job import run_extract

    pages = _pages_df(spark, scale=2)
    extracted = run_extract(pages, fmt="txt", threshold=100_000)
    return extracted.select(
        "url",
        "doc_type",
        "n_pages",
        "n_elements",
        "size_class",
        "decode_error_kind",
        F.md5(F.col("text_extracted").cast("binary")).alias("text_md5"),
        F.length("text_extracted").alias("text_len"),
    )


def _extract_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The extraction pipeline as a queries() entry (non-SQL; the
    driver records a rows-only check — pytest carries byte-identity).
    Ignores sf_dir: input is the deterministic fixture corpus."""
    return entry(spark)


def _extract_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every output format (SURVEY.md §2.1 S3-S8 + E6) over the
    fixture corpus: per (url, fmt) md5 + length of the rendered text.
    Non-SQL (rows-only check); format semantics are pinned by the
    ported unit tests and golden fixtures.

    Single-parse multi-format plan: ONE narrow map parses each
    document once and renders all 7 formats from the same span sets
    (engine.api.extract_all_formats) into flat string fields, then a
    JVM-side ``stack`` unpivots to (url, fmt) rows — a per-format loop
    would re-parse every document 7x."""
    from pdf_parser_spark.spark.udfs import extract_formats_udf, unpivot_formats

    pages = _pages_df(spark, scale=1)
    return (
        pages.withColumn("_fx", extract_formats_udf(F.col("html")))
        .select(
            "url",
            F.col("_fx.error_kind").alias("decode_error_kind"),
            unpivot_formats("_fx"),
        )
        .select(
            "url",
            "fmt",
            F.md5(F.col("text").cast("binary")).alias("text_md5"),
            F.length("text").alias("text_len"),
            "decode_error_kind",
        )
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from pdf_parser_spark.ops import all_queries

    # The two extract entries plus every registry op: each one
    # specifies what a job or stream runs.
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    out["extract_pages"] = _extract_pages
    out["extract_formats"] = _extract_formats
    for name, (fn, _sql) in all_queries().items():
        out[name] = fn
    return out


def oracle_sql() -> dict[str, str]:
    from pdf_parser_spark.ops import all_queries

    return {
        name: sql for name, (_fn, sql) in all_queries().items() if sql is not None
    }
