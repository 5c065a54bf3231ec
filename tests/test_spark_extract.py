"""Reference⇄Spark equivalence: the same corpus through (a) the engine
directly and (b) the pandas-UDF path on local Spark; byte-identical
``text`` per url is the north-rule invariant (SURVEY.md §5.3)."""

import pytest

pyspark = pytest.importorskip("pyspark")

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.types import (  # noqa: E402
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from fixtures.gen import build_html_corpus, build_pdf_corpus  # noqa: E402
from pdf_parser_spark.engine import extract_document  # noqa: E402
from pdf_parser_spark.spark.job import (  # noqa: E402
    classify_size,
    lineage,
    resume_filter,
    run_extract,
)

_EPOCH = __import__("datetime").datetime(2025, 1, 1)

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)


@pytest.fixture(scope="module")
def spark():
    from pdf_parser_spark.spark.session import build_session

    s = build_session("pdf-parser-spark-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def pages_df(spark):
    rows = []
    for cid, data in {**build_pdf_corpus(), **build_html_corpus()}.items():
        rows.append((f"https://fixtures.test/{cid}", _EPOCH, bytearray(data), "", "en"))
    return spark.createDataFrame(rows, PAGES_SCHEMA)


def test_byte_identity_engine_vs_spark(spark, pages_df):
    extracted = run_extract(pages_df, threshold=100_000)
    got = {r["url"]: r for r in extracted.collect()}
    corpus = {**build_pdf_corpus(), **build_html_corpus()}
    assert len(got) == len(corpus)
    for cid, data in corpus.items():
        url = f"https://fixtures.test/{cid}"
        expected = extract_document(data)
        row = got[url]
        assert row["text_extracted"] == expected["text"], cid
        assert row["n_pages"] == expected["n_pages"], cid
        assert row["decode_error_kind"] == expected["error_kind"], cid
        got_spans = [(s["start"], s["end"], s["kind"]) for s in row["spans"]]
        assert got_spans == expected["spans"], cid


def test_heavy_tail_routing(spark, pages_df):
    classed = classify_size(pages_df, threshold=100_000)
    heavy = {r["url"] for r in classed.filter("size_class = 'heavy'").collect()}
    assert "https://fixtures.test/megapage" in heavy
    assert "https://fixtures.test/min-uncompressed" not in heavy


def test_lineage_tallies(spark, pages_df):
    extracted = run_extract(pages_df, threshold=100_000)
    lin = lineage(extracted).collect()
    total_rows = sum(r["row_count"] for r in lin)
    total_failures = sum(r["decode_failures"] for r in lin)
    n_malformed = sum(1 for c in build_pdf_corpus() if c.startswith("malformed-")) - 1
    # malformed-header routes to the HTML path and succeeds (empty text)
    assert total_rows == len(build_pdf_corpus()) + len(build_html_corpus())
    assert total_failures == n_malformed


def test_resume_anti_join(spark, pages_df):
    committed = pages_df.select("url").limit(10)
    remaining = resume_filter(pages_df, committed)
    assert remaining.count() == pages_df.count() - 10
    # committed urls are gone
    joined = remaining.join(committed, "url", "inner")
    assert joined.count() == 0


def test_extract_plan_is_narrow_after_repartition(spark, pages_df):
    # default plan: the normal class is a NARROW map over the input
    # splits — the ONLY exchange is the heavy-class spread (shuffling
    # 100 TB of raw bytes in front of a narrow map is the most
    # expensive mistake available at scale)
    plan = run_extract(pages_df, threshold=100_000)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1  # heavy-class xxhash64(url) spread


def test_multiformat_single_parse_matches_engine(spark, pages_df):
    """extract_formats_udf (one parse, all formats) must equal the
    per-format engine functions byte-for-byte per (url, fmt)."""
    from pdf_parser_spark.engine import api
    from pdf_parser_spark.engine.errors import PdfError
    from pdf_parser_spark.spark.udfs import extract_formats_udf, unpivot_formats

    got = {}
    rows = (
        pages_df.withColumn("_fx", extract_formats_udf(F.col("html")))
        .select("url", unpivot_formats("_fx"))
        .collect()
    )
    for r in rows:
        got[(r["url"], r["fmt"])] = r["text"]

    corpus = {**build_pdf_corpus(), **build_html_corpus()}
    fns = {
        "txt": api.pdf_to_text, "md": api.pdf_to_markdown,
        "csv": api.pdf_to_csv, "tsv": api.pdf_to_tsv,
        "text": api.pdf_to_aligned_text, "raw": api.pdf_to_raw_spans,
        "simple": api.pdf_to_simple_text,
    }
    n_checked = 0
    for cid, data in corpus.items():
        url = f"https://fixtures.test/{cid}"
        if not data.startswith(b"%PDF-"):
            continue  # html path: fmt-independent, covered elsewhere
        for fmt, fn in fns.items():
            try:
                expect = fn(data)
            except PdfError:
                expect = ""
            assert got[(url, fmt)] == expect, (cid, fmt)
            n_checked += 1
    assert n_checked >= 7 * 20


def test_page_scoped_extraction_in_spark(spark, pages_df):
    """run_extract(page=N): single-page rows match pdf_extract; out of
    range becomes a page_range error row, never a task failure."""
    from pdf_parser_spark.engine import api
    from pdf_parser_spark.engine.errors import PdfError

    extracted = run_extract(pages_df, fmt="txt", threshold=100_000, page=2)
    got = {r["url"]: r for r in extracted.collect()}
    for cid, data in build_pdf_corpus().items():
        url = f"https://fixtures.test/{cid}"
        try:
            n = api.pdf_page_count(data)
        except PdfError:
            continue
        if n >= 2:
            assert got[url]["text_extracted"] == api.pdf_extract(data, "txt", page=2), cid
            assert got[url]["decode_error_kind"] is None, cid
        else:
            assert got[url]["decode_error_kind"] == "page_range", cid
            assert "Invalid page number: 2" in got[url]["decode_error"], cid


def test_extended_filters_convert_error_rows_to_text(spark):
    """The --filters=extended e2e: a corpus of LZW/A85/RunLength/
    predictor PDFs is all decode_error rows under the default dispatch
    and all text rows (matching each plain twin's byte-identical
    extraction) under extended_filters=True."""
    from fixtures.gen import build_extended_corpus

    corpus = build_extended_corpus()
    rows = [
        (f"https://fixtures.test/{cid}", _EPOCH, bytearray(enc), "", "en")
        for cid, (enc, _plain) in corpus.items()
    ]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)

    default = {
        r["url"]: r
        for r in run_extract(pages, threshold=100_000).collect()
    }
    extended = {
        r["url"]: r
        for r in run_extract(
            pages, threshold=100_000, extended_filters=True
        ).collect()
    }
    from pdf_parser_spark.engine.api import pdf_to_text

    for cid, (enc, plain) in corpus.items():
        url = f"https://fixtures.test/{cid}"
        want = pdf_to_text(plain)
        # default: error row (or at minimum NOT the twin's text)
        d = default[url]
        assert d["decode_error_kind"] is not None or d["text_extracted"] != want, cid
        # extended: clean text row matching the plain twin
        e = extended[url]
        assert e["decode_error_kind"] is None, (cid, e["decode_error"])
        assert e["text_extracted"].rstrip("\x00") == want.rstrip("\x00"), cid


def test_explicit_shuffle_partitions_win_over_a_non_numeric_cpu_count(
    monkeypatch,
):
    """An explicit ``shuffle_partitions`` is used as given; only its
    default falls back to 32 when SPARK_GRAFT_CPUS is not a count."""
    from pyspark.sql import SparkSession

    from pdf_parser_spark.spark.session import build_session

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "*")
    monkeypatch.setattr(
        SparkSession.Builder, "getOrCreate", lambda self: dict(self._options)
    )
    opts = build_session(master="local[2]", shuffle_partitions=3)
    assert opts["spark.sql.shuffle.partitions"] == "3"
    opts = build_session(master="local[2]")
    assert opts["spark.sql.shuffle.partitions"] == "32"


def test_udf_workers_import_the_package_outside_the_repo(tmp_path):
    """A session built from another working directory still runs the
    extraction UDF: its Python workers find ``pdf_parser_spark``
    through the session, not through their working directory."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import sys
sys.path.insert(0, {repo!r})
from fixtures.gen import build_html_corpus
from pdf_parser_spark.engine import extract_document
from pdf_parser_spark.spark.session import build_session
from pdf_parser_spark.spark.udfs import with_extraction
html = build_html_corpus()["article-simple"]
spark = build_session("outside-repo", master="local[1]", shuffle_partitions=1)
df = spark.createDataFrame([(bytearray(html),)], "html binary")
row = with_extraction(df).select("text_extracted").first()
print("SAME", row["text_extracted"] == extract_document(html)["text"] != "")
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "SAME True" in proc.stdout, proc.stdout


def test_udf_workers_fork_from_the_zip_caching_daemon(spark):
    """Python workers of a ``build_session`` session fork from
    ``pdf_parser_spark.spark.daemon``, so a UDF task does not re-read
    the pyspark zips' directories (tests/test_worker_daemon.py)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def invalidator(s: pd.Series) -> pd.Series:
        import zipimport

        return s.map(lambda _: zipimport.zipimporter.invalidate_caches.__module__)

    got = {
        r[0]
        for r in spark.range(0, 8, numPartitions=4)
        .select(invalidator(F.col("id").cast("string")))
        .collect()
    }
    assert got == {"pdf_parser_spark.spark.daemon"}


@pytest.fixture(scope="module")
def pages_parquet(spark, tmp_path_factory):
    """The synthetic pages table, read back from parquet so plans
    carry a real scan (pruning and pushdown show in its node)."""
    import __spark_entry__ as entrymod

    path = str(tmp_path_factory.mktemp("plan") / "pages.parquet")
    entrymod._pages_df(spark, scale=1).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_plan_extraction_prunes_to_url_html_in_one_narrow_arrow_eval(
    pages_parquet,
):
    from pdf_parser_spark.spark.udfs import with_extraction

    p = _plan(with_extraction(pages_parquet).select("url", "text_extracted"))
    assert "ReadSchema: struct<url:string,html:binary>" in p
    assert p.count("ArrowEvalPython") == 1
    assert "Exchange" not in p


def test_plan_resume_anti_join_broadcasts_the_committed_side(pages_parquet):
    p = _plan(resume_filter(pages_parquet, pages_parquet.limit(10).select("url")))
    assert "LeftAnti" in p and "Broadcast" in p


def test_plan_warc_ts_predicate_is_pushed_to_the_scan(pages_parquet):
    p = _plan(
        pages_parquet.filter(
            F.col("warc_ts") > F.lit("2025-01-01 00:00:05").cast("timestamp")
        ).select("url")
    )
    assert "DataFilters" in p
    assert "warc_ts" in p.split("DataFilters")[-1][:200]
    # the window above also reaches the scan's ReadSchema, which names
    # warc_ts whether or not the filter was pushed; the filter list
    # itself must carry the predicate
    assert "warc_ts" in p.split("DataFilters: [")[-1].split("]")[0]


def test_plan_arrow_batch_is_64(spark):
    assert spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch") == "64"
