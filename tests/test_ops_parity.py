"""Spark⇄DuckDB parity for every oracled operator (driver-style
compare: row count + column names + order-insensitive values) at
sf0.001.  Mirrors what the driver's CORRECTNESS gate does at sf0.01.
"""

import os
import sys

import duckdb
import pytest

pyspark = pytest.importorskip("pyspark")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.parity_check import TABLES, norm_rows  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

JOB_ENTRIES = {
    "extract_pages",
    "extract_formats",
    "dedup_exact",
    "dedup_minhash_lsh",
    "text_token_stats",
    "text_quality_score",
    "linkgraph_pagerank",
    "host_centrality_hyperball",
    "split_decontaminated",
    "substring_dedup",
    "host_template_prefix",
    "url_spam_score",
}

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present"
)


@pytest.fixture(scope="module")
def spark():
    from pdf_parser_spark.spark.session import build_session

    s = build_session("ops-parity-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _all_queries():
    from pdf_parser_spark.ops import all_queries

    return all_queries()


@pytest.mark.parametrize("name", sorted(_all_queries()))
def test_parity(name, spark, duck):
    fn, sql = _all_queries()[name]
    sdf = fn(spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns
    if sql is None:
        assert len(srows) > 0
        return
    ddf = duck.sql(sql)
    dcols = list(ddf.columns)
    drows = ddf.fetchall()
    assert sorted(scols) == sorted(dcols)
    assert norm_rows(scols, srows) == norm_rows(dcols, drows)


def test_entry_smoke(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "text_md5" in df.columns
    # the registry holds only the entries that specify what a job or
    # stream runs; every op but the two extract entries has an oracle
    assert set(entrymod.queries()) == JOB_ENTRIES
    assert set(entrymod.oracle_sql()) == JOB_ENTRIES - {
        "extract_pages", "extract_formats"
    }
