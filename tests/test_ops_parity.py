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
    names = set(entrymod.queries())
    oracles = set(entrymod.oracle_sql())
    assert oracles <= names
    assert "extract_pages" in names
    # the driver's correctness pass reads at most 50 entries
    assert len(entrymod.queries()) <= 50


def test_ngram_jaccard_bucket_bound_under_skew(spark, tmp_path):
    """Skew hardening (ops/dedup.py dedup_ngram_jaccard): a ubiquitous
    boilerplate shingle that wins the perm-0 min for many documents
    must NOT form one quadratic bucket — the (mh0, log2-size-band)
    composite key splits it by document size — while the banded plan's
    final pairs stay exactly the unbanded blocking's pairs."""
    from itertools import combinations

    from pyspark.sql import functions as F

    from pdf_parser_spark.ops.dedup import (
        JACCARD_THRESHOLD,
        _perm,
        _shingled,
        dedup_ngram_jaccard,
    )

    # Boilerplate prefix whose leading shingle "q48444 q48444x q48444y"
    # has h32 = 783 (mined offline; perm0 is identity below the MinHash
    # prime), i.e. it wins the min against any realistic unique-filler
    # hash — so EVERY doc lands in one mh0 bucket regardless of its
    # size, the worst-case boilerplate skew.  Sizes span 2^1..2^10
    # filler tokens so the log2-size band splits that bucket.
    common = "q48444 q48444x q48444y " + " ".join(
        f"boiler{i:02d}" for i in range(20)
    )
    rows = []
    for d in range(240):
        k = 1 + d % 10
        filler = " ".join(f"u{d}x{j}" for j in range(1 << k))
        rows.append((d, f"{common} {filler}"))
    sf_dir = str(tmp_path)
    spark.createDataFrame(rows, "doc_id: long, text: string").write.parquet(
        f"{sf_dir}/documents.parquet"
    )

    keyed = _shingled(spark, sf_dir).select(
        "doc_id",
        "shs",
        F.array_min(F.transform("shs", lambda h: _perm(h, 0))).alias("mh0"),
        F.floor(F.log2(F.size("shs"))).cast("long").alias("band"),
    )
    buckets = keyed.groupBy("mh0").count().agg(F.max("count")).collect()[0][0]
    banded = (
        keyed.groupBy("mh0", "band").count().agg(F.max("count")).collect()[0][0]
    )
    # the boilerplate bucket captured (nearly) the whole corpus and
    # the composite key splits it by size band
    assert buckets >= 400, buckets
    assert banded <= buckets / 3, (buckets, banded)

    # output-invariance: banded plan == brute-force unbanded blocking
    got = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    docs = keyed.select("doc_id", "shs", "mh0").collect()
    expect = set()
    for a, b in combinations(sorted(docs, key=lambda r: r["doc_id"]), 2):
        if a["mh0"] != b["mh0"]:
            continue
        sa, sb = set(a["shs"]), set(b["shs"])
        j = len(sa & sb) / len(sa | sb)
        j = __import__("math").floor(j * 10000.0 + 0.5) / 10000.0
        if j >= JACCARD_THRESHOLD:
            expect.add((a["doc_id"], b["doc_id"], j))
    assert got == expect


def test_jaccard_band_gap_bound():
    """The banding argument in ops/dedup.dedup_ngram_jaccard: any pair
    that can survive the post-round threshold (min >= 0.49995*max) has
    floor(log2) band gap <= 2, and gap exactly 2 occurs — so emitting
    (band, band+1, band+2) is both necessary and sufficient."""
    import math

    max_gap = 0
    for mx in list(range(2, 5000)) + [2**k for k in range(12, 31)] + [
        2**k - 1 for k in range(12, 31)
    ]:
        mn = math.ceil(mx * 0.49995)
        if mn < 1:
            continue
        gap = math.floor(math.log2(mx)) - math.floor(math.log2(mn))
        max_gap = max(max_gap, gap)
    assert max_gap == 2
