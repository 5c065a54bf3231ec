"""Edge regressions for linkgraph_pagerank: tiny graphs (including a
dangling host that only ever appears as a link target) must produce
the identical exact-integer ranks on both engines, and the fixed-point
invariants must hold (every rank ≥ the damping base; total mass never
exceeds the initial SCALE since dangling/floor loss only removes)."""

import os
import sys

import duckdb
import pytest

pyspark = pytest.importorskip("pyspark")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdf_parser_spark.ops.linkgraph import (  # noqa: E402
    PAGERANK_SQL,
    PR_SCALE,
    linkgraph_pagerank,
)
from scripts.parity_check import norm_rows  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from pdf_parser_spark.spark.session import build_session

    s = build_session(
        "linkgraph-edge-tests", master="local[4]", shuffle_partitions=8
    )
    yield s
    s.stop()


def _write_docs(spark, tmp_path, rows):
    df = spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf = str(tmp_path / "sf")
    df.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    return sf


def _duck(sf):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    return con


def _assert_parity(sdf, con, sql):
    srows = [tuple(r) for r in sdf.collect()]
    ddf = con.sql(sql)
    assert sorted(sdf.columns) == sorted(ddf.columns)
    assert norm_rows(sdf.columns, srows) == norm_rows(
        ddf.columns, ddf.fetchall()
    )
    return srows, sdf.columns


@pytest.mark.parametrize("n_docs", [1, 3, 17])
def test_pagerank_tiny_graph_parity_and_invariants(spark, tmp_path, n_docs):
    rows = [(i, f"doc {i}") for i in range(n_docs)]
    sf = _write_docs(spark, tmp_path / str(n_docs), rows)
    sdf = linkgraph_pagerank(spark, sf)
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns

    con = _duck(sf)
    ddf = con.sql(PAGERANK_SQL)
    assert sorted(scols) == sorted(ddf.columns)
    assert norm_rows(scols, srows) == norm_rows(ddf.columns, ddf.fetchall())

    # few docs on 60 hosts guarantees dangling hosts (targets with no
    # outlinks); they must still carry a rank and a zero out_degree
    by_host = {r[0]: r for r in srows}
    n = len(srows)
    assert n >= 2  # K_OUT=3 targets rarely all collide with the source
    base = ((PR_SCALE // n) * 15) // 100
    assert any(r[2] == 0 for r in srows), "expected a dangling host"
    for _, pr, outdeg in srows:
        assert pr >= base
        assert outdeg >= 0
    # mass only leaks (dangling drop + floor), never grows
    assert sum(r[1] for r in srows) <= PR_SCALE
    assert by_host  # non-empty
