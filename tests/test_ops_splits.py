"""Decontaminated-split invariants.

Beyond DuckDB parity (the driver's gate), this pins the semantic
guarantee: an exact duplicate straddling the split boundary MUST be
flagged as leakage (identical text → identical signature → every band
matches).
"""

import os
import sys

import duckdb
import pytest

pyspark = pytest.importorskip("pyspark")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdf_parser_spark.ops.splits import (  # noqa: E402
    SPLIT_DECONTAMINATED_SQL,
    split_decontaminated,
)
from scripts.parity_check import norm_rows  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from pdf_parser_spark.spark.session import build_session

    s = build_session(
        "splits-tests", master="local[4]", shuffle_partitions=8
    )
    yield s
    s.stop()


def _write_docs(spark, tmp_path, rows):
    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    return sf


def _duck(sf, sql):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    r = con.sql(sql)
    return list(r.columns), r.fetchall()


def _assert_parity(sdf, sf, sql):
    scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]
    dcols, drows = _duck(sf, sql)
    assert sorted(scols) == sorted(dcols)
    assert norm_rows(scols, srows) == norm_rows(dcols, drows)
    return srows, scols


def test_split_flags_boundary_straddling_duplicates(spark, tmp_path):
    # 60 unique docs + every doc's EXACT duplicate under doc_id+500:
    # whichever side of the split each copy lands on, a straddling
    # pair must mark its val member leaked.
    rows = []
    for i in range(60):
        text = " ".join(f"tok{i}w{j}" for j in range(8))
        rows.append((i, text, "en", "web", len(text)))
        rows.append((i + 500, text, "en", "web", len(text)))
    sf = _write_docs(spark, tmp_path, rows)

    sdf = split_decontaminated(spark, sf)
    srows, scols = _assert_parity(sdf, sf, SPLIT_DECONTAMINATED_SQL)

    got = {r[scols.index("doc_id")]: r[scols.index("leaked")] for r in srows}
    assert got, "hash split produced an empty val set (VAL_MOD broke?)"
    # the dedup corpus doubles each doc with a one-token-shorter twin;
    # here we only reason about our EXACT pairs (i, i+500): if exactly
    # one of the pair is in val, it must be leaked.
    for i in range(60):
        a, b = got.get(i), got.get(i + 500)
        if a is not None and b is None:
            assert a, f"val doc {i} has its exact dup in train but leaked=False"
        if b is not None and a is None:
            assert b, f"val doc {i+500} has its exact dup in train but leaked=False"


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="driver testdata not present")
def test_plan_leak_check_is_left_semi_on_band_keys(spark):
    """The leak check is a LEFT SEMI join on band keys (never a
    pair-exploding inner join), and the text column stays inside the
    signature stage: nothing downstream of the band exchange carries
    text."""
    p = split_decontaminated(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in p
    assert "text" not in p.split("LeftSemi")[0].split("Exchange")[-1]
