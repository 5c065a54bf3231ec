"""Decontaminated-split and temperature-sampling invariants.

Beyond DuckDB parity (the driver's gate), these pin the semantic
guarantees: an exact duplicate straddling the split boundary MUST be
flagged as leakage (identical text → identical signature → every band
matches), and the temperature quota must follow the sqrt weights
exactly.
"""

import os
import sys

import duckdb
import pytest

pyspark = pytest.importorskip("pyspark")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdf_parser_spark.ops.splits import (  # noqa: E402
    LANG_TEMPERATURE_SAMPLE_SQL,
    SPLIT_DECONTAMINATED_SQL,
    TEMP_TARGET_DEN,
    lang_temperature_sample,
    split_decontaminated,
)
from pdf_parser_spark.ops.linkgraph import (  # noqa: E402
    BASE_DELAY_MS,
    CRAWL_SCHEDULE_SQL,
    DELAY_CLASSES,
    DELAY_STEP_MS,
    crawl_schedule,
)
from scripts.parity_check import norm_rows  # noqa: E402


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


def test_temperature_quota_follows_sqrt_weights(spark, tmp_path):
    rows = []
    did = 0
    for lang, n in (("en", 900), ("de", 90), ("fr", 12)):
        for _ in range(n):
            text = f"word{did} " * 5
            rows.append((did, text.strip(), lang, "web", len(text)))
            did += 1
    sf = _write_docs(spark, tmp_path, rows)

    sdf = lang_temperature_sample(spark, sf)
    srows, scols = _assert_parity(sdf, sf, LANG_TEMPERATURE_SAMPLE_SQL)

    by_lang = {r[scols.index("lang")]: r for r in srows}
    tot_docs = sum(r[scols.index("n_docs")] for r in srows)
    tot_w = sum(r[scols.index("weight")] for r in srows)
    for lang, r in by_lang.items():
        n, w, q = (
            r[scols.index("n_docs")],
            r[scols.index("weight")],
            r[scols.index("quota")],
        )
        assert w == int(n**0.5)
        assert q == (tot_docs * w) // (TEMP_TARGET_DEN * tot_w)
    # temperature flattens the head: the head language's selection
    # rate must be strictly below the tail language's
    rate = {
        lang: r[scols.index("n_selected")] / r[scols.index("n_docs")]
        for lang, r in by_lang.items()
    }
    assert rate["en"] < rate["fr"]


def test_crawl_schedule_serializes_each_host(spark, tmp_path):
    rows = []
    for i in range(120):
        rows.append((i, f"page {i}", "en", "web", 8))
    sf = _write_docs(spark, tmp_path, rows)

    sdf = crawl_schedule(spark, sf)
    srows, scols = _assert_parity(sdf, sf, CRAWL_SCHEDULE_SQL)

    i_h, i_rk, i_slot = (
        scols.index("host"),
        scols.index("fetch_rank"),
        scols.index("slot_ms"),
    )
    per_host = {}
    for r in srows:
        per_host.setdefault(r[i_h], []).append((r[i_rk], r[i_slot]))
    for host, lst in per_host.items():
        lst.sort()
        delay = BASE_DELAY_MS + (host % DELAY_CLASSES) * DELAY_STEP_MS
        assert [rk for rk, _ in lst] == list(range(1, len(lst) + 1))
        assert all(slot == (rk - 1) * delay for rk, slot in lst)
