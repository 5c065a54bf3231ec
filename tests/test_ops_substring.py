"""substring_dedup (ops/substring.py): span semantics pinned against
a hand-computed fixture — overlapping matches merge, adjacent spans
merge, gapped spans stay separate, and a repeated span is covered
end-to-end in every carrier document.
"""

import os
import sys

import pytest

pyspark = pytest.importorskip("pyspark")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdf_parser_spark.ops.substring import GRAM_N, substring_dedup  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from pdf_parser_spark.spark.session import build_session

    s = build_session(
        "substring-tests", master="local[4]", shuffle_partitions=8
    )
    yield s
    s.stop()


def _write_docs(spark, tmp_path, docs: dict[int, list[str]]) -> str:
    rows = [
        (doc_id, " ".join(tok), "en", "src0", len(" ".join(tok)))
        for doc_id, tok in docs.items()
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = str(tmp_path / "fixture_sf")
    df.write.mode("overwrite").parquet(f"{out}/documents.parquet")
    return out


def test_span_merge_and_gap_semantics(spark, tmp_path):
    shared_a = [f"a{i}" for i in range(GRAM_N + 2)]   # 10-token repeat
    shared_b = [f"b{i}" for i in range(GRAM_N)]       # 8-token repeat
    # doc 1: [shared_a][gap of 5 unique][shared_b] -> two islands
    # doc 3: shared_a embedded mid-document -> one island
    # doc 5 carries both repeats so they are cross-document
    # (doc ids chosen non-multiples of VIRAL_MOD=6 to avoid the
    # injected quote muddying the hand computation)
    docs = {
        1: shared_a + [f"u{i}" for i in range(5)] + shared_b,
        3: [f"x{i}" for i in range(4)] + shared_a + [f"y{i}" for i in range(4)],
        5: shared_b + [f"z{i}" for i in range(6)] + shared_a,
    }
    sf = _write_docs(spark, tmp_path, docs)
    got = {r["doc_id"]: r.asDict() for r in substring_dedup(spark, sf).collect()}

    # doc 1: islands [0,9] (10 tokens) and [15,22] (8 tokens)
    assert got[1]["n_spans"] == 2
    assert got[1]["n_covered"] == 10 + 8
    assert got[1]["n_tokens"] == 23
    assert got[1]["covered_x100"] == 18 * 100 // 23
    # doc 3: one island of exactly the 10 shared tokens
    assert got[3]["n_spans"] == 1
    assert got[3]["n_covered"] == 10
    # doc 5: both repeats present, separated by 6 unique tokens
    assert got[5]["n_spans"] == 2
    assert got[5]["n_covered"] == 18


def test_adjacent_coverage_merges_into_one_span(spark, tmp_path):
    """Two repeated blocks placed back-to-back in one doc must merge
    into a single island (coverage is contiguous)."""
    blk_a = [f"p{i}" for i in range(GRAM_N)]
    blk_b = [f"q{i}" for i in range(GRAM_N)]
    docs = {
        1: blk_a + blk_b,                              # adjacent
        3: blk_a + [f"f{i}" for i in range(9)],        # carrier of a
        5: [f"g{i}" for i in range(9)] + blk_b,        # carrier of b
    }
    sf = _write_docs(spark, tmp_path, docs)
    got = {r["doc_id"]: r.asDict() for r in substring_dedup(spark, sf).collect()}
    assert got[1]["n_spans"] == 1
    assert got[1]["n_covered"] == 2 * GRAM_N
    assert got[1]["covered_x100"] == 100


def _h32_hexdigest(gram: str) -> int:
    """The h32 spec as the oracles spell it: md5 hex prefix → int."""
    import hashlib

    return int(hashlib.md5(gram.encode("utf-8")).hexdigest()[:8], 16)


def test_gram_hashes_match_the_hexdigest_spelling():
    """The 8-gram and 3-shingle hashes, sliced from the encoded text,
    equal the join-then-hexdigest spelling on texts whose tokens are
    not single-spaced or not ASCII."""
    from pdf_parser_spark.ops.common import h32_grams, utf8_tokens
    from pdf_parser_spark.ops.dedup import SHINGLE_N
    from pdf_parser_spark.ops.substring import _gram_hashes

    texts = [
        None,
        "",
        "   ",
        "a b",
        " a  b c ",
        "one two three four five six seven eight",
        "  one two  three four five six seven eight nine  ",
        "café naïve 東京 straße ñandú ünïcödé ok\tx y\nz end",
        " ".join(f"w{i % 5}" for i in range(40)),
    ]
    for t in texts:
        toks = [w for w in (t or "").split(" ") if w]
        grams = [" ".join(toks[i : i + GRAM_N])
                 for i in range(len(toks) - GRAM_N + 1)]
        shingles = [" ".join(toks[i : i + SHINGLE_N])
                    for i in range(len(toks) - SHINGLE_N + 1)]
        assert _gram_hashes(t) == [_h32_hexdigest(g) for g in grams], t
        sh = h32_grams(*utf8_tokens(t), SHINGLE_N)[0].tolist()
        assert sh == [_h32_hexdigest(g) for g in shingles], t


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="driver testdata not present")
def test_plan_gram_hasher_runs_once_without_cartesian(spark):
    """The duplicated-gram test is a window over the one gram
    relation, not a self-join that would re-run the UDF per branch,
    and there is no cartesian / nested-loop join."""
    p = substring_dedup(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert p.count("ArrowEvalPython") == 1
    assert "CartesianProduct" not in p and "NestedLoop" not in p
