"""url_spam_score: structural URL-feature spam admission."""

import os
import re
import sys

import pytest

pyspark = pytest.importorskip("pyspark")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdf_parser_spark.ops.urlquality import (  # noqa: E402
    ADMIT_BELOW,
    DEPTH_MIN,
    DIGIT_SHARE_PPM,
    HYPHEN_MIN,
    LEN_MIN,
    LONG_DIGIT_RUN,
    PARAM_MIN,
    url_spam_score,
)

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present"
)


@pytest.fixture(scope="module")
def spark():
    from pdf_parser_spark.spark.session import build_session

    s = build_session(
        "urlquality-tests", master="local[4]", shuffle_partitions=8
    )
    yield s
    s.stop()


@pytest.fixture(scope="module")
def rows(spark):
    return {r["doc_id"]: r for r in url_spam_score(spark, SF_DIR).collect()}


def _py_score(url: str) -> int:
    n_digits = sum(c.isdigit() for c in url)
    ppm = n_digits * 1_000_000 // len(url)
    return (
        (2 if ppm > DIGIT_SHARE_PPM else 0)
        + (2 if re.search(r"[0-9]{%d,}" % LONG_DIGIT_RUN, url) else 0)
        + (1 if url.count("-") >= HYPHEN_MIN else 0)
        + (1 if url.count("=") >= PARAM_MIN else 0)
        + (1 if url.count("/") - 2 >= DEPTH_MIN else 0)
        + (1 if len(url) >= LEN_MIN else 0)
    )


def test_score_matches_python(rows):
    for r in rows.values():
        assert r["spam_score"] == _py_score(r["url"]), r["url"]
        assert r["admitted"] == (r["spam_score"] < ADMIT_BELOW)


def test_features_match_python(rows):
    for r in rows.values():
        url = r["url"]
        assert r["url_len"] == len(url)
        assert r["n_digits"] == sum(c.isdigit() for c in url)
        assert r["digit_ppm"] == r["n_digits"] * 1_000_000 // len(url)
        assert r["n_hyphens"] == url.count("-")
        assert r["n_params"] == url.count("=")
        assert r["path_depth"] == url.count("/") - 2
        assert r["long_digit_run"] == bool(
            re.search(r"[0-9]{%d,}" % LONG_DIGIT_RUN, url)
        )


def test_each_structural_tell_fires(rows):
    """Every derived slot exercises its planted tell; the clean slot
    (doc_id % 5 == 4) is admitted."""
    by_slot: dict[int, list] = {}
    for did, r in rows.items():
        by_slot.setdefault(did % 5, []).append(r)
    # slot 0: digit-heavy p/<id^2> paths — long runs appear once ids
    # grow; the square of any 3-digit id is a >=6-digit run
    assert any(r["long_digit_run"] for r in by_slot[0])
    assert all(r["n_hyphens"] >= HYPHEN_MIN for r in by_slot[1])
    assert all(r["n_params"] >= PARAM_MIN for r in by_slot[2])
    assert all(r["path_depth"] >= DEPTH_MIN for r in by_slot[3])
    assert all(r["admitted"] for r in by_slot[4])
    # blocked pages exist (the point of the gate)
    assert any(not r["admitted"] for r in rows.values())


def test_plan_is_scan_local(spark):
    """A pure scan-local projection: zero exchanges, zero Python, at
    any corpus size."""
    p = url_spam_score(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p
    assert "Python" not in p
