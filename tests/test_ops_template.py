"""host_template_prefix: per-host LCP template detection."""

import os
import sys

import pytest

pyspark = pytest.importorskip("pyspark")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdf_parser_spark.ops.template import (  # noqa: E402
    DISPLAY_CAP,
    MIN_DOCS,
    PREFIX_CAP,
    TEMPLATE_MIN_LEN,
    host_template_prefix,
)

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present"
)


@pytest.fixture(scope="module")
def spark():
    from pdf_parser_spark.spark.session import build_session

    s = build_session(
        "template-tests", master="local[4]", shuffle_partitions=8
    )
    yield s
    s.stop()


@pytest.fixture(scope="module")
def rows(spark):
    return {r["host"]: r for r in host_template_prefix(spark, SF_DIR).collect()}


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out: dict[str, list[str]] = {}
    for r in df.select("source", "text").collect():
        host = r["source"] + ".example.com"
        banner = (
            "WELCOME TO " + r["source"].upper()
            + ".EXAMPLE.COM | HOME ABOUT CONTACT | "
        )
        out.setdefault(host, []).append((banner + (r["text"] or ""))[:PREFIX_CAP])
    return out


def _py_lcp(strings: list[str]) -> int:
    a, b = min(strings), max(strings)
    n = min(len(a), len(b))
    for i in range(n):
        if a[i] != b[i]:
            return i
    return n


def test_lcp_matches_exhaustive_python(rows, docs):
    """The min/max identity must agree with the all-strings LCP."""
    for host, prefixes in docs.items():
        r = rows[host]
        assert r["n_docs"] == len(prefixes)
        want = _py_lcp(prefixes)
        # exhaustive cross-check: common prefix over ALL docs
        exhaustive = 0
        first = prefixes[0]
        for i in range(min(len(p) for p in prefixes)):
            if all(p[i] == first[i] for p in prefixes):
                exhaustive = i + 1
            else:
                break
        assert want == exhaustive
        assert r["lcp_len"] == want
        assert r["template_prefix"] == min(prefixes)[: min(want, DISPLAY_CAP)]


def test_banner_makes_every_host_templated(rows):
    for r in rows.values():
        # every derived host shares at least its banner
        assert r["lcp_len"] >= TEMPLATE_MIN_LEN
        assert r["is_templated"] == (r["n_docs"] >= MIN_DOCS)
        assert r["template_prefix"].startswith("WELCOME TO ")


def test_lcp_stops_inside_body(rows, docs):
    """Documents diverge after the banner, so the LCP must not reach
    the prefix cap on any multi-doc host."""
    for host, prefixes in docs.items():
        if len(set(prefixes)) > 1:
            assert rows[host]["lcp_len"] < PREFIX_CAP


def test_plan_single_exchange_carries_the_prefix_not_the_text(spark):
    """The one exchange carries the capped prefix, never the text
    column: it is projected before the partial min/max aggregate, so
    document bodies do not shuffle."""
    p = host_template_prefix(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    ex_seg = (
        p.split("Exchange hashpartitioning")[-1][:400]
        if "Exchange hashpartitioning" in p
        else ""
    )
    assert p.count("Exchange") == 1
    assert "partial_min" in p
    assert "text#" not in ex_seg
