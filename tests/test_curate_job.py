"""End-to-end curation funnel over extracted pages: decode-error
drop, quality floor, exact dedup (min-url keeper), MinHash-LSH
near-dup collapse (keep-BEST-quality member, ties to min url), and
the funnel lineage report."""

import datetime

import pytest

pyspark = pytest.importorskip("pyspark")

from pyspark.sql import functions as F  # noqa: E402

from jobs.curate import curate  # noqa: E402
from pdf_parser_spark.spark.job import run_extract  # noqa: E402
from pdf_parser_spark.streaming.job import PAGES_STREAM_SCHEMA  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from pdf_parser_spark.spark.session import build_session

    s = build_session("curate-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


_TS = datetime.datetime(2025, 1, 1)

_LONG = " ".join(f"tok{i % 37} word{i % 11} filler" for i in range(120))


_LONG2 = " ".join(f"alpha{i % 29} beta{i % 13} gamma" for i in range(120))


def _pages(spark):
    dup = b"<html><body><p>" + _LONG2.encode() + b"</p></body></html>"
    rows = [
        # exact-dup pair: identical bytes, two urls -> min url survives
        ("https://t/dup-a", _TS, bytearray(dup), "", "en"),
        ("https://t/dup-b", _TS, bytearray(dup), "", "en"),
        # near-dup pair: long html, one with a token dropped
        ("https://t/near-a", _TS, bytearray(
            b"<html><body><p>" + _LONG.encode() + b"</p></body></html>"), "", "en"),
        ("https://t/near-b", _TS, bytearray(
            b"<html><body><p>" + _LONG.split(" ", 1)[1].encode() + b"</p></body></html>"), "", "en"),
        # unique long doc: must survive everything
        ("https://t/unique", _TS, bytearray(
            b"<html><body><p>completely different content about spark "
            b"partitioning strategies and shuffle economics at scale "
            b"with many distinct informative words</p></body></html>"), "", "en"),
        # quality reject: 3 tokens
        ("https://t/short", _TS, bytearray(
            b"<html><body><p>too short here</p></body></html>"), "", "en"),
        # decode reject: malformed pdf
        ("https://t/broken", _TS, bytearray(b"%PDF-1.4\ngarbage"), "", "en"),
        # URL-admission reject: ID-farm path (long digit run + digit
        # share) — the content itself is clean long html, so only the
        # url_admission stage can drop it
        ("https://t/p/920357102968457/item/4459817236", _TS, bytearray(
            b"<html><body><p>" + _LONG.encode() + b"</p></body></html>"),
            "", "en"),
    ]
    return spark.createDataFrame(rows, PAGES_STREAM_SCHEMA)


def test_curate_funnel(spark):
    extracted = run_extract(_pages(spark), fmt="txt", threshold=100_000)
    curated, funnel = curate(extracted)
    urls = {r.url for r in curated.select("url").collect()}

    assert "https://t/dup-a" in urls and "https://t/dup-b" not in urls
    # keep-best policy: near-b is near-a minus one token — same 49-word
    # vocabulary over 359 instead of 360 tokens, so its lexical
    # diversity (and thus quality) is strictly higher and IT is the
    # canonical survivor (the old min-url keeper kept near-a)
    assert "https://t/near-b" in urls and "https://t/near-a" not in urls
    assert "https://t/unique" in urls
    assert "https://t/short" not in urls
    assert "https://t/broken" not in urls
    # the spam-shaped url carries survivable content; only the
    # admission stage can reject it
    assert "https://t/p/920357102968457/item/4459817236" not in urls

    stages = {f["stage"]: f["rows"] for f in funnel}
    assert stages["input"] == 8
    assert stages["url_admitted"] == 7   # ID-farm url dropped
    assert stages["decoded"] == 6        # broken dropped
    # all fixture docs live on one host with immediately-diverging
    # texts -> no shared banner -> transform stage, no drops, no strips
    assert stages["template_strip"] == 6
    assert stages["quality"] == 5        # short dropped
    assert stages["exact_dedup"] == 4    # dup-b dropped
    assert stages["near_dedup"] == 3     # near-a dropped (keep-best)
    assert stages["span_dedup"] == 3     # transform stage: no drops
    # funnel is monotone non-increasing
    rows = [f["rows"] for f in funnel]
    assert rows == sorted(rows, reverse=True)
    # the three survivors share no 8-gram -> span strip is a no-op
    assert all(
        r["_tok_removed"] == 0
        for r in curated.select("_tok_removed").collect()
    )


def _funnel_plan(extracted):
    """The curate stages composed lazily, as ``curate()`` composes them,
    without its observations or its checkpoint."""
    from jobs import curate as C

    df = C.url_admission(extracted).filter(F.col("decode_error").isNull())
    for fn in (C.strip_host_templates, C.quality_floor, C.exact_dedup,
               C.neardup_collapse, C.strip_repeated_spans):
        df = fn(df)
    return df


def test_curate_plan_stays_small(spark):
    """No stage joins its input to more than one branch of itself, so
    the unmaterialized funnel's optimized plan stays small; stages
    that self-join their input 2-8 times compound it past 1 MB."""
    plan = _funnel_plan(run_extract(_pages(spark)))._jdf.queryExecution()
    assert len(plan.optimizedPlan().toString()) < 256 * 1024


def test_curate_runs_few_spark_jobs(spark, tmp_path):
    """curate() materializes its plan once, with no per-stage count:
    curate plus the parquet write stay within a small, fixed number of
    Spark jobs (AQE submits one per query stage)."""
    extracted = run_extract(_pages(spark), fmt="txt", threshold=100_000)
    src = str(tmp_path / "extracted")
    extracted.write.parquet(src)
    sc = spark.sparkContext
    sc.setJobGroup("curate-job-bound", "curate + write")
    try:
        curated, funnel = curate(spark.read.parquet(src))
        curated.write.parquet(str(tmp_path / "curated"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert funnel[-1]["rows"] == 3
    assert len(sc.statusTracker().getJobIdsForGroup("curate-job-bound")) <= 16


def test_curate_counts_stages_that_empty_out(spark):
    """A funnel whose rows are all rejected early still reports every
    stage's count (an emptied stage must not lose its observation)."""
    spam = "https://t/p/920357102968457/item/"
    rows = [(f"{spam}{i}", _LONG, None) for i in range(3)]
    df = spark.createDataFrame(
        rows, "url string, text_extracted string, decode_error string"
    )
    curated, funnel = curate(df)
    assert [f["rows"] for f in funnel] == [3, 0, 0, 0, 0, 0, 0, 0]
    assert curated.count() == 0


def test_url_admission_scores_empty_url(spark):
    """An empty url scores 0 and is admitted; it must not raise
    DIVIDE_BY_ZERO (ANSI) and fail the job."""
    from jobs.curate import url_admission
    from pdf_parser_spark.ops.urlquality import spam_feature_cols

    df = spark.createDataFrame(
        [("",), ("https://t/p/920357102968457/item/4459817236",)], "url string"
    )
    feats = spam_feature_cols(F.col("url"))
    row = df.filter(F.col("url") == "").select(
        feats["digit_ppm"].alias("ppm"), feats["spam_score"].alias("score")
    ).first()
    assert (row.ppm, row.score) == (0, 0)
    assert [r.url for r in url_admission(df).collect()] == [""]


def test_template_strip_removes_host_banner_and_spares_mirrors(spark):
    """Per-host banner LCP is stripped from every carrier; a host
    whose docs are IDENTICAL up to the prefix cap is a mirror, not a
    template, and must be left intact for dedup to collapse."""
    from pdf_parser_spark.ops.template import PREFIX_CAP

    from jobs.curate import strip_host_templates

    banner = "WELCOME TO EXAMPLE.ORG | HOME ABOUT | "
    body = " ".join(f"w{i}" for i in range(60))
    mirror_text = "m " * (PREFIX_CAP)  # identical well past the cap
    rows = [
        ("https://example.org/a", banner + "alpha " + body),
        ("https://example.org/b", banner + "beta " + body),
        ("https://example.org/c", banner + "gamma " + body),
        # mirror host: identical docs
        ("https://mirror.net/x", mirror_text),
        ("https://mirror.net/y", mirror_text),
        # single-doc host: no cross-page evidence, untouched
        ("https://solo.io/only", banner + "solo " + body),
    ]
    df = spark.createDataFrame(rows, "url string, text_extracted string")
    out = {r.url: r.asDict() for r in strip_host_templates(df).collect()}

    for u in ("https://example.org/a", "https://example.org/b",
              "https://example.org/c"):
        assert not out[u]["text_extracted"].startswith("WELCOME"), u
        assert out[u]["_template_removed"] == len(banner)
    assert out["https://example.org/a"]["text_extracted"].startswith("alpha ")
    # mirror host: full-cap LCP -> guard refuses to strip
    assert out["https://mirror.net/x"]["text_extracted"] == mirror_text
    assert out["https://mirror.net/x"]["_template_removed"] == 0
    # single-doc host untouched
    assert out["https://solo.io/only"]["text_extracted"].startswith("WELCOME")


def test_curate_strips_cross_document_repeated_span(spark):
    """Two otherwise-distinct survivors share one 10-token span: the
    span-dedup stage must blank it from BOTH carriers and leave the
    unique remainder byte-intact."""
    from jobs.curate import strip_repeated_spans

    shared = " ".join(f"viral{i}" for i in range(10))
    a_head = " ".join(f"aa{i % 23} bb{i % 7} cc" for i in range(40))
    b_tail = " ".join(f"xx{i % 19} yy{i % 5} zz" for i in range(40))
    rows = [
        ("https://t/a", f"{a_head} {shared}"),
        ("https://t/b", f"{shared} {b_tail}"),
        ("https://t/c", "entirely different words " + " ".join(
            f"qq{i}" for i in range(30))),
    ]
    df = spark.createDataFrame(rows, "url string, text_extracted string")
    out = {r.url: r.asDict() for r in strip_repeated_spans(df).collect()}

    assert out["https://t/a"]["_tok_removed"] == 10
    assert out["https://t/b"]["_tok_removed"] == 10
    assert out["https://t/c"]["_tok_removed"] == 0
    assert out["https://t/a"]["text_extracted"] == a_head
    assert out["https://t/b"]["text_extracted"] == b_tail
    assert out["https://t/c"]["text_extracted"] == rows[2][1]
    assert out["https://t/a"]["_n_tok"] == len(a_head.split())


def test_with_host_rank_attaches_authority_prior(spark):
    """--host-ranks: each curated row gains its url host's pagerank as
    host_rank_e9 (0 for hosts absent from the rank table); rows are
    never dropped or duplicated by the broadcast left join."""
    from jobs.curate import with_host_rank

    extracted = run_extract(_pages(spark))
    curated, _ = curate(extracted)
    before = {r.url for r in curated.select("url").collect()}

    ranks = spark.createDataFrame(
        [("t", 123456789, 4)],
        "host string, pagerank_e9 long, out_degree long",
    )
    got = with_host_rank(curated, ranks)
    rows = got.select("url", "host_rank_e9").collect()
    assert {r.url for r in rows} == before
    assert len(rows) == len(before)
    # every fixture url lives on host "t"
    assert all(r.host_rank_e9 == 123456789 for r in rows)

    empty = spark.createDataFrame(
        [], "host string, pagerank_e9 long, out_degree long"
    )
    rows0 = with_host_rank(curated, empty).select("host_rank_e9").collect()
    assert all(r.host_rank_e9 == 0 for r in rows0)


def test_with_host_rank_passes_harmonic_through(spark):
    """A rank table from linkrank --harmonic also contributes
    host_harmonic_e6 (absent hosts get 0); without the column the
    curated schema is unchanged."""
    from jobs.curate import with_host_rank

    extracted = run_extract(_pages(spark))
    curated, _ = curate(extracted)

    with_h = spark.createDataFrame(
        [("t", 123456789, 4, 2500000)],
        "host string, pagerank_e9 long, out_degree long, harmonic_e6 long",
    )
    got = with_host_rank(curated, with_h)
    rows = got.select("host_rank_e9", "host_harmonic_e6").collect()
    assert all(
        r.host_rank_e9 == 123456789 and r.host_harmonic_e6 == 2500000
        for r in rows
    )

    without = spark.createDataFrame(
        [("t", 123456789, 4)],
        "host string, pagerank_e9 long, out_degree long",
    )
    assert "host_harmonic_e6" not in with_host_rank(curated, without).columns
