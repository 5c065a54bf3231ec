"""End-to-end curation funnel over extracted pages: decode-error
drop, quality floor, exact dedup (min-url keeper), MinHash-LSH
near-dup collapse (keep-BEST-quality member, ties to min url), and
the funnel lineage report."""

import datetime
import gc
import json
import os
import re
import subprocess
import sys

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
    without its observations or its checkpoints."""
    from jobs import curate as C

    df = C.url_admission(extracted).filter(F.col("decode_error").isNull())
    df = C.quality_floor(C.add_features(C.strip_host_templates(df)))
    return C.strip_repeated_spans(C.neardup_collapse(C.exact_dedup(df), df))


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


def test_curate_cli_end_to_end(spark, tmp_path):
    """jobs/curate.py as submitted: funnel.json's composition covers
    exactly the written rows (it sums to the funnel's last stage) and
    agrees with an aggregate of the written data per doc_type."""
    from fixtures.gen import build_pdf_corpus

    pdfs = build_pdf_corpus()
    pdf_rows = [
        (f"https://t/{name}.pdf", _TS, bytearray(pdfs[name]), "", "en")
        for name in ("headings-page", "paragraph-gaps")
    ]
    pages = _pages(spark).unionByName(
        spark.createDataFrame(pdf_rows, PAGES_STREAM_SCHEMA)
    )
    inp, out = str(tmp_path / "extracted"), str(tmp_path / "curated")
    run_extract(pages, fmt="txt", threshold=100_000).write.parquet(inp)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [sys.executable, os.path.join(repo, "jobs", "curate.py"),
         "--input", inp, "--output", out, "--master", "local[2]"],
        capture_output=True, text=True, timeout=300,
        env={**os.environ, "SPARK_GRAFT_CPUS": "2"},
    )
    assert r.returncode == 0, r.stderr[-2000:]
    report = json.load(open(f"{out}/funnel.json"))
    comp = sorted(report["composition"], key=lambda c: c["doc_type"])
    assert sum(c["rows"] for c in comp) == report["funnel"][-1]["rows"] == 5
    written = (
        spark.read.parquet(f"{out}/data")
        .groupBy("doc_type")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum("n_tokens").alias("tokens"),
            F.sum("span_tokens_removed").alias("span_tokens_removed"),
        )
        .orderBy("doc_type")
    )
    assert comp == [w.asDict() for w in written.collect()]
    assert [c["doc_type"] for c in comp] == ["html", "pdf"]


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
    from pdf_parser_spark.ops.urlquality import spam_feature_sql

    df = spark.createDataFrame(
        [("",), ("https://t/p/920357102968457/item/4459817236",)], "url string"
    )
    feats = spam_feature_sql("url")
    row = df.filter(F.col("url") == "").selectExpr(
        f"{feats['digit_ppm']} AS ppm", f"{feats['spam_score']} AS score"
    ).first()
    assert (row.ppm, row.score) == (0, 0)
    assert [r.url for r in url_admission(df).collect()] == [""]


def test_curate_keys_drops_by_row_not_by_url(spark):
    """Two rows of one url are two documents.  With one text, exact
    dedup keeps one of them and its text stays whole (were the copies
    both kept, every 8-gram would be repeated and the span strip would
    blank both).  With two texts, both rows survive untouched: no
    stage drops a row because another row of its url lost."""
    twin_a = " ".join(f"lorem{i} ipsum{i % 3} dolor" for i in range(30))
    twin_b = " ".join(f"sitamet{i} consec{i % 4} adipis" for i in range(30))

    def page(url, text):
        return (url, _TS, bytearray(
            b"<html><body><p>" + text.encode() + b"</p></body></html>"), "", "en")

    base = _pages(spark)
    extra = [r for r in base.collect() if r.url == "https://t/unique"]
    extra += [page("https://t/twin", twin_a), page("https://t/twin", twin_b)]
    pages = base.unionByName(spark.createDataFrame(extra, PAGES_STREAM_SCHEMA))
    curated, funnel = curate(run_extract(pages, fmt="txt", threshold=100_000))
    rows = curated.select("url", "text_extracted", "_tok_removed").collect()

    unique = [r for r in rows if r.url == "https://t/unique"]
    assert len(unique) == 1 and unique[0]._tok_removed == 0
    twins = sorted(r.text_extracted.strip() for r in rows
                   if r.url == "https://t/twin")
    assert twins == sorted([twin_a, twin_b])
    assert all(r._tok_removed == 0 for r in rows)
    stages = {f["stage"]: f["rows"] for f in funnel}
    assert stages["quality"] == 8
    assert stages["exact_dedup"] == 6    # dup-b and the second unique
    assert stages["span_dedup"] == 5     # near-a dropped


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
    from jobs.curate import add_features, strip_repeated_spans

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
    feats = add_features(df).localCheckpoint(eager=True)
    out = {r.url: r.asDict() for r in strip_repeated_spans(feats).collect()}

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


def test_feature_udf_matches_spark_definitions(spark):
    """The feature UDF reproduces, field by field, the Spark column
    definitions it replaced: ``size(tokens())``, the ``rlike`` alpha
    count with the ``/``-based floor, ``q_int`` from
    ``quality_features``, and the signature and gram UDFs."""
    from jobs.curate import MIN_TOKENS, _make_feature_udf
    from pdf_parser_spark.ops.common import tokens
    from pdf_parser_spark.ops.dedup import _make_sig_udf
    from pdf_parser_spark.ops.substring import _make_gram_udf
    from pdf_parser_spark.ops.textstats import STOPWORDS, quality_features

    texts = [
        None,
        "",
        "    ",
        "  lead  runs   of    spaces trail  ",
        "one",                                  # 1-2 tokens: < SHINGLE_N
        "one two",
        "one two three",                        # 3-7 tokens: < GRAM_N
        "alpha beta gamma delta eps zeta eta",
        " ".join(f"w{i % 17}" for i in range(50)),  # length_sat == 1
        " ".join(STOPWORDS * 3),
        "café naïve 東京 straße ñandú ünïcödé ok",
        "東京 大阪 京都 札幌 福岡 神戸",      # no ASCII letter
        "a1 b2 c3 11 22 33 44",                # n_tok 7, n_alpha 3
        "a1 b2 c3 11 22 33",                   # n_tok 6, n_alpha 3
        _LONG,
    ]
    # (n_tok, distinct, stopwords) whose score lands on a rounding edge:
    # summing the three quality terms in another order moves q_int by 1
    for n_tok, distinct, n_stop in ((16, 7, 1), (32, 26, 3), (48, 15, 3)):
        words = STOPWORDS[:n_stop] + [f"w{i}" for i in range(distinct - n_stop)]
        texts.append(" ".join(words + [words[-1]] * (n_tok - distinct)))
    df = spark.createDataFrame(list(enumerate(texts)), "i int, t string")
    tok = tokens(F.col("t"))
    n = F.size(tok)
    alpha = F.size(F.filter(tok, lambda w: w.rlike("[A-Za-z]")))
    stop_ratio, diversity, length_sat = quality_features(tok)
    q_int = F.floor(
        (0.4 * stop_ratio + 0.3 * diversity + 0.3 * length_sat) * 10000.0
        + 0.5
    ).cast("long")
    old = df.select(
        "i",
        n.alias("n_tok"),
        F.coalesce(
            (n >= MIN_TOKENS) & (alpha / n >= 0.5), F.lit(False)
        ).alias("keep"),
        F.when(n > 0, -q_int).alias("nq"),
        _make_sig_udf()(F.col("t")).alias("sig"),
        _make_gram_udf()(F.col("t")).alias("grams"),
    )
    new = df.select("i", _make_feature_udf()(F.col("t")).alias("f")).select(
        "i", "f.*"
    )
    assert new.columns == old.columns
    want = {r.i: r.asDict() for r in old.collect()}
    got = {r.i: r.asDict() for r in new.collect()}
    assert set(got) == set(want) == set(range(len(texts)))
    for i in want:
        for field in old.columns:
            assert got[i][field] == want[i][field], (texts[i], field)
    # the fixture reaches both sides of the floor and of each guard
    assert {r["keep"] for r in got.values()} == {True, False}
    assert got[12]["keep"] is False and got[13]["keep"] is True
    assert any(r["sig"] and not r["grams"] for r in got.values())


def _curate_executions(spark, tmp_path) -> list[int]:
    """Run ``curate()`` over the funnel fixture, read back from parquet,
    and return the ids of the SQL executions it ran."""
    extracted = run_extract(_pages(spark), fmt="txt", threshold=100_000)
    src = str(tmp_path / "extracted")
    extracted.write.parquet(src)
    sql = spark._jsparkSession.sharedState().statusStore()

    def executions():
        seq = sql.executionsList()
        return [seq.apply(i).executionId() for i in range(seq.size())]

    mark = max(executions(), default=-1)
    curate(spark.read.parquet(src))
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return [eid for eid in executions() if eid > mark]


def test_curate_runs_each_python_udf_once_before_any_shuffle(spark, tmp_path):
    """In curate's executed plans the feature UDF and the rebuild UDF
    each appear once, and the feature UDF runs in the scan's
    partitions: no shuffle Exchange below it (the host-template
    table reaches it through a broadcast)."""
    sql = spark._jsparkSession.sharedState().statusStore()
    udf_nodes = {"features": [], "rebuild": []}
    for eid in _curate_executions(spark, tmp_path):
        graph = sql.planGraph(eid)
        nodes = {
            n.id(): n
            for n in (graph.allNodes().apply(i)
                      for i in range(graph.allNodes().size()))
        }
        children: dict[int, list[int]] = {}
        for e in (graph.edges().apply(i) for i in range(graph.edges().size())):
            children.setdefault(e.toId(), []).append(e.fromId())
        for nid, node in nodes.items():
            if node.name() != "ArrowEvalPython":
                continue
            for name in udf_nodes:
                if f"[{name}(" in node.desc():
                    udf_nodes[name].append((nodes, children, nid))
    assert {k: len(v) for k, v in udf_nodes.items()} == {
        "features": 1, "rebuild": 1
    }

    nodes, children, root = udf_nodes["features"][0]
    below, stack = set(), [root]
    while stack:
        for c in children.get(stack.pop(), []):
            if c not in below and nodes[c].name() != "BroadcastExchange":
                below.add(c)
                stack.append(c)
    assert any("Scan" in nodes[c].name() for c in below)
    assert not any(nodes[c].name() == "Exchange" for c in below)


def test_curate_shuffles_no_text_after_the_feature_checkpoint(spark, tmp_path):
    """curate's second execution (quality floor through span strip)
    decides every drop on relations without text: no shuffle Exchange
    in its plan outputs ``text_extracted``, and exact dedup's md5
    exchange carries only the row id, the digest and the keeper's sort
    key.  The full rows meet the loser sets and the hit positions
    through joins that AQE broadcasts here; at scale, when a loser set
    is large, AQE may pick a sort-merge join instead, and that
    shuffles the rows."""
    sql = spark._jsparkSession.sharedState().statusStore()
    plans = [sql.execution(eid).get().physicalPlanDescription()
             for eid in _curate_executions(spark, tmp_path)]
    second = [p for p in plans if "rebuild(" in p]
    assert len(second) == 1
    # the formatted plan lists each operator as "(n) Name", then its
    # "Input [k]: [...]" and "Arguments: ..." lines
    exchanges = re.findall(
        r"^\(\d+\) Exchange\nInput \[\d+\]: \[(.*)\]\nArguments: (.*)$",
        second[0], re.M,
    )
    assert exchanges
    for cols, _ in exchanges:
        assert "text_extracted#" not in cols, cols
    md5 = [set(re.sub(r"#\d+L?", "", cols).split(", "))
           for cols, args in exchanges if args.startswith("hashpartitioning(_md5#")]
    # the third column is the (url, _id) key min_by orders by
    assert md5 and all({"_id", "_md5"} <= c and len(c) == 3 for c in md5)


def test_curate_builds_its_plans_in_few_jvm_round_trips(spark, tmp_path, monkeypatch):
    """Building and running curate's plans on the funnel fixture takes
    a bounded number of py4j round trips: SQL-text expressions and
    one-call projections, not one call per Column operator (about
    2,800 round trips before they were; about 600 with them)."""
    import py4j.clientserver as cs

    extracted = run_extract(_pages(spark), fmt="txt", threshold=100_000)
    src = str(tmp_path / "extracted")
    extracted.write.parquet(src)
    df = spark.read.parquet(src)
    calls = [0]
    send = cs.ClientServerConnection.send_command

    def counted(self, *args, **kwargs):
        calls[0] += 1
        return send(self, *args, **kwargs)

    # a cyclic-GC pass would release JVM objects of earlier tests
    # (one round trip each) inside the counted window
    gc.collect()
    gc.disable()
    monkeypatch.setattr(cs.ClientServerConnection, "send_command", counted)
    try:
        _, funnel = curate(df)
    finally:
        monkeypatch.undo()
        gc.enable()
    assert funnel[-1]["rows"] == 3
    assert calls[0] <= 1000


def test_feature_kernel_matches_the_hash_spec():
    """The one-pass feature kernel cuts the signature and the 8-gram
    hashes from one tokenisation; both equal the shared spec
    (``minhash_signature``, ``_gram_hashes``) and the h32 hex spelling
    the oracles use: md5 hex prefix of each single-spaced gram, the
    signature a min over the DISTINCT shingle hashes."""
    import hashlib

    from jobs.curate import doc_features
    from pdf_parser_spark.ops.dedup import (
        MINHASH_K,
        SHINGLE_N,
        _perm,
        minhash_signature,
    )
    from pdf_parser_spark.ops.substring import GRAM_N, _gram_hashes

    def h32(gram: str) -> int:
        return int(hashlib.md5(gram.encode("utf-8")).hexdigest()[:8], 16)

    def grams(toks: list[str], n: int) -> list[str]:
        return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]

    texts = [
        "",
        "  ",
        "one",
        "one two",                                   # < SHINGLE_N tokens
        "one two three",
        "  lead  doubled   spaces trail  ",          # < GRAM_N tokens
        "a b c d e f g h",                           # exactly GRAM_N
        "  one two  three four five six seven eight nine  ",
        "café naïve 東京 straße ñandú ünïcödé ok\tx y\nz end",
        "東京 大阪 京都 札幌 福岡 神戸 名古屋 横浜 仙台",
        " ".join(["rep eat"] * 30),                  # shingles repeat
        _LONG,
    ]
    for t in texts:
        toks = [w for w in t.split(" ") if w]
        n_tok, _, _, sig, gram_hashes = doc_features(t)
        assert n_tok == len(toks), t
        shingle_set = {h32(g) for g in grams(toks, SHINGLE_N)}
        want_sig = [min(_perm(h, i) for h in shingle_set)
                    for i in range(MINHASH_K)] if shingle_set else []
        assert sig == minhash_signature(t) == want_sig, t
        want_grams = [h32(g) for g in grams(toks, GRAM_N)]
        assert gram_hashes == _gram_hashes(t) == want_grams, t
    assert doc_features(None) == (None, False, None, [], [])
