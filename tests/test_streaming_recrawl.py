"""Streaming recrawl monitor: added/changed/unchanged transitions
across micro-batches, event-time TTL eviction surfacing `stale`
verdicts, replay idempotence, and agreement with the statuses of a
batch diff of two crawls (added / unchanged / changed per url).

Assertions key on per-url verdict SEQUENCES (ordered by batch id),
not absolute batch ids — with event-time timeouts the microbatch
engine interleaves watermark-commit batches, so data batch numbering
is a checkpoint implementation detail.
"""

import datetime
import glob
import os

import pytest

pyspark = pytest.importorskip("pyspark")

from pdf_parser_spark.streaming.recrawl import (  # noqa: E402
    freshness_report,
    stream_recrawl,
)

_T0 = datetime.datetime(2025, 1, 1)


def _ts(seconds: int) -> datetime.datetime:
    return _T0 + datetime.timedelta(seconds=seconds)


@pytest.fixture(scope="module")
def spark():
    from pdf_parser_spark.spark.session import build_session

    s = build_session(
        "stream-recrawl-tests", master="local[4]", shuffle_partitions=8
    )
    yield s
    s.stop()


def _write_pages(spark, path, rows):
    """rows: [(url, payload_bytes, event_ts)]"""
    df = spark.createDataFrame(
        [(u, t, bytearray(p), "", "en") for u, p, t in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    df.coalesce(1).write.parquet(path)


def _history(spark, out):
    """url -> [status, ...] ordered by batch id."""
    rows = spark.read.parquet(f"{out}/verdicts").collect()
    hist: dict[str, list[tuple[int, int, str]]] = {}
    for r in rows:
        hist.setdefault(r.url, []).append((r.batch_id, r.seq, r.status))
    return {u: [s for _, _, s in sorted(v)] for u, v in hist.items()}


def test_status_transitions_across_batches(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("sr1"))
    inp, out, cp = f"{base}/in", f"{base}/out", f"{base}/cp"

    _write_pages(spark, f"{inp}/f0",
                 [("u1", b"v1", _ts(0)), ("u2", b"v1", _ts(0))])
    stream_recrawl(spark, f"{inp}/*/", out, cp, max_files_per_trigger=1)
    assert _history(spark, out) == {"u1": ["added"], "u2": ["added"]}

    # second crawl: u1 unchanged, u2 changed, u3 new
    _write_pages(spark, f"{inp}/f1",
                 [("u1", b"v1", _ts(10)), ("u2", b"v2", _ts(10)),
                  ("u3", b"v1", _ts(10))])
    stream_recrawl(spark, f"{inp}/*/", out, cp, max_files_per_trigger=1)
    assert _history(spark, out) == {
        "u1": ["added", "unchanged"],
        "u2": ["added", "changed"],
        "u3": ["added"],
    }

    latest = {r.url: r.status for r in freshness_report(spark, out).collect()}
    assert latest == {"u1": "unchanged", "u2": "changed", "u3": "added"}


def test_event_time_ttl_eviction_emits_stale(spark, tmp_path_factory):
    """TTL = 10 s of CRAWL time.  u1 is crawled at t=0 and never again;
    u2 keeps being recrawled.  Once the watermark (driven by later
    crawls) passes t=10 s, u1 must surface exactly once as `stale` and
    then re-enter as `added` if crawled afresh."""
    base = str(tmp_path_factory.mktemp("sr2"))
    inp, out, cp = f"{base}/in", f"{base}/out", f"{base}/cp"
    ttl_ms = 10_000

    _write_pages(spark, f"{inp}/f0",
                 [("u1", b"v1", _ts(0)), ("u2", b"v1", _ts(0))])
    # t=30: only u2 recrawled; watermark after this batch = 30 s
    _write_pages(spark, f"{inp}/f1", [("u2", b"v2", _ts(30))])
    # t=60: a later batch evaluates timers against watermark 30 > 10
    _write_pages(spark, f"{inp}/f2", [("u2", b"v2", _ts(60))])
    stream_recrawl(spark, f"{inp}/*/", out, cp, ttl_ms=ttl_ms,
                   max_files_per_trigger=1)
    h = _history(spark, out)
    assert h["u2"] == ["added", "changed", "unchanged"]
    assert h["u1"] == ["added", "stale"]  # exactly once, after eviction

    # after eviction the url re-enters as `added`
    _write_pages(spark, f"{inp}/f3", [("u1", b"v1", _ts(90))])
    stream_recrawl(spark, f"{inp}/*/", out, cp, ttl_ms=ttl_ms,
                   max_files_per_trigger=1)
    assert _history(spark, out)["u1"] == ["added", "stale", "added"]


def test_replay_is_idempotent(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("sr3"))
    inp, out, cp = f"{base}/in", f"{base}/out", f"{base}/cp"

    _write_pages(spark, f"{inp}/f0", [("u1", b"v1", _ts(0))])
    stream_recrawl(spark, f"{inp}/*/", out, cp, max_files_per_trigger=1)
    before = sorted(
        tuple(r) for r in spark.read.parquet(f"{out}/verdicts").collect()
    )
    # delete the checkpoint's commit marker for batch 0 -> replay
    commits = glob.glob(f"{cp}/commits/0")
    assert commits
    os.remove(commits[0])
    stream_recrawl(spark, f"{inp}/*/", out, cp, max_files_per_trigger=1)
    after = sorted(
        tuple(r) for r in spark.read.parquet(f"{out}/verdicts").collect()
    )
    assert before == after


def test_within_batch_recrawls_report_true_latest(spark, tmp_path_factory):
    """Two recrawls of one url inside ONE micro-batch: the freshness
    report must carry the verdict of the LAST arrival in crawl order
    ("changed"), not the lexicographically greatest status string
    ("unchanged" > "changed")."""
    base = str(tmp_path_factory.mktemp("sr5"))
    inp, out, cp = f"{base}/in", f"{base}/out", f"{base}/cp"

    _write_pages(spark, f"{inp}/f0", [("u1", b"v1", _ts(0))])
    # one batch, two recrawls: same body at t=10, new body at t=11
    _write_pages(spark, f"{inp}/f1",
                 [("u1", b"v1", _ts(10)), ("u1", b"v2", _ts(11))])
    stream_recrawl(spark, f"{inp}/*/", out, cp, max_files_per_trigger=1)
    assert _history(spark, out)["u1"] == ["added", "unchanged", "changed"]
    latest = {r.url: r.status for r in freshness_report(spark, out).collect()}
    assert latest["u1"] == "changed"

    # and the reverse order within one batch must report "unchanged"
    _write_pages(spark, f"{inp}/f2",
                 [("u1", b"v3", _ts(20)), ("u1", b"v3", _ts(21))])
    stream_recrawl(spark, f"{inp}/*/", out, cp, max_files_per_trigger=1)
    latest = {r.url: r.status for r in freshness_report(spark, out).collect()}
    assert latest["u1"] == "unchanged"


def test_late_arrival_behind_watermark_does_not_kill_query(
    spark, tmp_path_factory
):
    """An ordinary late-landing file whose event times are already
    older than watermark - TTL must not fail the query (the raw
    timeout timestamp would be earlier than the watermark, which Spark
    rejects); the url is simply due immediately and goes stale on the
    next watermark advance."""
    base = str(tmp_path_factory.mktemp("sr6"))
    inp, out, cp = f"{base}/in", f"{base}/out", f"{base}/cp"
    ttl_ms = 10_000

    # batch 0 drives the watermark to t=100
    _write_pages(spark, f"{inp}/f0", [("u2", b"v1", _ts(100))])
    # batch 1: u1 lands LATE with ts=5; 5s + 10s TTL << watermark 100s
    _write_pages(spark, f"{inp}/f1", [("u1", b"v1", _ts(5))])
    # batch 2 advances the watermark past the clamped timer
    _write_pages(spark, f"{inp}/f2", [("u2", b"v1", _ts(200))])
    stream_recrawl(spark, f"{inp}/*/", out, cp, ttl_ms=ttl_ms,
                   max_files_per_trigger=1)
    h = _history(spark, out)
    assert h["u1"] == ["added", "stale"]
    assert h["u2"][0] == "added"


def test_agrees_with_batch_crawl_delta_semantics(spark, tmp_path_factory):
    """Feed two crawls as two micro-batches (one page per url per
    crawl).  For every url present in the new crawl, the stream's
    second verdict must equal the batch diff's status: added when the
    url is new, unchanged or changed by its content signature."""
    base = str(tmp_path_factory.mktemp("sr4"))
    inp, out, cp = f"{base}/in", f"{base}/out", f"{base}/cp"

    old = [("u1", b"same", _ts(0)), ("u2", b"old-body", _ts(0))]
    new = [("u1", b"same", _ts(10)), ("u2", b"new-body", _ts(10)),
           ("u4", b"x", _ts(10))]
    _write_pages(spark, f"{inp}/f0", old)
    _write_pages(spark, f"{inp}/f1", new)
    stream_recrawl(spark, f"{inp}/*/", out, cp, max_files_per_trigger=1)
    h = _history(spark, out)
    # batch-diff statuses for urls in the new crawl
    assert h["u1"] == ["added", "unchanged"]
    assert h["u2"] == ["added", "changed"]
    assert h["u4"] == ["added"]
