"""Streaming MinHash-LSH near-dup admission: cross-batch detection,
batch⇄stream signature agreement, TTL state eviction re-admitting
post-window near-dups, short-doc bypass, replay idempotence, and the
keeper-only verdict of one bucket."""

import datetime

import pandas as pd
import pytest

pyspark = pytest.importorskip("pyspark")

from pyspark.sql import functions as F  # noqa: E402

from pdf_parser_spark.ops.dedup import (  # noqa: E402
    LSH_ROWS,
    MINHASH_K,
    _make_sig_udf,
)
from pdf_parser_spark.streaming.neardup import (  # noqa: E402
    SIM_THRESHOLD_16,
    _neardup_group,
    admission_report,
    stream_neardup,
)

_T0 = datetime.datetime(2025, 1, 1)

# long near-identical pair: B is A with ONE token appended
_A = " ".join(f"tok{i % 37} word{i % 11} filler" for i in range(80))
_B = _A + " extra"
# unrelated long doc
_C = " ".join(f"zz{i % 29} qq{i % 13} mm{i % 7}" for i in range(80))


def _ts(seconds: int) -> datetime.datetime:
    return _T0 + datetime.timedelta(seconds=seconds)


@pytest.fixture(scope="module")
def spark():
    from pdf_parser_spark.spark.session import build_session

    s = build_session(
        "stream-neardup-tests", master="local[4]", shuffle_partitions=8
    )
    yield s
    s.stop()


def _write_pages(spark, path, rows):
    """rows: [(url, text, event_ts)]"""
    df = spark.createDataFrame(
        [(u, t, bytearray(x.encode()), "", "en") for u, x, t in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    df.coalesce(1).write.parquet(path)


def _verdict(spark, out):
    return {r.url: r.asDict() for r in admission_report(spark, out).collect()}


def test_cross_batch_near_dup_detected(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("nd1"))
    inp, out, cp = f"{base}/in", f"{base}/out", f"{base}/cp"

    _write_pages(spark, f"{inp}/f0", [("a", _A, _ts(0)), ("c", _C, _ts(0))])
    stream_neardup(spark, f"{inp}/*/", out, cp, max_files_per_trigger=1)
    v = _verdict(spark, out)
    assert v["a"]["admitted"] and v["c"]["admitted"]

    # batch 2: b is a near-dup of a (seen last batch); d is novel
    _write_pages(spark, f"{inp}/f1", [("b", _B, _ts(10)), ("d", _C + " x", _ts(10))])
    stream_neardup(spark, f"{inp}/*/", out, cp, max_files_per_trigger=1)
    v = _verdict(spark, out)
    assert not v["b"]["admitted"]
    assert v["b"]["matched_keeper"] == "a"
    # d collides with c's buckets but c IS its near-dup too — verify
    # the verdict agrees with the signature-level estimate
    sig_udf = _make_sig_udf()
    sigs = {
        r.u: list(r.s)
        for r in spark.createDataFrame(
            [("c", _C), ("d", _C + " x")], "u string, t string"
        ).select("u", sig_udf(F.col("t")).alias("s")).collect()
    }
    sim = sum(1 for x, y in zip(sigs["c"], sigs["d"]) if x == y)
    assert v["d"]["admitted"] == (sim < SIM_THRESHOLD_16)


def test_stream_signatures_match_batch_udf(spark, tmp_path_factory):
    """The keeper signatures banked in stream state are the SAME
    16-perm MinHash the batch ops compute — pinned via the emitted
    sim_16 of an exact duplicate (must be 16/16)."""
    base = str(tmp_path_factory.mktemp("nd2"))
    inp, out, cp = f"{base}/in", f"{base}/out", f"{base}/cp"
    _write_pages(spark, f"{inp}/f0", [("a", _A, _ts(0))])
    _write_pages(spark, f"{inp}/f1", [("a2", _A, _ts(5))])
    stream_neardup(spark, f"{inp}/*/", out, cp)
    rows = spark.read.parquet(f"{out}/verdicts")
    dup_rows = rows.filter(
        (F.col("url") == "a2") & (F.col("band_id") >= 0)
    ).collect()
    assert dup_rows and all(r.sim_16 == MINHASH_K for r in dup_rows)


def test_ttl_eviction_readmits_after_window(spark, tmp_path_factory):
    """TTL = 10 s of crawl time: a's buckets are evicted once the
    watermark passes t=10, so a near-dup arriving AFTER the window is
    admitted (per-window dedup scope)."""
    base = str(tmp_path_factory.mktemp("nd3"))
    inp, out, cp = f"{base}/in", f"{base}/out", f"{base}/cp"
    ttl_ms = 10_000

    _write_pages(spark, f"{inp}/f0", [("a", _A, _ts(0))])
    stream_neardup(spark, f"{inp}/*/", out, cp, ttl_ms=ttl_ms,
                   max_files_per_trigger=1)
    # advance the watermark far past a's TTL with an unrelated doc
    _write_pages(spark, f"{inp}/f1", [("c", _C, _ts(60))])
    stream_neardup(spark, f"{inp}/*/", out, cp, ttl_ms=ttl_ms,
                   max_files_per_trigger=1)
    # b would be rejected inside the window; after eviction it opens
    # fresh buckets and is admitted
    _write_pages(spark, f"{inp}/f2", [("b", _B, _ts(70))])
    stream_neardup(spark, f"{inp}/*/", out, cp, ttl_ms=ttl_ms,
                   max_files_per_trigger=1)
    v = _verdict(spark, out)
    assert v["b"]["admitted"], v["b"]


def test_short_docs_bypass_and_admit(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("nd4"))
    inp, out, cp = f"{base}/in", f"{base}/out", f"{base}/cp"
    _write_pages(spark, f"{inp}/f0",
                 [("s1", "too short", _ts(0)), ("s2", "too short", _ts(0))])
    stream_neardup(spark, f"{inp}/*/", out, cp)
    v = _verdict(spark, out)
    # identical but unshingleable: both admitted via the bypass branch
    assert v["s1"]["admitted"] and v["s2"]["admitted"]
    rows = spark.read.parquet(f"{out}/verdicts").collect()
    assert all(r.band_id == -1 for r in rows)


def test_binary_payloads_bypass_instead_of_killing_the_query(
    spark, tmp_path_factory
):
    """A non-UTF8 payload (a PDF) must not fail the stream: strict
    decode throws MALFORMED_CHARACTER_CODING and even a lenient cast
    breaks the Arrow transfer into the signature UDF.  Binary docs
    route to the bypass branch (admitted) — content-hash dedup covers
    them, text LSH does not."""
    base = str(tmp_path_factory.mktemp("nd6"))
    inp, out, cp = f"{base}/in", f"{base}/out", f"{base}/cp"
    pdf = b"%PDF-1.4\n\x80\x81\xfe\xff binary body \x00\x01"
    df = spark.createDataFrame(
        [("pdfdoc", _ts(0), bytearray(pdf), "", "en"),
         ("textdoc", _ts(0), bytearray(_A.encode()), "", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    df.coalesce(1).write.parquet(f"{inp}/f0")
    stream_neardup(spark, f"{inp}/*/", out, cp)
    v = _verdict(spark, out)
    assert v["pdfdoc"]["admitted"]
    assert v["textdoc"]["admitted"]
    rows = spark.read.parquet(f"{out}/verdicts")
    assert rows.filter(
        (F.col("url") == "pdfdoc") & (F.col("band_id") == -1)
    ).count() == 1


def test_replay_is_idempotent(spark, tmp_path_factory):
    """Wiping the checkpoint and re-draining the same input must not
    duplicate or flip verdicts (batch_id partitions are overwritten,
    committed batches replay through the noop sink)."""
    import shutil

    base = str(tmp_path_factory.mktemp("nd5"))
    inp, out, cp = f"{base}/in", f"{base}/out", f"{base}/cp"
    _write_pages(spark, f"{inp}/f0", [("a", _A, _ts(0)), ("b", _B, _ts(1))])
    stream_neardup(spark, f"{inp}/*/", out, cp)
    before = _verdict(spark, out)
    shutil.rmtree(cp)
    stream_neardup(spark, f"{inp}/*/", out, cp)
    after = _verdict(spark, out)
    assert before == after
    assert not after["b"]["admitted"]


class _StubState:
    """The slice of ``GroupState`` that ``_neardup_group`` touches: a
    fresh bucket, no timeout, watermark at 0."""

    hasTimedOut = False
    exists = False

    def update(self, value):
        self.value = value

    def setTimeoutTimestamp(self, ts):
        self.timeout = ts

    def getCurrentWatermarkMs(self):
        return 0


def test_bucket_verdict_compares_against_the_opener_only():
    """One band-0 bucket holds A (the opener), then B and C.  A shares
    only the band rows with B and with C; B and C agree in 12 of 16
    positions, a near-dup pair.  C is measured against A alone, reads
    4 < 8 and is admitted: the keeper-only approximation the module
    docstring states."""
    band = list(range(LSH_ROWS))
    a = band + [100 + i for i in range(MINHASH_K - LSH_ROWS)]
    b = band + [200 + i for i in range(MINHASH_K - LSH_ROWS)]
    c = band + [200 + i for i in range(8)] + [300 + i for i in range(4)]
    assert sum(x == y for x, y in zip(b, c)) >= SIM_THRESHOLD_16
    batch = pd.DataFrame({
        "url": ["u/a", "u/b", "u/c"],
        "warc_ts": [pd.Timestamp(_ts(s)) for s in (0, 1, 2)],
        "sig": [a, b, c],
    })
    state = _StubState()
    key = (0, ",".join(map(str, band)))
    (out,) = list(_neardup_group(ttl_ms=1000)(key, iter([batch]), state))
    rows = {r.url: r for r in out.itertuples()}

    assert rows["u/a"].is_keeper and rows["u/a"].sim_16 == MINHASH_K
    for u in ("u/b", "u/c"):
        assert rows[u].keeper_url == "u/a" and not rows[u].is_keeper
        assert rows[u].sim_16 == LSH_ROWS < SIM_THRESHOLD_16
    # the bucket keeps the opener's signature only
    assert state.value[:2] == ("u/a", ",".join(map(str, a)))
