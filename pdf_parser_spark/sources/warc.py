"""WARC source: read Common-Crawl-style WARC files into the pages
table shape ``(url, warc_ts, html, text, lang)``.

The reference reads one PDF per process invocation (main.rs:67-73);
at crawl scale the raw bytes land as WARC archives (ISO 28500), so the
engine needs a WARC → pages-table ingest path.  Spark-first design:

* ``spark.read.format("binaryFile")`` lists and reads whole WARC
  files — files are the parallel unit (a WARC member is not
  split-able mid-record), exactly how Common Crawl ships segments.
* **Size-classed routing** mirrors ``spark.job.run_extract``: the
  binaryFile scan bin-packs small files per task, but one multi-GB
  archive in a packed partition is the skew unit at 100 TB.  Files
  above ``heavy_bytes`` are routed to their own repartitioned pass
  (≈ one file per task) BEFORE the fan-out UDF, so a giant archive
  never straggles a partition of small ones.  The routing predicate
  uses the scan's ``length`` metadata column — no bytes are read to
  classify.
* ``mapInPandas`` splits each archive into page rows — Arrow-batched,
  one Python call per batch of files, never per record.
* The parser is a small pure-Python record scanner (header block +
  Content-Length + double CRLF framing) with an embedded-HTTP-response
  body split for ``response`` records.  Gzip members
  (``.warc.gz`` multistream) are handled via ``zlib`` with the gzip
  wbits — C speed, same as the engine's FlateDecode path.

Only ``response``/``resource`` records become page rows; ``warcinfo``/
``request``/``metadata`` records are skipped.  **Malformed records are
row-level data, never task failures**: each framing error emits a
``warc_error`` row (kind + byte offset + source file) and the scanner
resyncs to the next ``WARC/`` magic, so one torn record costs one
record, not the rest of a multi-GB archive.  ``warc_lineage``
aggregates per-file record/page/error tallies — the same
error-column-then-groupBy discipline as the extraction job
(spark/job.py lineage()).
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import pandas as pd

CRLF = b"\r\n"

# file-size boundary between the bin-packed and one-file-per-task
# ingest classes (compressed bytes; a 64 MiB .warc.gz is ~250 MiB of
# records — minutes of scan work next to KB-scale peers)
DEFAULT_HEAVY_WARC_BYTES = 64 << 20

RAW_SCHEMA = (
    "url string, warc_ts_us long, html binary, text string, lang string, "
    "src_file string, rec_idx int, warc_error string"
)


def _gunzip_members(data: bytes) -> tuple[bytes, str | None]:
    """Concatenate all gzip members (CC WARCs are one member per
    record); plain data passes through.  TOTAL: a corrupt member stops
    decompression at the fault and reports it instead of raising —
    everything decoded so far still gets scanned, and a truncated
    final member passes its partial bytes through (the record scanner
    then reports ``truncated_body`` with an offset)."""
    if data[:2] != b"\x1f\x8b":
        return data, None
    out = []
    while data:
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        try:
            out.append(d.decompress(data))
        except zlib.error:
            return b"".join(out), "bad_gzip_member"
        if d.unused_data == data:  # no progress: malformed header
            return b"".join(out), "bad_gzip_member"
        data = d.unused_data
    return b"".join(out), None


def _resync(data: bytes, pos: int) -> int:
    """Next plausible record start at/after ``pos``; -1 when none.

    A record start is the ``WARC/`` magic at the top of the buffer or
    right after a CRLF — a bare ``find`` would bite on the string
    ``WARC/`` inside a record body.
    """
    n = len(data)
    while True:
        hit = data.find(b"WARC/", pos)
        if hit < 0:
            return -1
        if hit == 0 or data[hit - 2 : hit] == CRLF:
            return hit
        pos = hit + 5
        if pos >= n:
            return -1


def parse_warc(data: bytes) -> tuple[list[dict], list[dict]]:
    """Scan WARC records: ``(records, errors)``.

    ``records``: ``{headers: dict, body: bytes}`` per well-formed
    record.  ``errors``: ``{kind, offset}`` per framing fault —
    ``bad_magic`` (bytes where a version line should be),
    ``no_header_end`` (no blank line terminating the header block),
    ``bad_length`` (missing/non-integer Content-Length),
    ``truncated_body`` (fewer body bytes than declared),
    ``bad_gzip_member`` (corrupt gzip framing — records recovered
    before the fault are still scanned).  After any
    fault the scanner resyncs to the next line-initial ``WARC/``
    magic; faults at the true tail (no further record) consume the
    rest of the buffer.

    Framing per ISO 28500: ``WARC/1.x`` version line, header lines to
    a blank line, exactly ``Content-Length`` body bytes, then two
    CRLFs before the next record.
    """
    data, gz_err = _gunzip_members(data)
    records: list[dict] = []
    errors: list[dict] = []
    if gz_err is not None:
        # offset = decompressed bytes recovered before the fault
        errors.append({"kind": gz_err, "offset": len(data)})

    def fault(kind: str, at: int) -> int:
        errors.append({"kind": kind, "offset": at})
        return _resync(data, at + 1)

    pos = 0
    n = len(data)
    while 0 <= pos < n:
        # tolerate inter-record padding
        while pos < n and data[pos : pos + 2] == CRLF:
            pos += 2
        if pos >= n:
            break
        if not data[pos : pos + 5] == b"WARC/":
            pos = fault("bad_magic", pos)
            continue
        head_end = data.find(CRLF + CRLF, pos)
        if head_end < 0:
            pos = fault("no_header_end", pos)
            continue
        headers = {}
        lines = data[pos:head_end].split(CRLF)
        for line in lines[1:]:
            k, sep, v = line.partition(b":")
            if sep:
                headers[k.strip().decode("latin-1").lower()] = (
                    v.strip().decode("latin-1")
                )
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            pos = fault("bad_length", head_end)
            continue
        body_start = head_end + 4
        body = data[body_start : body_start + length]
        if len(body) < length:
            pos = fault("truncated_body", body_start)
            continue
        records.append({"headers": headers, "body": body})
        pos = body_start + length
    return records, errors


def _http_body(payload: bytes) -> bytes:
    """Split the HTTP response head off a ``response`` record body."""
    if payload[:5] in (b"HTTP/",):
        sep = payload.find(CRLF + CRLF)
        if sep >= 0:
            return payload[sep + 4 :]
    return payload


def _warc_ts_micros(value: str) -> int:
    """WARC-Date (ISO 8601 Zulu) → epoch micros; 0 if absent/bad."""
    try:
        from datetime import datetime, timedelta, timezone

        dt = datetime.fromisoformat(value.replace("Z", "+00:00"))
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        # exact integer micros (float .timestamp() rounds at ~1 us for
        # current epochs, breaking the WET write->read identity)
        epoch = datetime(1970, 1, 1, tzinfo=timezone.utc)
        return (dt - epoch) // timedelta(microseconds=1)
    except (ValueError, AttributeError):
        return 0


def warc_to_page_rows(data: bytes) -> list[tuple[str, int, bytes, str, str]]:
    """WARC bytes → pages-table rows (response/resource records only).
    Framing errors are dropped here — use ``warc_to_raw_rows`` for the
    lineage-carrying form."""
    records, _errors = parse_warc(data)
    return [r[:5] for r in _records_to_rows(records, [], "")]


def _records_to_rows(records, errors, src):
    """Records + framing errors → raw rows (page rows carry
    ``warc_error=None``; each framing fault is its own row with only
    the error columns populated)."""
    rows = []
    idx = 0
    for rec in records:
        h = rec["headers"]
        rtype = h.get("warc-type", "")
        if rtype not in ("response", "resource", "conversion"):
            continue
        url = h.get("warc-target-uri", "")
        ts = _warc_ts_micros(h.get("warc-date", ""))
        if rtype == "conversion":
            # WET record: body IS the extracted text (sources/wet.py
            # round-trip) — lands in the text column, html stays NULL
            text = rec["body"].decode("utf-8", "replace")
            rows.append((url, ts, None, text, "", src, idx, None))
        else:
            body = (
                _http_body(rec["body"]) if rtype == "response" else rec["body"]
            )
            rows.append((url, ts, body, "", "", src, idx, None))
        idx += 1
    for err in errors:
        rows.append(
            ("", 0, None, "", "", src, -1, f"{err['kind']}@{err['offset']}")
        )
    return rows


def warc_to_raw_rows(data: bytes, src: str = ""):
    """WARC bytes → rows in ``RAW_SCHEMA`` shape (pages + error rows)."""
    records, errors = parse_warc(data)
    return _records_to_rows(records, errors, src)


def _expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    cols = RAW_SCHEMA.replace(" string", "").replace(" long", "") \
        .replace(" binary", "").replace(" int", "").split(", ")
    for pdf in batches:
        out = []
        for path, blob in zip(pdf["path"], pdf["content"]):
            out.extend(warc_to_raw_rows(bytes(blob), str(path)))
        yield pd.DataFrame(out, columns=cols)


def read_warc_raw(spark, path, heavy_bytes: int = DEFAULT_HEAVY_WARC_BYTES):
    """WARC file(s) → raw rows (pages + per-record error rows), with
    size-classed file routing.

    Normal files ride the binaryFile scan's bin-packed splits (narrow,
    no shuffle).  Files larger than ``heavy_bytes`` are repartitioned
    one-file-per-task before the fan-out — the compressed size is in
    the scan's ``length`` metadata column, so classification reads no
    data, and only the heavy class (a tiny fraction of files) pays a
    shuffle of raw bytes.
    """
    from pyspark.sql import functions as F

    files = (
        spark.read.format("binaryFile")
        .load(path)
        .select("path", "length", "content")
    )
    sc = spark.sparkContext
    normal = files.filter(F.col("length") <= heavy_bytes).select("path", "content")
    heavy = (
        files.filter(F.col("length") > heavy_bytes)
        .repartition(sc.defaultParallelism, F.xxhash64("path"))
        .select("path", "content")
    )
    return normal.mapInPandas(_expand, schema=RAW_SCHEMA).unionByName(
        heavy.mapInPandas(_expand, schema=RAW_SCHEMA)
    )


def read_warc_pages(spark, path, heavy_bytes: int = DEFAULT_HEAVY_WARC_BYTES):
    """Read WARC file(s) into a pages DataFrame
    ``(url, warc_ts, html, text, lang)``.

    Narrow plan: binaryFile scan → mapInPandas fan-out (heavy files
    routed, see ``read_warc_raw``); error rows are filtered here —
    run ``warc_lineage`` over ``read_warc_raw`` output when the tally
    matters.  Feed the result straight to ``spark.job.run_extract``.
    """
    from pyspark.sql import functions as F

    raw = read_warc_raw(spark, path, heavy_bytes)
    # input_hint shape: warc_ts is a TIMESTAMP (converted JVM-side
    # from the exact epoch-micros the WARC-Date header parses to)
    return raw.filter(F.col("warc_error").isNull()).select(
        "url",
        F.timestamp_micros("warc_ts_us").alias("warc_ts"),
        "html",
        "text",
        "lang",
    )


ERROR_SAMPLE_CAP = 20  # error details kept per source file


def warc_lineage(raw):
    """Per-source-file ingest lineage over ``read_warc_raw`` output:
    page counts, torn-record tallies, byte totals.  One real groupBy
    over metadata-sized data (bytes never shuffle — only the tallies).

    The error DETAIL column is capped at the {ERROR_SAMPLE_CAP}
    smallest entries per file BEFORE aggregation (window over the
    error rows only, planned as WindowGroupLimit): a badly corrupted
    multi-GB archive can emit one resync error per fault, and an
    unbounded collect_list would concentrate millions of strings into
    one aggregation row.  The full torn-record COUNT is exact
    regardless."""
    from pyspark.sql import Window, functions as F

    is_err = F.col("warc_error").isNotNull()
    tallies = raw.groupBy("src_file").agg(
        F.sum(F.when(~is_err, 1).otherwise(0)).alias("page_rows"),
        F.sum(F.when(is_err, 1).otherwise(0)).alias("torn_records"),
        F.sum(F.when(~is_err, F.length("html")).otherwise(0)).alias("payload_bytes"),
    )
    w = Window.partitionBy("src_file").orderBy("warc_error")
    errors = (
        raw.filter(is_err)
        .select("src_file", "warc_error")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= ERROR_SAMPLE_CAP)
        .groupBy("src_file")
        .agg(
            F.concat_ws(";", F.array_sort(F.collect_list("warc_error"))).alias(
                "errors"
            )
        )
    )
    return tallies.join(errors, "src_file", "left").fillna({"errors": ""})


def write_warc(rows, compress: bool = False) -> bytes:
    """Serialize pages rows into a WARC archive (fixture/export path;
    deterministic, resource records)."""
    from datetime import datetime, timezone

    out = []
    for url, ts_micros, payload, _text, _lang in rows:
        ts = datetime.fromtimestamp(ts_micros / 1_000_000, tz=timezone.utc)
        head = (
            b"WARC/1.0" + CRLF
            + b"WARC-Type: resource" + CRLF
            + b"WARC-Target-URI: " + url.encode() + CRLF
            + b"WARC-Date: "
            + ts.strftime("%Y-%m-%dT%H:%M:%SZ").encode() + CRLF
            + b"Content-Length: " + str(len(payload)).encode() + CRLF
            + CRLF
        )
        member = head + bytes(payload) + CRLF + CRLF
        if compress:
            c = zlib.compressobj(6, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
            member = c.compress(member) + c.flush()
        out.append(member)
    return b"".join(out)
