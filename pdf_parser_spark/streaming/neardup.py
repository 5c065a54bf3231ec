"""Streaming MinHash-LSH near-dup admission with TTL-bounded state.

The batch twin is :func:`pdf_parser_spark.ops.dedup.dedup_minhash_lsh`
(whole-corpus).  This is the CONTINUOUS version: as page files land,
each document's MinHash signature is banded (the same 16-perm / 4-band
machinery, so batch and stream agree bit-for-bit on signatures) and
every band bucket keeps its FIRST member's signature in keyed state; a
later arrival whose estimated jaccard against any bucket keeper
reaches the 0.5 admission threshold is flagged as a near-dup of that
keeper.

Verdicts are a keeper-only approximation of "similar to SOME
earlier-seen document": an arrival is compared only against the
opener of each bucket it lands in, not against every earlier member.
A document whose sole band collision with a true near-dup falls in a
bucket opened by a dissimilar third document is therefore admitted,
where an all-members comparison would flag it.  The trade is state
size: one signature per bucket, however many documents hash there.

Design:

* **Keyed state on (band_id, band_key)** — the LSH discipline puts
  near-dup candidates in the same bucket, so state lookup is O(1)
  per band and a document costs exactly {LSH_BANDS} state probes.
  State per bucket is one (keeper_url, 16-long signature CSV,
  last_ts_ms) row — signatures of the bucket OPENERS only, never a
  member list, so a viral bucket stays O(1) state.
* **TTL eviction via EventTimeTimeout** — a bucket with no arrivals
  inside the freshness window is evicted when the watermark passes
  ``last_ts + ttl`` (clamped to watermark+1 — the late-landing-file
  lesson from streaming/recrawl.py).  This bounds live state to
  buckets touched within one window: the per-dump dedup scope
  (FineWeb dedups within a dump for exactly this reason), and the
  knob that makes 10^12-doc streaming state feasible alongside the
  RocksDB store.
* **Short documents** (< {SHINGLE_N} tokens, empty signature) bypass
  the stateful operator on a stateless union branch and are always
  admitted — mirroring the batch ops, where unshingleable docs never
  enter the index.
* **Idempotent sink** — per-batch ``batch_id=N`` overwrite guarded
  by :func:`streaming.job._committed` (a replayed batch must still
  execute the stateful plan so state commits stay aligned with the
  checkpoint).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pdf_parser_spark.ops.dedup import (
    LSH_BANDS,
    LSH_ROWS,
    MINHASH_K,
    SHINGLE_N,
    _make_sig_udf,
)
from pdf_parser_spark.streaming.job import PAGES_STREAM_SCHEMA, _committed

SIM_THRESHOLD_16 = 8  # jaccard >= 8/16 = 0.5, the batch admission bar
DEFAULT_TTL_MS = 24 * 3600 * 1000

NEARDUP_STATE_SCHEMA = StructType(
    [
        StructField("keeper_url", StringType()),
        StructField("sig_csv", StringType()),
        StructField("last_ts_ms", LongType()),
    ]
)

NEARDUP_OUTPUT_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("band_id", LongType()),
        StructField("band_key", StringType()),
        StructField("sim_16", LongType()),
        StructField("is_keeper", BooleanType()),
        StructField("keeper_url", StringType()),
    ]
)


def _neardup_group(ttl_ms: int):
    def fn(key, pdf_iter, state: GroupState):
        band_id, band_key = key
        cols = ["url", "band_id", "band_key", "sim_16", "is_keeper",
                "keeper_url"]
        if state.hasTimedOut:
            # freshness window elapsed with no arrivals: forget the
            # bucket silently — the dedup scope is one window
            state.remove()
            return
        batch = pd.concat(list(pdf_iter), ignore_index=True)
        if len(batch) == 0:
            return
        # the verdict chain follows the CRAWL timeline (stable sort:
        # equal timestamps keep arrival order)
        batch = batch.sort_values("warc_ts", kind="stable")
        ts_ms = batch["warc_ts"].astype("int64") // 1_000_000
        if state.exists:
            keeper, sig_csv, last_ts = state.get
        else:
            keeper = sig_csv = None
            last_ts = 0
        keeper_sig = (
            [int(x) for x in sig_csv.split(",")] if sig_csv else None
        )
        urls, sims, is_k, keepers = [], [], [], []
        for url, sig, ts in zip(batch["url"], batch["sig"], ts_ms):
            if keeper is None:
                keeper = url
                keeper_sig = [int(x) for x in sig]
                urls.append(url)
                sims.append(MINHASH_K)  # trivially identical to itself
                is_k.append(True)
                keepers.append(url)
            else:
                sim = sum(
                    1 for a, b in zip(keeper_sig, sig) if a == int(b)
                )
                urls.append(url)
                sims.append(sim)
                is_k.append(url == keeper)
                keepers.append(keeper)
            if int(ts) > last_ts:
                last_ts = int(ts)
        state.update(
            (keeper, ",".join(str(x) for x in keeper_sig), last_ts)
        )
        state.setTimeoutTimestamp(
            max(last_ts + ttl_ms, state.getCurrentWatermarkMs() + 1)
        )
        yield pd.DataFrame(
            {
                "url": urls,
                "band_id": band_id,
                "band_key": band_key,
                "sim_16": sims,
                "is_keeper": is_k,
                "keeper_url": keepers,
            },
            columns=cols,
        )

    return fn


def _banded(pages: DataFrame) -> DataFrame:
    """url + warc_ts + per-band rows (band_id, band_key, sig)."""
    sig_udf = _make_sig_udf()
    sigs = pages.select(
        "url", "warc_ts", sig_udf(F.col("text")).alias("sig")
    )
    long_docs = sigs.filter(F.size("sig") >= MINHASH_K)
    bands = long_docs.select(
        "url",
        "warc_ts",
        "sig",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(LSH_BANDS - 1)),
                lambda b: F.struct(
                    b.cast("long").alias("band_id"),
                    F.concat_ws(
                        ",",
                        *[
                            F.element_at(
                                F.col("sig"), (b * LSH_ROWS) + r + 1
                            ).cast("string")
                            for r in range(LSH_ROWS)
                        ],
                    ).alias("band_key"),
                ),
            )
        ).alias("bk"),
    ).select("url", "warc_ts", "bk.band_id", "bk.band_key", "sig")
    return bands


def stream_neardup(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    schema: StructType = PAGES_STREAM_SCHEMA,
    ttl_ms: int = DEFAULT_TTL_MS,
    max_files_per_trigger: int | None = None,
):
    """Drain all unprocessed page files through the stateful LSH
    near-dup monitor; per-batch verdict rows land under
    ``{output_path}/verdicts/batch_id=N``.  Blocks until drained."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # Binary payloads (PDFs) must not enter the text path: a strict
    # decode() throws MALFORMED_CHARACTER_CODING and kills the whole
    # query, and even the lenient cast leaves invalid bytes that the
    # Arrow transfer to the signature UDF rejects.  try_validate_utf8
    # nulls non-UTF8 payloads -> empty text -> empty signature -> the
    # stateless bypass branch (admitted): binary content is a case
    # for a content hash, not text LSH.  In the production funnel this
    # monitor consumes the EXTRACTED-text stream, where the column is
    # already a string.
    pages = reader.parquet(input_path).select(
        "url",
        "warc_ts",
        F.expr(
            "coalesce(try_validate_utf8(cast(html AS string)), '')"
        ).alias("text"),
    ).withWatermark("warc_ts", "0 seconds")

    bands = _banded(pages)
    verdicts = bands.groupBy("band_id", "band_key").applyInPandasWithState(
        _neardup_group(ttl_ms),
        outputStructType=NEARDUP_OUTPUT_SCHEMA,
        stateStructType=NEARDUP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    # unshingleable docs bypass state and are always admitted
    sig_udf = _make_sig_udf()
    shorts = (
        pages.select("url", sig_udf(F.col("text")).alias("sig"))
        .filter(F.size("sig") < MINHASH_K)
        .select(
            "url",
            F.lit(-1).cast("long").alias("band_id"),
            F.lit("").alias("band_key"),
            F.lit(0).cast("long").alias("sim_16"),
            F.lit(True).alias("is_keeper"),
            F.col("url").alias("keeper_url"),
        )
    )
    out = verdicts.unionByName(shorts)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        out_dir = f"{output_path}/verdicts/batch_id={batch_id}"
        if _committed(batch_df.sparkSession, out_dir):
            batch_df.write.format("noop").mode("overwrite").save()
            return
        batch_df.write.mode("overwrite").parquet(out_dir)

    query = (
        out.writeStream.foreachBatch(process_batch)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def admission_report(spark: SparkSession, output_path: str) -> DataFrame:
    """(url, admitted, n_band_hits, matched_keeper): a document is
    admitted iff NO band bucket held an earlier doc with estimated
    jaccard >= {SIM_THRESHOLD_16}/16 — the batch admission rule
    applied to the streaming verdict rows."""
    rows = spark.read.parquet(f"{output_path}/verdicts")
    hit = (~F.col("is_keeper")) & (F.col("sim_16") >= SIM_THRESHOLD_16)
    return (
        rows.groupBy("url")
        .agg(
            (~F.max(hit)).alias("admitted"),
            F.sum(hit.cast("long")).alias("n_band_hits"),
            F.max(F.when(hit, F.col("keeper_url"))).alias("matched_keeper"),
        )
    )
