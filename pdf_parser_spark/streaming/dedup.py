"""Streaming cross-batch exact dedup (`applyInPandasWithState`).

A batch exact dedup collapses a whole corpus, or checks one new
batch against a frozen one.  This module is the *continuous* version:
as page files land, a document is admitted iff its content hash has
never been seen in ANY earlier micro-batch — the state store carries
the seen-hash set across batches, so no batch ever re-scans corpus
history.

Design:

* **Keyed state on the 128-bit content hash** — ``groupBy(md5(html))``
  routes every copy of a payload to one task; state per key is just
  the admitted keeper's url (first-arrival wins; within a batch the
  min url, deterministic).  Lookup/update is O(1) per key in the
  state store vs the foreachBatch-era alternative of re-joining an
  ever-growing hash table every batch.
* **State growth is the honest cost**: distinct-hash state grows with
  the corpus.  At 10^12 documents this wants the RocksDB state store
  (spills to disk, incremental checkpoints), optionally fronted by a
  bloom filter on the batch side to skip state lookups for
  definitely-new hashes; the logical plan here is unchanged by either.
* **Update-mode emission with per-row verdicts** — every input row is
  emitted with ``admitted`` true/false plus the keeper url, so
  downstream lineage can count rejects per batch without a second
  pass.
* **Idempotent sink** — each micro-batch overwrites its own
  ``batch_id=N`` partition (the :mod:`streaming.job` pattern); the
  state store itself commits transactionally with the checkpoint, so
  a replayed batch recomputes identical verdicts.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    StringType,
    StructField,
    StructType,
)

from pdf_parser_spark.streaming.job import PAGES_STREAM_SCHEMA, _committed

DEDUP_STATE_SCHEMA = StructType([StructField("keeper_url", StringType())])

DEDUP_OUTPUT_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("content_md5", StringType()),
        StructField("admitted", BooleanType()),
        StructField("keeper_url", StringType()),
    ]
)


def _dedup_group(key, pdf_iter, state: GroupState):
    """All rows sharing one content hash, this batch: admit exactly ONE
    row (the min url's first occurrence) iff the hash is unseen;
    everything else is a reject pointing at the keeper.

    Memory shape: the hot-key case — a viral page duplicated millions
    of times in one batch — is a state HIT (the hash was admitted in
    some earlier batch), and that path streams chunk-by-chunk with
    zero buffering: every row is a reject against the known keeper.
    Only a state MISS (first sighting) must see all urls before
    emitting (the keeper is the batch-wide min), so it buffers the
    url arrays; first sightings are bounded by distinct-content
    arrival, not by duplication hotness."""
    (content_md5,) = key
    cols = ["url", "content_md5", "admitted", "keeper_url"]
    if state.exists:
        (keeper,) = state.get
        for pdf in pdf_iter:
            if len(pdf):
                yield pd.DataFrame(
                    {
                        "url": pdf["url"],
                        "content_md5": content_md5,
                        "admitted": False,
                        "keeper_url": keeper,
                    },
                    columns=cols,
                )
        return
    chunks = [pdf["url"] for pdf in pdf_iter if len(pdf)]
    if not chunks:
        return
    keeper = min(c.min() for c in chunks)
    state.update((keeper,))
    admitted_done = False
    for c in chunks:
        if admitted_done:
            admitted = pd.Series(False, index=c.index)
        else:
            admitted = c == keeper
            if admitted.any():
                # exactly one admission: the keeper's FIRST occurrence
                first = admitted.idxmax()
                admitted = admitted & (admitted.index == first)
                admitted_done = True
        yield pd.DataFrame(
            {
                "url": c,
                "content_md5": content_md5,
                "admitted": admitted,
                "keeper_url": keeper,
            },
            columns=cols,
        )


def stream_dedup(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    schema: StructType = PAGES_STREAM_SCHEMA,
    max_files_per_trigger: int | None = None,
):
    """Drain all unprocessed page files through the stateful dedup;
    per-batch verdict rows land under
    ``{output_path}/verdicts/batch_id=N``.  Blocks until drained."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    pages = reader.parquet(input_path)

    verdicts = (
        pages.select("url", F.md5("html").alias("content_md5"))
        .groupBy("content_md5")
        .applyInPandasWithState(
            _dedup_group,
            outputStructType=DEDUP_OUTPUT_SCHEMA,
            stateStructType=DEDUP_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        out_dir = f"{output_path}/verdicts/batch_id={batch_id}"
        if _committed(batch_df.sparkSession, out_dir):
            # Replay of an already-committed batch (crash landed between
            # the sink's _SUCCESS and the checkpoint commit).  The sink
            # must not be rewritten, but the stateful operator MUST
            # still execute: in foreachBatch, state only commits when
            # the batch plan actually runs, so returning without an
            # action could permanently drop this batch's seen-hash
            # admissions and re-admit those hashes in a later batch.
            # A noop-sink write forces full execution at zero I/O.
            batch_df.write.format("noop").mode("overwrite").save()
            return
        batch_df.write.mode("overwrite").parquet(out_dir)

    query = (
        verdicts.writeStream.foreachBatch(process_batch)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def admitted_pages(spark: SparkSession, output_path: str) -> DataFrame:
    """The admitted set across all drained batches."""
    rows = spark.read.parquet(f"{output_path}/verdicts")
    return rows.filter(F.col("admitted")).select(
        "url", "content_md5", "batch_id"
    )
