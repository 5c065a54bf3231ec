"""Split job: curated corpus → leakage-free train/val tables.

The last pipeline step before training: a deterministic hash split is
not enough at web scale, because near-duplicate pairs straddle the
boundary and contaminate the eval set (GPT-3 §2.2 / Gopher App. A —
public).  This job splits by url hash, then QUARANTINES every val row
that shares a MinHash-LSH band bucket with any train row — leaked rows
are reassigned to train (data is kept; val purity is the invariant).

  train = hash-train rows  ∪  leaked val rows
  val   = hash-val rows whose every band bucket is train-free

Guarantee: no val row is an LSH near-duplicate (at the dedup band
resolution, ops/dedup.py) of any train row.  Rows too short to shingle
stay in their hash split — they carry no leakage signal either way.

Scale shape (same as ops/splits.py, whose plan tests/test_ops_splits.py
asserts): the signature UDF runs ONCE over the text (persisted —
CollapseProject would re-run it per band); only ``(url, band, 32-byte
key, bool)`` ever shuffles; the leak check is a LEFT SEMI join of the
val band keys (a few % of the corpus) against the train band keys —
Poisson(1) buckets, no pair explosion, text never moves.

Run:  spark-submit --py-files dist/engine.zip jobs/split.py \
          --input /path/curated/data --output /path/split
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

from pdf_parser_spark.ops.common import seeded_h32


def split_corpus(
    df: DataFrame,
    text_col: str = "text_extracted",
    id_col: str = "url",
    val_mod: int = 10,
) -> tuple[DataFrame, DataFrame, dict, "callable"]:
    """(train, val, summary, cleanup) — leakage-free decontaminated
    split.

    ``train`` / ``val`` are lazy frames backed by a persisted,
    eagerly-materialized id set (ids only — the corpus-wide signature
    frames are unpersisted before this function returns).  Call
    ``cleanup()`` once both outputs are written to release that cache.
    The frames remain *valid* afterwards, but not cheap: unpersisting
    drops the cached id set, whose lineage includes the MinHash
    signature UDF, so any post-cleanup action re-runs the full
    signature build.  If cheap reuse after cleanup is needed, write
    the id set out and re-read it instead of relying on the cache.
    """
    from pdf_parser_spark.ops.dedup import _make_sig_udf, lsh_bands
    from pdf_parser_spark.ops.splits import leaked_val_ids

    sig_udf = _make_sig_udf()
    sig = (
        df.select(
            id_col,
            sig_udf(F.col(text_col)).alias("sig"),
            (
                seeded_h32(F.lit("split"), F.col(id_col)) % val_mod == 0
            ).alias("is_val"),
        )
        .persist()
    )
    try:
        bands = lsh_bands(sig.filter(F.size("sig") >= 1)).select(
            id_col, "is_val", "band", "band_key"
        )
        leaked = leaked_val_ids(bands, id_col).withColumn(
            "_leaked", F.lit(True)
        )
        verdicts = sig.select(id_col, "is_val").join(leaked, id_col, "left")
        # ids-only cache (≈ val fraction of the corpus, one column);
        # materialized NOW so train/val never re-run the signature UDF
        # after sig is unpersisted in the finally block
        val_ids = (
            verdicts.filter(F.col("is_val") & F.col("_leaked").isNull())
            .select(id_col)
            .persist()
        )
        n_val_final = val_ids.count()
        n_leaked = verdicts.filter(
            F.col("is_val") & F.col("_leaked").isNotNull()
        ).count()
        train = df.join(val_ids, id_col, "left_anti")
        val = df.join(val_ids, id_col, "left_semi")
        summary = {
            "val_mod": val_mod,
            "rows": df.count(),
            "val_hash_assigned": n_val_final + n_leaked,
            "val_leaked_reassigned_to_train": n_leaked,
            "val_final": n_val_final,
        }
        return train, val, summary, val_ids.unpersist
    finally:
        sig.unpersist()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--input", required=True, help="curated table (parquet dir)")
    ap.add_argument("--output", required=True, help="split output dir")
    ap.add_argument("--text-col", default="text_extracted")
    ap.add_argument("--id-col", default="url")
    ap.add_argument("--val-mod", type=int, default=10,
                    help="1/N of urls hash into val before quarantine")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from pdf_parser_spark.spark.session import build_session

    spark = build_session("pdf-parser-spark-split", master=args.master)
    df = spark.read.parquet(args.input)
    train, val, summary, cleanup = split_corpus(
        df, text_col=args.text_col, id_col=args.id_col, val_mod=args.val_mod
    )
    train.write.mode("overwrite").parquet(f"{args.output}/train")
    val.write.mode("overwrite").parquet(f"{args.output}/val")
    cleanup()
    with open(f"{args.output}/split.json", "w") as f:
        json.dump(summary, f, indent=1)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
