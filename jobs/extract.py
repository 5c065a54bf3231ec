"""The extraction batch job — spark-submit entry point.

Launch (cluster)::

    spark-submit --py-files dist/engine.zip jobs/extract.py \
        --input iceberg:cc.pages --output iceberg:cc.pages_extracted \
        --format txt

Launch (sandbox / local smoke)::

    python jobs/extract.py --input /tmp/pages.parquet \
        --output /tmp/extracted --format txt [--resume]

Pipeline (SURVEY.md §3.4): read pages (url, warc_ts, html, text,
lang) → optional resume anti-join against committed urls → skew-route
by payload size → vectorized extraction UDF → append as a new
snapshot with per-partition lineage rows.  Every run is resumable:
the commit is atomic (Iceberg snapshot / manifest update), so a
killed job re-processes only uncommitted urls.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True,
                    help="pages table: parquet path, iceberg:<catalog.table>, "
                         "or warc:<path-glob> (raw crawl archives)")
    ap.add_argument("--output", required=True,
                    help="output table: parquet dir or iceberg:<catalog.table>")
    ap.add_argument("--format", default="txt",
                    choices=["txt", "md", "csv", "tsv", "text", "raw", "simple"])
    ap.add_argument("--page", type=int, default=None,
                    help="extract only page N (1-indexed, CLI-parity "
                         "validation; out-of-range docs get a page_range "
                         "error row)")
    ap.add_argument("--filters", choices=("reference", "extended"),
                    default="reference",
                    help="decode-filter dispatch: 'reference' errors on "
                         "anything beyond Flate/ASCIIHex (byte-identity "
                         "default); 'extended' adds LZW/ASCII85/RunLength "
                         "and /Predictor so real-corpus PDFs decode "
                         "instead of landing in decode_error")
    ap.add_argument("--resume", action="store_true",
                    help="anti-join input against committed output urls")
    ap.add_argument("--heavy-threshold", type=int, default=1 << 20,
                    help="payload bytes above which a doc is heavy-tail routed")
    ap.add_argument("--compact", action="store_true",
                    help="after the commit, rewrite all committed "
                         "snapshots as one size-targeted snapshot "
                         "(small-files maintenance for resumed / "
                         "streaming-accrued tables)")
    ap.add_argument("--wet-output", default=None,
                    help="also export the extracted text as CC-style WET "
                         "archives (conversion records) into this dir")
    ap.add_argument("--master", default=None,
                    help="override master (default: whatever spark-submit set)")
    ap.add_argument("--stream", action="store_true",
                    help="continuous-ingest mode: drain new files from a "
                         "parquet landing dir via Structured Streaming "
                         "(availableNow + checkpoint file-log resume)")
    ap.add_argument("--checkpoint", default=None,
                    help="checkpoint dir for --stream (default: "
                         "<output>/_checkpoint)")
    args = ap.parse_args()
    if args.stream:
        # the stream path runs the default extraction per micro-batch
        # and writes its own batch dirs: these flags would be dropped
        unsupported = [flag for flag, given in (
            ("--page", args.page is not None),
            ("--filters extended", args.filters == "extended"),
            ("--resume", args.resume),
            ("--compact", args.compact),
            ("--wet-output", args.wet_output is not None),
        ) if given]
        if unsupported:
            ap.error(f"--stream does not support {', '.join(unsupported)}")
        # the stream reads a parquet landing dir; a table or archive
        # input would fail only after the session is built
        for scheme in ("iceberg:", "warc:"):
            if args.input.startswith(scheme):
                ap.error(f"--stream reads a parquet landing dir, not {scheme} input")
    elif args.checkpoint is not None:
        ap.error("--checkpoint is only used with --stream")

    from pdf_parser_spark.spark.job import lineage, resume_filter, run_extract
    from pdf_parser_spark.spark.session import build_session
    from pdf_parser_spark.spark.table import open_table

    spark = build_session("pdf-parser-spark-extract", master=args.master)

    if args.stream:
        from pdf_parser_spark.streaming import stream_extract

        cp = args.checkpoint or f"{args.output}/_checkpoint"
        stream_extract(
            spark, args.input, args.output, cp,
            fmt=args.format, threshold=args.heavy_threshold,
        )
        print(f"stream drained into {args.output} (checkpoint {cp})")
        spark.stop()
        return

    if args.input.startswith("iceberg:"):
        pages = open_table(spark, args.input).read()
    elif args.input.startswith("warc:"):
        from pdf_parser_spark.sources import read_warc_pages

        pages = read_warc_pages(spark, args.input[len("warc:"):])
    else:
        pages = spark.read.parquet(args.input)

    out = open_table(spark, args.output)
    if args.resume:
        committed = out.committed_urls()
        if committed is not None:
            pages = resume_filter(pages, committed)

    extracted = run_extract(pages, fmt=args.format, threshold=args.heavy_threshold,
                            page=args.page,
                            extended_filters=args.filters == "extended")
    # one pass: cache the (small) projected output so the lineage agg
    # doesn't re-run extraction
    extracted = extracted.persist()
    lin = [r.asDict() for r in lineage(extracted).collect()]
    record = out.append(extracted, lineage_rows=lin)
    n = sum(row["row_count"] for row in lin)
    if isinstance(record, dict):
        snap_id = record["id"]
    else:
        # backend didn't report a snapshot id: derive a per-run unique
        # token anyway — a constant here would make every WET-exporting
        # run reuse the same run_token, so the second --resume run into
        # the same --wet-output dir would collide at <token>-part-00000
        import uuid

        snap_id = f"run-{uuid.uuid4().hex[:12]}"
    print(f"committed snapshot {snap_id}: {n} docs, {len(lin)} lineage partitions")
    if args.compact:
        crec = out.compact()
        print("compacted" if crec else "compact: nothing to do")
    if args.wet_output:
        from pyspark.sql import functions as F

        from pdf_parser_spark.sources.wet import write_wet_files

        # namespace the export by snapshot id: a --resume re-run into
        # the same --wet-output dir adds files instead of clobbering
        # the previous run's (each run exports only its new rows)
        wet_lin = write_wet_files(
            extracted.select(
                "url", "warc_ts", F.col("text_extracted").alias("text")
            ),
            args.wet_output,
            run_token=str(snap_id),
        ).collect()
        print(f"wet export: {sum(r.n_records for r in wet_lin)} records "
              f"in {len(wet_lin)} files under {args.wet_output}")
    spark.stop()


if __name__ == "__main__":
    main()
