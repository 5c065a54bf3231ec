"""Re-run the physical-plan audit documented in PLANS.md.

Asserts the load-bearing plan properties: column pruning through the
extraction UDF, single ArrowEvalPython node, broadcast resume
anti-join, predicate pushdown, and the per-op shapes below.

Usage: python scripts/audit_plans.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def main() -> None:
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from pdf_parser_spark.spark.job import resume_filter
    from pdf_parser_spark.spark.session import build_session
    from pdf_parser_spark.spark.udfs import with_extraction

    spark = build_session("plan-audit", master="local[4]", shuffle_partitions=8)
    checks = []

    pages_src = entrymod._pages_df(spark, scale=1)
    tmp = "/tmp/pdf_parser_spark_audit_pages.parquet"
    pages_src.write.mode("overwrite").parquet(tmp)
    pages = spark.read.parquet(tmp)

    # 1. column pruning through the UDF
    p = plan_of(with_extraction(pages).select("url", "text_extracted"))
    checks.append(("prune-to-url-html", "ReadSchema: struct<url:string,html:binary>" in p))
    checks.append(("single-arrow-eval", p.count("ArrowEvalPython") == 1))
    checks.append(("no-exchange-in-narrow-extract", "Exchange" not in p))

    # 2. resume anti-join broadcasts a small committed side
    p = plan_of(resume_filter(pages, pages.limit(10).select("url")))
    checks.append(("broadcast-left-anti", "LeftAnti" in p and "Broadcast" in p))

    # 3. predicate pushdown to the scan
    p = plan_of(pages.filter(F.col("warc_ts") > F.lit("2025-01-01 00:00:05").cast("timestamp")).select("url"))
    checks.append(("pushdown-warc-ts", "warc_ts" in p.split("DataFilters")[-1][:200]
                   if "DataFilters" in p else False))

    # 4l. substring_dedup: the gram hasher is evaluated exactly once
    # (the duplicated-gram test is a window over the one gram relation,
    # not a self-join that would re-run the UDF per branch), and there
    # is no cartesian / nested-loop join
    from pdf_parser_spark.ops.substring import substring_dedup

    p = plan_of(substring_dedup(spark, "/root/testdata/sf0.001"))
    checks.append(
        ("substring-single-arrow-no-cartesian",
         p.count("ArrowEvalPython") == 1
         and "CartesianProduct" not in p and "NestedLoop" not in p)
    )

    # 4o. crawl_priority: host-grained inputs only — the per-host agg
    # partial-combines before its exchange and no Python anywhere
    from pdf_parser_spark.ops.linkgraph import crawl_priority

    p = plan_of(crawl_priority(spark, "/root/testdata/sf0.001"))
    checks.append(
        ("crawlpriority-partial-agg-no-python",
         "partial_count" in p and "ArrowEvalPython" not in p)
    )

    # 4q. split_decontaminated: the leak check is a LEFT SEMI join on
    # band keys (never a pair-exploding inner join), and the text
    # column stays inside the signature stage — nothing downstream of
    # the band exchange carries text
    from pdf_parser_spark.ops.splits import (
        lang_temperature_sample,
        split_decontaminated,
    )

    p = plan_of(split_decontaminated(spark, "/root/testdata/sf0.001"))
    checks.append(
        ("split-leftsemi-band-keys",
         "LeftSemi" in p
         and "text" not in p.split("LeftSemi")[0].split("Exchange")[-1])
    )

    # 4r. lang_temperature_sample: the quota table joins BROADCAST and
    # the doc stream is never sorted or windowed (the hash gate is the
    # whole point — no per-lang rank window)
    p = plan_of(lang_temperature_sample(spark, "/root/testdata/sf0.001"))
    checks.append(
        ("lts-broadcast-quota-no-window",
         "BroadcastHashJoin" in p and "Window" not in p
         and "ArrowEvalPython" not in p)
    )

    # 4t. crawl_schedule: exactly ONE exchange (the per-host window's
    # hash partitioning) — politeness serializes hosts anyway
    from pdf_parser_spark.ops.linkgraph import crawl_schedule

    p = plan_of(crawl_schedule(spark, "/root/testdata/sf0.001"))
    checks.append(
        ("crawlschedule-single-exchange",
         p.count("Exchange hashpartitioning") == 1
         and "ArrowEvalPython" not in p)
    )

    # 4ag. host_centrality_hyperball: every radius step reads the
    # PERSISTED register/edge relations (InMemoryTableScan — the
    # corpus parquet is scanned once, not once per radius), merges are
    # partial-aggregated groupBy-max, and nothing but (node, bucket,
    # rho) triples crosses a shuffle; no cartesian anywhere — the only
    # intentional cross join is nodes x the 16-row bucket frame
    from pdf_parser_spark.ops.centrality import host_centrality_hyperball

    df = host_centrality_hyperball(spark, "/root/testdata/sf0.001")
    p = plan_of(df)
    # (InMemoryRelation reprints its cached child plan under every
    # InMemoryTableScan, so "Scan parquet" still appears textually —
    # the load-bearing property is that every register/edge reference
    # reads a cache: >= T+1 merge reads + T+1 estimate reads)
    checks.append(
        ("hyperball-register-reuse-partial-max",
         p.count("InMemoryTableScan") >= 8
         and "partial_max" in p
         and "ArrowEvalPython" not in p
         and all("text" not in seg[:400]
                 for seg in p.split("Exchange hashpartitioning")[1:]))
    )
    spark.catalog.clearCache()

    # 4aj. url_spam_score is a pure scan-local projection: zero
    # exchanges, zero Python, at any corpus size
    from pdf_parser_spark.ops.urlquality import url_spam_score

    p = plan_of(url_spam_score(spark, "/root/testdata/sf0.001"))
    checks.append(
        ("urlquality-scan-local",
         "Exchange" not in p and "Python" not in p)
    )

    # 4ak. host_template_prefix: the single exchange carries the
    # capped prefix, never the text column (projected before the
    # partial min/max aggregate — document bodies must not shuffle)
    from pdf_parser_spark.ops.template import host_template_prefix

    p = plan_of(host_template_prefix(spark, "/root/testdata/sf0.001"))
    ex_seg = p.split("Exchange hashpartitioning")[-1][:400] if (
        "Exchange hashpartitioning" in p) else ""
    checks.append(
        ("template-prefix-narrow",
         p.count("Exchange") == 1
         and "partial_min" in p
         and "text#" not in ex_seg)
    )

    # 5. arrow batch size applied
    checks.append(
        (
            "arrow-batch-64",
            spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch") == "64",
        )
    )

    spark.stop()
    failed = [n for n, ok in checks if not ok]
    for n, ok in checks:
        print(("PASS " if ok else "FAIL ") + n)
    if failed:
        sys.exit(1)
    print("plan audit: all checks passed")


if __name__ == "__main__":
    main()
