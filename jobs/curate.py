"""Curation job: extracted pages → training-ready corpus, one DAG.

The glue the reference never had: after `jobs/extract.py` lands the
extracted table, this job runs the standard webtext curation funnel
over it —

  1. URL admission              (structural spam score over the url
                                 column — ops/urlquality semantics;
                                 scan-local, runs before everything)
  2. decode-error drop          (row-level errors never poison the mix)
  3. host-template strip        (each host's shared banner — the
                                 group-LCP of its documents — removed
                                 before dedup, where it distorts both
                                 exact and near-dup signals)
  4. quality floor              (token count + stopword/alpha ratios,
                                 pure codegen — ops/textstats semantics)
  5. exact dedup                (md5 window, keep min url)
  6. near-dup collapse          (banded MinHash-LSH over h32 shingles,
                                 keep the band-bucket's BEST-quality
                                 member, ties to min url — FineWeb
                                 keep-best; bucketed, never all-pairs)
  7. repeated-span strip        (cross-document repeated >=8-token
                                 spans blanked from every carrier —
                                 ops/substring.py machinery; rows are
                                 transformed, never dropped)
  8. funnel lineage             (per-stage row counts + per-source
                                 composition, written next to the data)

and writes a training-ready parquet table bucketed-ready on url.

No stage self-joins its input: exact dedup is a window, and the
template strip, band collapse and span strip each join their input to
ONE key-only branch derived from it (the host-template table, the
band losers, the per-doc span list).  The plan tree therefore at most
doubles per stage, and AQE's exchange reuse runs the shared subtrees
once.  Spark pipelines the narrow stages into the scan; the wide ops
are the md5 window, the band-key window, the span windows and the
host-grained template aggregate (200-char prefixes only — bodies
never shuffle).  ``curate()`` materializes the whole funnel once;
each stage's survivor count is an ``observe()`` on the same
execution, so audit and data cannot drift.

Run:  spark-submit --py-files dist/engine.zip jobs/curate.py \
          --input /path/extracted --output /path/curated
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, Observation, Window, functions as F

from pdf_parser_spark.ops.common import tokens

MIN_TOKENS = 5          # quality floor: at least this many tokens
MIN_ALPHA_RATIO = 0.5   # alpha-bearing token fraction floor
# near-dup stage: shingle width / bands / rows come from ops.dedup
# AQE drops the observe() metrics of a query stage it replaces with an
# empty relation, so curate() turns that rule off while the funnel runs
EXCLUDED_RULES = "spark.sql.adaptive.optimizer.excludedRules"
PROPAGATE_EMPTY = "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"


def url_admission(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Stage 1: drop structurally-spammy URLs (ID-farm paths, keyword
    chains, parameter farms — the oracle-verified
    ops/urlquality.py scorer applied to the REAL url column).  Pure
    scan-local codegen projection: Catalyst collapses it into the
    input scan, zero shuffle, which is why it runs before everything
    else — RefinedWeb-style URL filtering ahead of any content
    stage."""
    from pdf_parser_spark.ops.urlquality import spam_feature_cols

    return df.filter(spam_feature_cols(F.col(url_col))["admitted"])


def strip_host_templates(
    df: DataFrame, text_col: str = "text_extracted", url_col: str = "url"
) -> DataFrame:
    """Stage 3: remove each host's shared template banner — the
    longest common prefix of all the host's documents (the
    ops/template.py group-LCP machinery applied to real urls).  Rows
    are transformed, never dropped; ``_template_removed`` records the
    stripped char count per row.

    Running BEFORE dedup is load-bearing twice over: a host banner
    repeated verbatim across a site makes unrelated pages LOOK like
    near-dups (banner shingles dominate short docs), and two hosts
    mirroring the same body under different banners look UNLIKE
    exact dups.  Both distortions disappear once the per-host prefix
    is subtracted.

    Scale shape (PLANS.md §13): one host-grained min/max aggregate
    over {PREFIX_CAP}-char prefixes (bodies never shuffle), the tiny
    (host, template) table broadcast back, the strip itself a
    scan-local substring."""
    from pdf_parser_spark.ops.template import (
        MIN_DOCS,
        PREFIX_CAP,
        TEMPLATE_MIN_LEN,
        group_lcp,
    )

    host = F.regexp_extract(
        F.col(url_col), "^[A-Za-z][A-Za-z0-9+.-]*://([^/]+)", 1
    )
    pre = df.select(
        host.alias("_h"),
        F.substring(F.coalesce(F.col(text_col), F.lit("")), 1, PREFIX_CAP)
        .alias("_p"),
    )
    ext = pre.groupBy("_h").agg(
        F.count(F.lit(1)).alias("_n"),
        F.min("_p").alias("_a"),
        F.max("_p").alias("_b"),
    )
    tmpl = (
        ext.withColumn("_tlen", group_lcp(F.col("_a"), F.col("_b")))
        .filter(
            (F.col("_n") >= MIN_DOCS)
            & (F.col("_tlen") >= TEMPLATE_MIN_LEN)
            # a FULL-cap LCP means the host's docs are identical as
            # far as we looked — that is a mirror (host_diversity's
            # signal, exact dedup's job), not a banner; the banner
            # evidence is a prefix that visibly ENDS inside the cap
            & (F.col("_tlen") < PREFIX_CAP)
        )
        .select(
            "_h",
            F.col("_a").substr(F.lit(1), F.col("_tlen").cast("int"))
            .alias("_tmpl"),
            "_tlen",
        )
    )
    joined = df.withColumn("_h", host).join(F.broadcast(tmpl), "_h", "left")
    has_tmpl = F.col("_tmpl").isNotNull() & F.col(text_col).startswith(
        F.col("_tmpl")
    )
    return (
        joined.withColumn(
            "_template_removed",
            F.when(has_tmpl, F.col("_tlen")).otherwise(F.lit(0)).cast("long"),
        )
        .withColumn(
            text_col,
            F.when(
                has_tmpl,
                F.col(text_col).substr(
                    (F.col("_tlen") + 1).cast("int"), F.length(text_col)
                ),
            ).otherwise(F.col(text_col)),
        )
        .drop("_h", "_tmpl", "_tlen")
    )


def quality_floor(df: DataFrame, text_col: str = "text_extracted") -> DataFrame:
    """Stage 4: drop rows under the token-count / alpha-ratio floor
    (pure codegen; same signal family as ops.textstats.quality)."""
    tok = tokens(F.col(text_col))
    n = F.size(tok)
    alpha = F.size(F.filter(tok, lambda t: t.rlike("[A-Za-z]")))
    return df.withColumn("_n_tok", n).filter(
        (F.col("_n_tok") >= MIN_TOKENS)
        & (alpha / F.col("_n_tok") >= MIN_ALPHA_RATIO)
    )


def exact_dedup(df: DataFrame, text_col: str = "text_extracted") -> DataFrame:
    """Stage 5: one md5 shuffle; the keeper is the min url per digest
    (deterministic, resume-stable)."""
    by_md5 = Window.partitionBy("_md5")
    return (
        df.withColumn("_md5", F.md5(F.col(text_col).cast("binary")))
        .withColumn("_keep_url", F.min("url").over(by_md5))
        .filter(F.col("url") == F.col("_keep_url"))
        .drop("_md5", "_keep_url")
    )


def neardup_collapse(df: DataFrame, text_col: str = "text_extracted") -> DataFrame:
    """Stage 6: banded MinHash-LSH collapse, keep the BEST-quality
    member per bucket (FineWeb-style keep-best; ties break to min
    url), i.e. the dedup_canonical policy applied at the job layer.

    Reuses the oracle-verified signature machinery from ops/dedup.py
    (Arrow numpy UDF — the interpreted-HOF spelling measured ~50x
    slower there) and the shared quality formula from ops/textstats
    (scan-local codegen, integer-scaled so the arg-max is exact).
    Scale shape (PLANS.md §5): only ``(url, q_int, band keys)`` ever
    shuffle — never text; a near-dup group shares at least one band
    bucket, and the keeper rule (a doc survives only if it wins its
    bucket in EVERY band) removes one side of every detected pair
    deterministically: every url that loses some band is dropped by
    one anti join.  Docs too short to shingle pass through untouched.
    """
    from pdf_parser_spark.ops.dedup import SHINGLE_N, _make_sig_udf, lsh_bands
    from pdf_parser_spark.ops.textstats import quality_features

    sig_udf = _make_sig_udf()
    tok = tokens(F.col(text_col))
    stop_ratio, diversity, length_sat = quality_features(tok)
    q_int = F.floor(
        (0.4 * stop_ratio + 0.3 * diversity + 0.3 * length_sat) * 10000.0
        + 0.5
    ).cast("long")
    # the signature is empty exactly when the doc has < SHINGLE_N
    # tokens; filtering on that BEFORE the UDF (not on its output)
    # keeps the optimizer from evaluating the UDF once per consumer
    sig = df.filter(F.size(tok) >= SHINGLE_N).select(
        "url", (-q_int).alias("_nq"), sig_udf(F.col(text_col)).alias("sig")
    )
    # arg-max quality = min of (-q, url) over the band bucket
    bucket = Window.partitionBy("band", "band_key")
    losers = (
        lsh_bands(sig)
        .withColumn("_ku", F.min_by("url", F.struct("_nq", "url")).over(bucket))
        .filter(F.col("url") != F.col("_ku"))
        .select("url")
    )
    return df.join(losers, "url", "left_anti")


def strip_repeated_spans(
    df: DataFrame, text_col: str = "text_extracted", id_col: str = "url"
) -> DataFrame:
    """Stage 7: blank cross-document repeated spans (Lee et al.
    ACL'22 exact-substring dedup at the n-gram anchor —
    ops/substring.py documents the exactness argument) from EVERY
    carrier row.  Rows are transformed, never dropped; ``_n_tok`` is
    recomputed and ``_tok_removed`` records the per-row strip count
    for lineage.

    Scale shape (same as the oracled stats op): one Arrow gram pass,
    one dup-gram window over the gram hash, only (gram, id, pos)
    triples shuffle, islands window partitioned per document.  The
    rebuild drops covered token positions with an indexed array
    filter — per-row cost O(n_tok × n_islands), islands typically ≤ a
    few.
    """
    from pdf_parser_spark.ops.substring import (
        _make_gram_udf,
        dup_gram_hits,
        merge_islands,
    )

    udf = _make_gram_udf()
    grams = df.select(
        id_col, F.posexplode(udf(F.col(text_col))).alias("pos", "g")
    )
    per_doc = (
        merge_islands(dup_gram_hits(grams, id_col), id_col)
        .groupBy(id_col)
        .agg(F.collect_list(F.struct("s", "e")).alias("_iv"))
    )
    joined = df.join(per_doc, id_col, "left")
    tok = tokens(F.col(text_col))
    kept = F.filter(
        tok,
        lambda t, i: ~F.exists(
            "_iv", lambda iv: (i >= iv["s"]) & (i <= iv["e"])
        ),
    )
    kept = F.when(F.col("_iv").isNull(), tok).otherwise(kept)
    return (
        joined.withColumn("_kept", kept)
        .withColumn(
            "_tok_removed", (F.size(tok) - F.size("_kept")).cast("long")
        )
        .withColumn(text_col, F.array_join("_kept", " "))
        .withColumn("_n_tok", F.size("_kept"))
        .drop("_iv", "_kept")
    )


def curate(extracted: DataFrame) -> tuple[DataFrame, list[dict]]:
    """Run the funnel; returns (curated DF, per-stage lineage rows).

    The stages compose into one lazy plan, which is materialized once
    by an eager ``localCheckpoint`` of the last stage; the caller
    writes the checkpointed frame.  Each stage's row count is an
    ``observe()`` metric of that single execution, which runs with
    AQE's empty-relation rule off so that an emptied stage still
    reports its count."""
    observed: list[tuple[str, Observation]] = []

    def stage(name: str, frame: DataFrame) -> DataFrame:
        obs = Observation(name)
        observed.append((name, obs))
        return frame.observe(obs, F.count(F.lit(1)).alias("rows"))

    s0 = stage("input", extracted)
    # URL admission runs FIRST: the cheapest filter in the funnel (a
    # scan-local projection over the url column, zero shuffle), so
    # structurally-spammy pages never reach the content stages.
    sA = stage("url_admitted", url_admission(s0))
    s1 = stage("decoded", sA.filter(F.col("decode_error").isNull()))
    s1b = stage("template_strip", strip_host_templates(s1))
    s2 = stage("quality", quality_floor(s1b))
    s3 = stage("exact_dedup", exact_dedup(s2))
    s4 = stage("near_dedup", neardup_collapse(s3))
    s5 = stage("span_dedup", strip_repeated_spans(s4))
    conf = extracted.sparkSession.conf
    prior = conf.get(EXCLUDED_RULES, None)
    conf.set(EXCLUDED_RULES, ",".join(filter(None, (prior, PROPAGATE_EMPTY))))
    try:
        curated = s5.localCheckpoint(eager=True)
    finally:
        if prior is None:
            conf.unset(EXCLUDED_RULES)
        else:
            conf.set(EXCLUDED_RULES, prior)
    return curated, [{"stage": n, "rows": o.get["rows"]} for n, o in observed]


def with_host_rank(curated: DataFrame, ranks: DataFrame) -> DataFrame:
    """Attach each row's host authority (jobs/linkrank.py output) as
    ``host_rank_e9``; hosts absent from the rank table get 0.  A pure
    quality-prior column for downstream corpus mixing — never drops
    rows.  When the rank table carries ``harmonic_e6`` (linkrank
    ``--harmonic``), it passes through as ``host_harmonic_e6`` under
    the same absent-host-gets-0 rule.

    Scale: the rank table is O(hosts) — broadcast onto the curated
    frame; the host key derives from ``url`` in the scan projection.
    """
    has_harmonic = "harmonic_e6" in ranks.columns
    exprs = ["host AS _rh", "pagerank_e9 AS _rpr"]
    if has_harmonic:
        exprs.append("harmonic_e6 AS _rhc")
    rank_cols = ranks.selectExpr(*exprs)
    out = (
        curated.withColumn("_host", F.expr("parse_url(url, 'HOST')"))
        .join(F.broadcast(rank_cols), F.col("_host") == F.col("_rh"), "left")
        .withColumn(
            "host_rank_e9",
            F.coalesce(F.col("_rpr"), F.lit(0).cast("long")),
        )
    )
    if has_harmonic:
        out = out.withColumn(
            "host_harmonic_e6",
            F.coalesce(F.col("_rhc"), F.lit(0).cast("long")),
        )
    return out.drop("_host", "_rh", "_rpr", "_rhc")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--input", required=True, help="extracted table (parquet dir)")
    ap.add_argument("--output", required=True, help="curated output dir")
    ap.add_argument("--host-ranks", default=None,
                    help="host-rank table from jobs/linkrank.py; when set, "
                         "each curated row gains its host's authority as "
                         "host_rank_e9 (a quality prior for downstream "
                         "mixing — rows are never dropped by it)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from pdf_parser_spark.spark.session import build_session

    spark = build_session("pdf-parser-spark-curate", master=args.master)
    extracted = spark.read.parquet(args.input)
    curated, funnel = curate(extracted)
    if args.host_ranks:
        curated = with_host_rank(curated, spark.read.parquet(args.host_ranks))
    # The token count ships in the output as `n_tokens` — a useful
    # lineage column — so the composition aggregate reads the WRITTEN
    # table back instead of re-traversing the funnel.
    curated.withColumnRenamed("_n_tok", "n_tokens").withColumnRenamed(
        "_tok_removed", "span_tokens_removed"
    ).write.mode("overwrite").parquet(f"{args.output}/data")
    comp = [
        r.asDict()
        for r in spark.read.parquet(f"{args.output}/data")
        .groupBy("doc_type")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum("n_tokens").alias("tokens"),
            F.sum("span_tokens_removed").alias("span_tokens_removed"),
        )
        .collect()
    ]
    report = {"funnel": funnel, "composition": comp}
    with open(f"{args.output}/funnel.json", "w") as f:
        json.dump(report, f, indent=2)
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
