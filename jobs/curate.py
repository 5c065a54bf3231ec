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
  4. quality floor              (at least MIN_TOKENS tokens, at least
                                 half of them carrying an ASCII letter)
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

and writes the curated rows as plain parquet (no bucketing, no
repartition by url) to ``{output}/data``, with the funnel counts and
per-doc_type composition as JSON in ``{output}/funnel.json``.

Execution: every per-document signal the later stages need is
computed once, by one Arrow UDF over the template-stripped text
(:func:`add_features`), in the scan's partitions before any shuffle.
It returns one struct column ``_f``: the token count, the
quality-floor verdict, the negated integer quality score, the MinHash
signature and the 8-gram hashes.  ``curate()`` materializes that frame
with an eager ``localCheckpoint``.  The quality floor is then a filter
on ``_f.keep``, exact dedup a window over the md5 of the text, the
band collapse a window over band keys cut from ``_f.sig`` plus one
anti join, and the span strip a window over the hashes in ``_f.grams``
whose hit positions a second Arrow UDF turns back into text.  A second
``localCheckpoint`` materializes the curated frame.  Each stage's
survivor count is an ``observe()`` metric of one of those two
executions, so audit and data cannot drift.

Run:  spark-submit --py-files dist/engine.zip jobs/curate.py \
          --input /path/extracted --output /path/curated
"""

from __future__ import annotations

import argparse
import json
import math
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: E402
from pyspark.sql import DataFrame, Observation, Window, functions as F  # noqa: E402
from pyspark.sql.pandas.functions import pandas_udf  # noqa: E402
from pyspark.sql.types import (  # noqa: E402
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pdf_parser_spark.ops.dedup import lsh_bands, minhash_signature  # noqa: E402
from pdf_parser_spark.ops.substring import GRAM_N, _gram_hashes, dup_gram_hits  # noqa: E402
from pdf_parser_spark.ops.textstats import STOPWORDS  # noqa: E402

MIN_TOKENS = 5  # quality floor: at least this many tokens, and 2 * alpha >= tokens
# the per-document signals add_features computes, one struct per row;
# nq is minus the integer quality score, so min(nq, url) picks the best
FEATURES = StructType([
    StructField("n_tok", IntegerType()),
    StructField("keep", BooleanType()),
    StructField("nq", LongType()),
    StructField("sig", ArrayType(LongType())),
    StructField("grams", ArrayType(LongType())),
])
REBUILT = StructType([
    StructField("text", StringType()),
    StructField("n_tok", IntegerType()),
    StructField("removed", LongType()),
])
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
            # far as we looked: the host mirrors one page, which exact
            # dedup removes; it is not a banner.  The banner evidence
            # is a prefix that visibly ENDS inside the cap
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


def _make_feature_udf():
    """The per-document feature UDF: text → ``FEATURES`` struct.

    Each field equals the Spark definition it replaces: ``n_tok`` is
    ``size(ops.common.tokens(text))``; ``keep`` is the quality floor
    (``n_tok >= MIN_TOKENS`` and ``2 * n_alpha >= n_tok``, where a
    token is alpha when it holds an ASCII letter); ``nq`` is minus
    ops.textstats.quality_features' score scaled by 10^4 and rounded
    half up, summed in the same order; ``sig`` and ``grams`` are the
    ops.dedup MinHash signature and the ops.substring 8-gram hashes.
    A null text gives a null ``n_tok`` and ``nq``, as ``size(null)``
    does; an empty one a null ``nq``."""
    stop = frozenset(STOPWORDS)
    alpha = re.compile("[A-Za-z]").search

    @pandas_udf(FEATURES)
    def features(text: pd.Series) -> pd.DataFrame:
        rows = []
        for t in text:
            if t is None:
                rows.append((None, False, None, [], []))
                continue
            toks = [w for w in t.split(" ") if w]
            n = len(toks)
            n_alpha = sum(1 for w in toks if alpha(w))
            nq = None
            if n:
                score = (0.4 * (sum(1 for w in toks if w in stop) / n)
                         + 0.3 * (len(set(toks)) / n)
                         + 0.3 * min(n / 50.0, 1.0))
                nq = -math.floor(score * 10000.0 + 0.5)
            rows.append((n, n >= MIN_TOKENS and 2 * n_alpha >= n, nq,
                         minhash_signature(t), _gram_hashes(t)))
        return pd.DataFrame(rows, columns=FEATURES.names, dtype=object)

    return features


def _make_rebuild_udf():
    """The span-strip rebuild: (text, hit positions) → ``REBUILT``.
    A token is covered when it lies in ``[pos, pos + GRAM_N - 1]`` of
    any hit; the kept tokens are joined with single spaces, so a row
    without hits comes back with its whitespace runs collapsed."""

    @pandas_udf(REBUILT)
    def rebuild(text: pd.Series, hits: pd.Series) -> pd.DataFrame:
        rows = []
        for t, hp in zip(text, hits):
            if t is None:
                rows.append((None, None, None))
                continue
            toks = [w for w in t.split(" ") if w]
            covered = set()
            if hp is not None:
                for p in hp:
                    covered.update(range(p, p + GRAM_N))
            kept = [w for i, w in enumerate(toks) if i not in covered]
            rows.append((" ".join(kept), len(kept), len(toks) - len(kept)))
        return pd.DataFrame(rows, columns=REBUILT.names, dtype=object)

    return rebuild


def add_features(df: DataFrame, text_col: str = "text_extracted") -> DataFrame:
    """Attach the ``_f`` feature struct (see :func:`_make_feature_udf`)
    that stages 4-7 read; a narrow projection, one UDF call per row."""
    return df.withColumn("_f", _make_feature_udf()(F.col(text_col)))


def quality_floor(df: DataFrame) -> DataFrame:
    """Stage 4: keep the rows whose ``_f.keep`` verdict passes the
    floor: at least MIN_TOKENS tokens, at least half of them carrying
    an ASCII letter (an integer gate, ``2 * n_alpha >= n_tok``)."""
    return df.filter(F.col("_f.keep"))


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


def neardup_collapse(df: DataFrame) -> DataFrame:
    """Stage 6: banded MinHash-LSH collapse, keep the BEST-quality
    member per bucket (FineWeb-style keep-best: the highest quality
    score wins, ties break to the min url).

    Reads the signature and the negated quality score from ``_f``.
    Only ``(url, nq, band keys)`` shuffle, never text; a near-dup
    group shares at least one band bucket, and the keeper rule (a doc
    survives only if it wins its bucket in EVERY band) removes one
    side of every detected pair deterministically: every url that
    loses some band is dropped by one anti join.  Docs too short to
    shingle (empty signature) pass through untouched."""
    sig = df.filter(F.size("_f.sig") > 0).select(
        "url", F.col("_f.nq").alias("_nq"), F.col("_f.sig").alias("sig")
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
    the kept token count and ``_tok_removed`` the per-row strip count
    for lineage.  Drops ``_f``.

    The gram hashes come from ``_f``; only (gram, id, pos) triples
    shuffle, through one dup-gram window over the gram hash.  Each
    document's hit positions are collected and joined back, and the
    rebuild UDF keeps the tokens no hit covers."""
    grams = df.select(id_col, F.posexplode("_f.grams").alias("pos", "g"))
    hits = (
        dup_gram_hits(grams, id_col)
        .groupBy(id_col)
        .agg(F.collect_list("pos").alias("_hp"))
    )
    rebuilt = _make_rebuild_udf()(F.col(text_col), F.col("_hp"))
    return (
        df.join(hits, id_col, "left")
        .withColumn("_r", rebuilt)
        .withColumns({
            text_col: F.col("_r.text"),
            "_n_tok": F.col("_r.n_tok"),
            "_tok_removed": F.col("_r.removed"),
        })
        .drop("_f", "_hp", "_r")
    )


def curate(extracted: DataFrame) -> tuple[DataFrame, list[dict]]:
    """Run the funnel; returns (curated DF, per-stage lineage rows).

    The stages compose into lazy plans that run in two executions,
    each an eager ``localCheckpoint``: admission through the feature
    pass, then the quality floor through the span strip; the caller
    writes the second, checkpointed frame.  Each stage's row count is
    an ``observe()`` metric of its execution.  Both run with AQE's
    empty-relation rule off, so that an emptied stage still reports
    its count."""
    observed: list[tuple[str, Observation]] = []

    def stage(name: str, frame: DataFrame) -> DataFrame:
        obs = Observation(name)
        observed.append((name, obs))
        return frame.observe(obs, F.count(F.lit(1)).alias("rows"))

    conf = extracted.sparkSession.conf
    prior = conf.get(EXCLUDED_RULES, None)
    conf.set(EXCLUDED_RULES, ",".join(filter(None, (prior, PROPAGATE_EMPTY))))
    try:
        s0 = stage("input", extracted)
        # URL admission runs FIRST: the cheapest filter in the funnel
        # (a scan-local projection over the url column, zero shuffle),
        # so structurally-spammy pages never reach the content stages.
        sA = stage("url_admitted", url_admission(s0))
        s1 = stage("decoded", sA.filter(F.col("decode_error").isNull()))
        s1b = stage("template_strip", strip_host_templates(s1))
        feats = add_features(s1b).localCheckpoint(eager=True)
        s2 = stage("quality", quality_floor(feats))
        s3 = stage("exact_dedup", exact_dedup(s2))
        s4 = stage("near_dedup", neardup_collapse(s3))
        s5 = stage("span_dedup", strip_repeated_spans(s4))
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
    comp = [
        r.asDict()
        for r in curated.groupBy("doc_type")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum("_n_tok").alias("tokens"),
            F.sum("_tok_removed").alias("span_tokens_removed"),
        )
        .collect()
    ]
    if args.host_ranks:
        curated = with_host_rank(curated, spark.read.parquet(args.host_ranks))
    curated.withColumnRenamed("_n_tok", "n_tokens").withColumnRenamed(
        "_tok_removed", "span_tokens_removed"
    ).write.mode("overwrite").parquet(f"{args.output}/data")
    report = {"funnel": funnel, "composition": comp}
    with open(f"{args.output}/funnel.json", "w") as f:
        json.dump(report, f, indent=2)
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
