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
  5. exact dedup                (md5 window, keep min url,
                                 ties to the min row id)
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
It tokenises each document once and returns one struct column
``_f``: the token count, the quality-floor verdict, the negated
integer quality score, the MinHash signature and the 8-gram hashes,
both cut from the same tokens.  Beside it sits a row id ``_id``.
``curate()`` materializes that frame with an eager
``localCheckpoint``, which makes ``_id`` stable.  The second
execution then decides every drop on relations that carry no text
and keys every decision by ``_id``: the quality floor is a filter on
``_f.keep``; exact dedup a min-url window over ``(_id, url, md5)``
rows; the band collapse a window over band keys cut from ``_f.sig``;
and the span strip a window over ``(_id, pos, gram)`` rows, whose
hit positions are collected per ``_id``.  The losers leave the full
rows through anti joins on ``_id`` and the hit positions join back
on it, so two rows of one url stay two documents; a second Arrow UDF
rebuilds the text.  AQE broadcasts those relations while they are
small, so the text never shuffles (a large loser set may get a
sort-merge join, which does shuffle the rows).  The band keys are cut
from the quality survivors, so the md5 and band windows run side by
side.  A second ``localCheckpoint`` materializes the curated frame.
Each stage's survivor count is an ``observe()`` metric of one of
those two executions, so audit and data cannot drift.  The plans are
built from SQL text and one-call projections, about 600 JVM round
trips per pass.

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
from pyspark.sql import DataFrame, Observation, functions as F  # noqa: E402
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

from pdf_parser_spark.ops.common import h32_grams, utf8_tokens  # noqa: E402
from pdf_parser_spark.ops.dedup import SHINGLE_N, lsh_bands, minhash_of  # noqa: E402
from pdf_parser_spark.ops.substring import GRAM_N, dup_gram_hits  # noqa: E402
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
    from pdf_parser_spark.ops.urlquality import spam_feature_sql

    return df.where(spam_feature_sql(url_col)["admitted"])


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

    host = f"regexp_extract({url_col}, '^[A-Za-z][A-Za-z0-9+.-]*://([^/]+)', 1)"
    tmpl = (
        df.selectExpr(
            f"{host} AS _h",
            f"substring(coalesce({text_col}, ''), 1, {PREFIX_CAP}) AS _p",
        )
        .groupBy("_h")
        .agg(F.expr("count(1) AS _n"), F.expr("min(_p) AS _a"),
             F.expr("max(_p) AS _b"))
        .selectExpr("_h", "_n", "_a", f"{group_lcp('_a', '_b')} AS _tlen")
        # a FULL-cap LCP means the host's docs are identical as far as
        # we looked: the host mirrors one page, which exact dedup
        # removes; it is not a banner.  The banner evidence is a
        # prefix that visibly ENDS inside the cap
        .where(f"_n >= {MIN_DOCS} AND _tlen >= {TEMPLATE_MIN_LEN}"
               f" AND _tlen < {PREFIX_CAP}")
        .selectExpr("_h", "substr(_a, 1, CAST(_tlen AS INT)) AS _tmpl", "_tlen")
    )
    has_tmpl = f"_tmpl IS NOT NULL AND startswith({text_col}, _tmpl)"
    stripped = (
        f"CASE WHEN {has_tmpl} THEN substr({text_col}, CAST(_tlen + 1 AS INT),"
        f" length({text_col})) ELSE {text_col} END AS {text_col}"
    )
    return (
        df.selectExpr("*", f"{host} AS _h")
        .join(F.broadcast(tmpl), "_h", "left")
        .selectExpr(
            *(stripped if c == text_col else f"`{c}`" for c in df.columns),
            f"CAST(CASE WHEN {has_tmpl} THEN _tlen ELSE 0 END AS BIGINT)"
            " AS _template_removed",
        )
    )


_STOP = frozenset(w.encode() for w in STOPWORDS)
_ALPHA = re.compile(rb"[A-Za-z]").search


def doc_features(text: str | None) -> tuple:
    """One document's ``FEATURES`` row, from one tokenisation.

    Each field equals the Spark definition it replaces: ``n_tok`` is
    ``size(ops.common.tokens(text))``; ``keep`` is the quality floor
    (``n_tok >= MIN_TOKENS`` and ``2 * n_alpha >= n_tok``, where a
    token is alpha when it holds an ASCII letter); ``nq`` is minus
    ops.textstats.quality_features' score scaled by 10^4 and rounded
    half up, summed in the same order; ``sig`` and ``grams`` are the
    ops.dedup MinHash signature and the ops.substring 8-gram hashes,
    both cut by one ``ops.common.h32_grams`` call from the same
    tokens.  The tokens are the UTF-8 bytes of the whitespace split:
    the letter test, the stopword test and the distinct count read the
    same on bytes as on text.  A null text gives a null ``n_tok`` and
    ``nq``, as ``size(null)`` does; an empty one a null ``nq``."""
    if text is None:
        return (None, False, None, [], [])
    b, toks = utf8_tokens(text)
    n = len(toks)
    nq = None
    if n:
        score = (0.4 * (len(list(filter(_STOP.__contains__, toks))) / n)
                 + 0.3 * (len(set(toks)) / n)
                 + 0.3 * min(n / 50.0, 1.0))
        nq = -math.floor(score * 10000.0 + 0.5)
    n_alpha = len(list(filter(_ALPHA, toks)))
    shingles, grams = h32_grams(b, toks, SHINGLE_N, GRAM_N)
    return (n, n >= MIN_TOKENS and 2 * n_alpha >= n, nq,
            minhash_of(shingles), grams.tolist())


def _make_feature_udf():
    """The per-document feature UDF: text → ``FEATURES`` struct, one
    :func:`doc_features` row per document."""

    @pandas_udf(FEATURES)
    def features(text: pd.Series) -> pd.DataFrame:
        rows = [doc_features(t) for t in text]
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
    """Attach the ``_f`` feature struct (see :func:`doc_features`)
    that stages 4-7 read, and a row id ``_id`` that stages 5-7 key
    their decisions by; a narrow projection, one UDF call per row.
    ``_id`` is stable once the frame is checkpointed, as ``curate()``
    does."""
    return df.select(
        "*",
        F.monotonically_increasing_id().alias("_id"),
        _make_feature_udf()(F.col(text_col)).alias("_f"),
    )


def quality_floor(df: DataFrame) -> DataFrame:
    """Stage 4: keep the rows whose ``_f.keep`` verdict passes the
    floor: at least MIN_TOKENS tokens, at least half of them carrying
    an ASCII letter (an integer gate, ``2 * n_alpha >= n_tok``)."""
    return df.where("_f.keep")


def exact_dedup(df: DataFrame, text_col: str = "text_extracted") -> DataFrame:
    """Stage 5: the keeper is the min url per md5 of the text, ties to
    the min row id ``_id`` (deterministic, resume-stable).  The md5
    window runs over an ``(_id, url, _md5)`` projection, so no text
    shuffles; the losers leave the full rows through one anti join on
    ``_id``.  Two rows of one url with one text are one document
    twice: the lower ``_id`` stays."""
    losers = (
        df.selectExpr("_id", "url", f"md5(CAST({text_col} AS BINARY)) AS _md5")
        .selectExpr(
            "_id", "min_by(_id, struct(url, _id)) OVER (PARTITION BY _md5) AS _k"
        )
        .where("_id != _k")
    )
    return df.join(losers, "_id", "left_anti")


def neardup_collapse(df: DataFrame, pool: DataFrame) -> DataFrame:
    """Stage 6: banded MinHash-LSH collapse, keep the BEST-quality
    member per bucket (FineWeb-style keep-best: the highest quality
    score wins, ties break to the min url, then the min ``_id``).

    Reads the signature and the negated quality score from ``_f``.
    Only ``(_id, url, nq, band keys)`` shuffle, never text; a near-dup
    group shares at least one band bucket, and the keeper rule (a doc
    survives only if it wins its bucket in EVERY band) removes one
    side of every detected pair deterministically: every row that
    loses some band leaves ``df`` through one anti join on ``_id``.
    Docs too short to shingle (empty signature) pass through
    untouched.

    The band keys are cut from ``pool``, the frame before exact dedup,
    so the band window need not wait for the md5 window.  That drops
    the same rows: an exact-dup loser has its keeper's signature,
    quality score and buckets, and sorts after it, so it wins no
    bucket and changes no bucket's winner."""
    sig = pool.where("size(_f.sig) > 0").selectExpr(
        "_id", "url", "_f.nq AS _nq", "_f.sig AS sig"
    )
    # arg-max quality = min of (-q, url, _id) over the band bucket
    losers = (
        lsh_bands(sig)
        .selectExpr(
            "_id",
            "min_by(_id, struct(_nq, url, _id)) OVER (PARTITION BY band, band_key) AS _k",
        )
        .where("_id != _k")
    )
    return df.join(losers, "_id", "left_anti")


def strip_repeated_spans(
    df: DataFrame, text_col: str = "text_extracted", id_col: str = "_id"
) -> DataFrame:
    """Stage 7: blank cross-document repeated spans (Lee et al.
    ACL'22 exact-substring dedup at the n-gram anchor —
    ops/substring.py documents the exactness argument) from EVERY
    carrier row.  Rows are transformed, never dropped; ``_n_tok`` is
    the kept token count and ``_tok_removed`` the per-row strip count
    for lineage.  Drops ``_f`` and ``_id``.

    The gram hashes come from ``_f``; only (gram, row id, pos) triples
    shuffle, through one dup-gram window over the gram hash.  Each
    document's hit positions are collected and joined back on the row
    id, and the rebuild UDF keeps the tokens no hit covers."""
    hits = (
        dup_gram_hits(
            df.selectExpr(id_col, "posexplode(_f.grams) AS (pos, g)"), id_col
        )
        .groupBy(id_col)
        .agg(F.expr("collect_list(pos) AS _hp"))
    )
    rebuilt = _make_rebuild_udf()(F.col(text_col), F.col("_hp"))
    cols = [f"_r.text AS {text_col}" if c == text_col else f"`{c}`"
            for c in df.columns if c not in ("_f", id_col)]
    return (
        df.join(hits, id_col, "left")
        .select("*", rebuilt.alias("_r"))
        .selectExpr(*cols, "_r.n_tok AS _n_tok", "_r.removed AS _tok_removed")
    )


def curate(extracted: DataFrame) -> tuple[DataFrame, list[dict]]:
    """Run the funnel; returns (curated DF, per-stage lineage rows).

    The stages compose into lazy plans that
    run in two executions, each an eager ``localCheckpoint``:
    admission through the feature pass, then the quality floor
    through the span strip; the caller writes the second, checkpointed
    frame.  Each stage's row count is an ``observe()`` metric of its
    execution.  Both run with AQE's empty-relation rule off, so that
    an emptied stage still reports its count."""
    observed: list[tuple[str, Observation]] = []
    rows = F.expr("count(1) AS rows")

    def stage(name: str, frame: DataFrame) -> DataFrame:
        obs = Observation(name)
        observed.append((name, obs))
        return frame.observe(obs, rows)

    conf = extracted.sparkSession.conf
    prior = conf.get(EXCLUDED_RULES, None)
    conf.set(EXCLUDED_RULES, ",".join(filter(None, (prior, PROPAGATE_EMPTY))))
    try:
        s0 = stage("input", extracted)
        # URL admission runs FIRST: the cheapest filter in the funnel
        # (a scan-local projection over the url column, zero shuffle),
        # so structurally-spammy pages never reach the content stages.
        sA = stage("url_admitted", url_admission(s0))
        s1 = stage("decoded", sA.where("decode_error IS NULL"))
        s1b = stage("template_strip", strip_host_templates(s1))
        feats = add_features(s1b).localCheckpoint(eager=True)
        s2 = stage("quality", quality_floor(feats))
        s3 = stage("exact_dedup", exact_dedup(s2))
        s4 = stage("near_dedup", neardup_collapse(s3, s2))
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
