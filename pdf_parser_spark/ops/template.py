"""Per-host template-prefix detection: shared-boilerplate banners.

This operator detects the per-HOST shared PREFIX — the nav/header
banner a site's template stamps onto every page — by computing the
longest common prefix (LCP) of all documents on a host.  Template detection by cross-page commonality is the
classic boilerplate signal (Gibson et al. 2005, "The Volume and
Evolution of Web Page Templates", WWW; CleanEval / boilerplate
removal literature — all public); a host whose pages share a long
prefix is serving templated content, and the measured prefix is
exactly the string an extraction pipeline should strip.

The group LCP needs NO pairwise work: for lexicographic order,

    LCP(S_1 .. S_k) = LCP(min(S_i), max(S_i))

(any mismatch against the group LCP would re-order one of the
extremes), so one min/max aggregate replaces the O(k^2) comparison.
The LCP of the two extremes is found positionally: the first index
where they differ, via a generated index list filtered by
char-inequality — pure built-in expressions in both engines.

The driver's synthetic documents share no real host template, so both
engines prepend the same per-``source`` banner (string-literal
concat); on a real corpus the derivation disappears and the same plan
runs over (host, text).

Scale design:

* ``substr(text, 1, {PREFIX_CAP})`` is projected BEFORE the
  aggregate, so only {PREFIX_CAP}-char prefixes enter the shuffle —
  never document bodies (plan-asserted: ``template-prefix-narrow``);
* min/max are map-side combinable: the single exchange carries at
  most one (host, prefix, prefix) triple per upstream partition per
  host, O(hosts) rows total;
* the positional LCP scan runs once per HOST (post-aggregate), not
  per document — O(hosts x {PREFIX_CAP}) work corpus-wide.
* LCP is exact up to {PREFIX_CAP} chars; a banner longer than the
  cap reports ``lcp_len = {PREFIX_CAP}`` (still >= the templated
  threshold, so classification is unaffected).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pdf_parser_spark.ops.common import load_table

PREFIX_CAP = 200        # chars of each document entering the aggregate
TEMPLATE_MIN_LEN = 16   # LCP >= this -> the host is templated
MIN_DOCS = 2            # a 1-page host has no cross-page evidence
DISPLAY_CAP = 120       # chars of the template echoed in the output


def _banner_spark() -> F.Column:
    return F.concat(
        F.lit("WELCOME TO "),
        F.upper(F.col("source")),
        F.lit(".EXAMPLE.COM | HOME ABOUT CONTACT | "),
    )


_BANNER_SQL = "'WELCOME TO ' || upper(source) || '.EXAMPLE.COM | HOME ABOUT CONTACT | '"


def group_lcp(a: str, b: str) -> str:
    """LCP length of two string expressions, as Spark SQL text —
    positional first-mismatch over a generated index list (pure
    built-ins).  Combined with min/max aggregation this is the group
    LCP; also consumed by jobs/curate.py's template-strip stage."""
    n = f"least(length({a}), length({b}))"
    diffs = f"filter(sequence(1, {n}), i -> substr({a}, i, 1) != substr({b}, i, 1))"
    return (
        f"CAST(CASE WHEN {n} > 0 THEN coalesce(array_min({diffs}) - 1, {n})"
        " ELSE 0 END AS BIGINT)"
    )


def host_template_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(host, n_docs, lcp_len, template_prefix, is_templated): longest
    common prefix of all documents on each host via the min/max-LCP
    identity — one combinable aggregate, no pairwise comparisons."""
    docs = load_table(spark, sf_dir, "documents")
    pre = docs.select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        F.substring(
            F.concat(_banner_spark(), F.coalesce(F.col("text"), F.lit(""))),
            1,
            PREFIX_CAP,
        ).alias("p"),
    )
    ext = pre.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("p").alias("a"),
        F.max("p").alias("b"),
    )
    out = ext.withColumn("lcp_len", F.expr(group_lcp("a", "b")))
    return out.select(
        "host",
        "n_docs",
        "lcp_len",
        F.col("a")
        .substr(F.lit(1), F.least(F.col("lcp_len"), F.lit(DISPLAY_CAP)).cast("int"))
        .alias("template_prefix"),
        (
            (F.col("n_docs") >= MIN_DOCS)
            & (F.col("lcp_len") >= TEMPLATE_MIN_LEN)
        ).alias("is_templated"),
    )


HOST_TEMPLATE_PREFIX_SQL = f"""
WITH pre AS (
  SELECT source || '.example.com' AS host,
         substr({_BANNER_SQL} || coalesce(text, ''), 1, {PREFIX_CAP}) AS p
  FROM documents
),
ext AS (
  SELECT host, count(*)::BIGINT AS n_docs, min(p) AS a, max(p) AS b
  FROM pre GROUP BY host
),
l AS (
  SELECT host, n_docs, a, b,
         least(length(a), length(b)) AS n
  FROM ext
),
lcp AS (
  SELECT host, n_docs, a,
         (CASE WHEN n > 0
               THEN coalesce(
                 list_min([i FOR i IN range(1, n + 1) IF a[i] != b[i]]) - 1,
                 n)
               ELSE 0 END)::BIGINT AS lcp_len
  FROM l
)
SELECT host, n_docs, lcp_len,
       substr(a, 1, least(lcp_len, {DISPLAY_CAP})) AS template_prefix,
       (n_docs >= {MIN_DOCS} AND lcp_len >= {TEMPLATE_MIN_LEN}) AS is_templated
FROM lcp
"""


QUERIES = {
    "host_template_prefix": (host_template_prefix, HOST_TEMPLATE_PREFIX_SQL),
}
