"""URL blocklist admission: category domain list + keyword scoring.

Production web-corpus pipelines gate crawl output by URL before any
content-level filter runs (RefinedWeb §2.2 "URL filtering", Penedo et
al. 2023, arXiv:2306.01116; FineWeb, Penedo et al. 2024 — both
public): a curated blocklist of domains in unwanted categories
(adult / gambling / pharma, the UT1-blacklist shape) plus a weighted
keyword score over the full URL string.  The reference engine has no
corpus admission layer (it is a single-document extractor); this
operator adds the standard first-stage gate alongside
ops/filtering.py's url_host_filter (registered-domain policy) and
robots_filter (path-prefix policy).

Rule (FineWeb-style hard/soft words): ``kw_score = 2 × hard_hits +
soft_hits`` over substring matches in the whole URL; a page is
admitted iff its domain is not category-listed AND ``kw_score < 2``
— one hard word or two soft words is enough to block.

The driver's tables carry no URLs, so both engines derive the
identical log from ``documents``:
domain from a 10-way pool (three of which are category-listed) and a
5-way path shape that plants hard/soft words in known slots.  On a
real corpus the derivation disappears and the same plan runs over the
pages table's url column; the vendored pool is swapped for the full
UT1 list via the ``blocklist_rows`` hook (same swap-in design as
ops/psl.py's ``rules``).

Scale design:

* the blocklist is O(10^4-10^6) two-column rows — BROADCAST, never a
  shuffle side.  The corpus side keeps only (doc_id, url) — nothing
  document-sized enters the join;
* keyword scoring is a scan-local projection (JVM ``contains`` inside
  WholeStageCodegen, no Python, no regex backtracking — plain
  substring search per word);
* the op is row-per-input with a broadcast left join: ZERO
  hash-partition exchanges at any corpus size (plan-asserted in
  scripts/audit_plans.py: `blocklist-broadcast-no-shuffle`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pdf_parser_spark.ops.common import load_table

# Vendored category list (UT1-shaped: domain -> category).  Three of
# the ten derived domains are listed; the rest are clean.
BLOCKLIST: list[tuple[str, str]] = [
    ("lucky-casino.example", "gambling"),
    ("adult-hub.example", "adult"),
    ("pills-direct.example", "pharma"),
]

DOMAINS: list[str] = [
    "lucky-casino.example",
    "adult-hub.example",
    "pills-direct.example",
    "news-daily.example",
    "tech-blog.example",
    "recipes-home.example",
    "travel-guide.example",
    "city-library.example",
    "uni-courses.example",
    "open-source.example",
]

# Hard words block alone (weight 2); soft words block in pairs.
HARD_WORDS: list[str] = ["casino", "poker", "escort"]
SOFT_WORDS: list[str] = ["bet", "win", "free"]

_PATHS = [
    "'/casino/room-' || doc_id",            # hard hit -> blocked
    "'/sports/bet-today-' || doc_id",        # one soft hit -> admitted
    "'/news/win-free-' || doc_id",           # two soft hits -> blocked
    "'/articles/' || doc_id",                # clean
    "'/shop/item-' || doc_id",               # clean
]


def _urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    domain = "CASE doc_id % 10 " + " ".join(
        f"WHEN {i} THEN '{d}'" for i, d in enumerate(DOMAINS)
    ) + " END"
    path = "CASE doc_id % 5 " + " ".join(
        f"WHEN {i} THEN {p}" for i, p in enumerate(_PATHS)
    ) + " END"
    return docs.selectExpr(
        "doc_id",
        f"{domain} AS domain",
        f"'https://' || {domain} || {path} AS url",
    )


_URLS_SQL = (
    "urls AS (\n"
    "  SELECT doc_id,\n"
    "         CASE doc_id % 10 "
    + " ".join(f"WHEN {i} THEN '{d}'" for i, d in enumerate(DOMAINS))
    + " END AS domain,\n"
    "         'https://' || (CASE doc_id % 10 "
    + " ".join(f"WHEN {i} THEN '{d}'" for i, d in enumerate(DOMAINS))
    + " END) || (CASE doc_id % 5 "
    + " ".join(f"WHEN {i} THEN {p}" for i, p in enumerate(_PATHS))
    + " END) AS url\n"
    "  FROM documents\n"
    ")"
)


def _kw_score(url: F.Column) -> F.Column:
    score = F.lit(0)
    for w in HARD_WORDS:
        score = score + F.when(url.contains(w), 2).otherwise(0)
    for w in SOFT_WORDS:
        score = score + F.when(url.contains(w), 1).otherwise(0)
    return score.cast("int")


def _kw_score_sql(expr: str) -> str:
    terms = [
        f"(CASE WHEN contains({expr}, '{w}') THEN 2 ELSE 0 END)"
        for w in HARD_WORDS
    ] + [
        f"(CASE WHEN contains({expr}, '{w}') THEN 1 ELSE 0 END)"
        for w in SOFT_WORDS
    ]
    return "(" + " + ".join(terms) + ")::INT"


def blocklist_df(
    spark: SparkSession,
    blocklist_rows: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """The (domain, category) dimension table.  ``blocklist_rows``
    is the production swap-in hook for a full UT1-scale list."""
    return spark.createDataFrame(
        blocklist_rows or BLOCKLIST, "domain string, category string"
    )


def url_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, url, domain, category, kw_score, admitted): first-stage
    URL admission over the derived crawl log — category-domain
    broadcast join + hard/soft keyword score, RefinedWeb-style."""
    urls = _urls(spark, sf_dir)
    bl = blocklist_df(spark)
    return (
        urls.join(F.broadcast(bl), "domain", "left")
        .select(
            "doc_id",
            "url",
            "domain",
            "category",
            _kw_score(F.col("url")).alias("kw_score"),
        )
        .withColumn(
            "admitted",
            F.col("category").isNull() & (F.col("kw_score") < 2),
        )
    )


_BLOCKLIST_VALUES = ", ".join(f"('{d}', '{c}')" for d, c in BLOCKLIST)

URL_BLOCKLIST_FILTER_SQL = f"""
WITH {_URLS_SQL},
blocklist(domain, category) AS (VALUES {_BLOCKLIST_VALUES})
SELECT u.doc_id, u.url, u.domain, b.category,
       {_kw_score_sql('u.url')} AS kw_score,
       (b.category IS NULL AND {_kw_score_sql('u.url')} < 2) AS admitted
FROM urls u LEFT JOIN blocklist b USING (domain)
"""


QUERIES = {
    "url_blocklist_filter": (url_blocklist_filter, URL_BLOCKLIST_FILTER_SQL),
}
