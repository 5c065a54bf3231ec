"""URL-feature spam scoring: shape-based admission without a list.

A blocklist gates on WHO the host is (a curated category list);
this operator gates on what the URL LOOKS like — the complementary,
list-free first-stage filter every production web pipeline runs
alongside one (RefinedWeb §2.2, Penedo et al. 2023,
arXiv:2306.01116, scores "URLs with spam-correlated shapes";
FineWeb's url filtering, Penedo et al. 2024 — both public).  SEO-spam
and auto-generated pages betray themselves structurally: digit-heavy
paths, long ID runs, keyword-stuffed hyphen chains, parameter farms,
and very deep or very long URLs.  The reference engine has no corpus
admission layer (single-document extractor), so this op has no
reference counterpart to cite beyond the public papers above.

Scoring (integer points, all thresholds documented inline):

* digit share > 20% of the URL          -> +2  (ID-farm paths)
* a run of >= 6 consecutive digits      -> +2  (database-key URLs)
* >= 4 hyphens                          -> +1  (keyword stuffing)
* >= 3 query parameters (``=`` count)   -> +1  (parameter farms)
* path depth >= 6 segments              -> +1  (auto-generated trees)
* total length >= 90 chars              -> +1
admitted iff ``spam_score < 3`` — one structural tell is tolerated,
a combination is not.

The driver's tables carry no URLs, so both engines derive the same
crawl log from ``documents``: five
path shapes planting each structural tell in a known slot.  On a real
corpus the derivation disappears and the identical projection runs
over the pages table's url column.

Scale design: this is a pure scan-local projection — counts via
``length(x) - length(regexp_replace(x, class, ''))``, one anchored
regexp for the digit run, integer arithmetic throughout, ZERO
exchanges of any kind at any corpus size (plan-asserted by
tests/test_ops_urlquality.py::test_plan_is_scan_local).  Everything runs
JVM-side inside WholeStageCodegen; the digit-share ratio is exact
integer ppm (``n_digits * 1000000 / url_len``), so Spark and DuckDB
agree bit-for-bit with no float rounding anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pdf_parser_spark.ops.common import load_table

DOMAINS: list[str] = [
    "news-daily.example",
    "deals-zone.example",
    "tech-blog.example",
    "id-farm.example",
    "city-library.example",
]

# One structural tell per slot; slot 4 is clean.
_PATHS = [
    # digit-heavy: doc_id^2 gives a long all-digit tail -> digit share
    # + long-run tells
    "'/p/' || (doc_id * doc_id)::VARCHAR || '/' || doc_id::VARCHAR",
    # keyword-stuffed hyphen chain
    "'/cheap-deal-best-price-buy-now-today-' || doc_id::VARCHAR",
    # parameter farm
    "'/article?id=' || doc_id::VARCHAR || '&ref=home&src=feed&utm=1'",
    # auto-generated deep tree
    "'/c/sub1/sub2/sub3/sub4/sub5/item-' || doc_id::VARCHAR",
    # clean editorial path
    "'/blog/post-' || doc_id::VARCHAR",
]

DIGIT_SHARE_PPM = 200_000  # +2 when digits exceed 20% of the URL
LONG_DIGIT_RUN = 6         # +2 when >= 6 consecutive digits appear
HYPHEN_MIN = 4             # +1
PARAM_MIN = 3              # +1
DEPTH_MIN = 6              # +1 path segments
LEN_MIN = 90               # +1
ADMIT_BELOW = 3


def _urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    domain = "CASE doc_id % 5 " + " ".join(
        f"WHEN {i} THEN '{d}'" for i, d in enumerate(DOMAINS)
    ) + " END"
    # Spark's || on BIGINT concatenates via implicit cast; keep the
    # explicit CAST spelling shared with the oracle.
    path = "CASE doc_id % 5 " + " ".join(
        f"WHEN {i} THEN {p.replace('::VARCHAR', '')}" for i, p in enumerate(_PATHS)
    ) + " END"
    return docs.selectExpr(
        "doc_id", f"'https://' || {domain} || {path} AS url"
    )


_URLS_SQL = (
    "urls AS (\n"
    "  SELECT doc_id,\n"
    "         'https://' || (CASE doc_id % 5 "
    + " ".join(f"WHEN {i} THEN '{d}'" for i, d in enumerate(DOMAINS))
    + " END) || (CASE doc_id % 5 "
    + " ".join(f"WHEN {i} THEN {p}" for i, p in enumerate(_PATHS))
    + " END) AS url\n"
    "  FROM documents\n"
    ")"
)


def _count_class(url: str, pattern: str) -> str:
    """Occurrences of a char class = length minus length-after-strip."""
    return f"CAST(length({url}) - length(regexp_replace({url}, '{pattern}', '')) AS BIGINT)"


def spam_feature_sql(url: str = "url") -> dict[str, str]:
    """The structural feature + score columns over ANY url column, as
    Spark SQL text over the expression ``url`` — the reusable core
    consumed both by the oracled op (derived urls) and by
    jobs/curate.py's admission stage (real crawl urls).  All
    scan-local codegen; safe to project anywhere.  SQL text, not
    Column builders: the parser builds the whole score in one call
    instead of one JVM round trip per operator."""
    url_len = f"CAST(length({url}) AS BIGINT)"
    n_digits = _count_class(url, "[0-9]")
    # integral div, guarded: an empty url must score, not raise
    digit_ppm = f"CASE WHEN {url_len} > 0 THEN ({n_digits} * 1000000) div {url_len} ELSE 0L END"
    n_hyphens = _count_class(url, "-")
    n_params = _count_class(url, "=")
    # segments between slashes after the scheme's ``//``
    path_depth = f"({_count_class(url, '/')} - 2)"
    long_run = f"({url} RLIKE '[0-9]{{{LONG_DIGIT_RUN},}}')"
    score = (
        f"CAST((CASE WHEN {digit_ppm} > {DIGIT_SHARE_PPM} THEN 2 ELSE 0 END)"
        f" + (CASE WHEN {long_run} THEN 2 ELSE 0 END)"
        f" + (CASE WHEN {n_hyphens} >= {HYPHEN_MIN} THEN 1 ELSE 0 END)"
        f" + (CASE WHEN {n_params} >= {PARAM_MIN} THEN 1 ELSE 0 END)"
        f" + (CASE WHEN {path_depth} >= {DEPTH_MIN} THEN 1 ELSE 0 END)"
        f" + (CASE WHEN {url_len} >= {LEN_MIN} THEN 1 ELSE 0 END) AS BIGINT)"
    )
    return {
        "url_len": url_len,
        "n_digits": n_digits,
        "digit_ppm": digit_ppm,
        "n_hyphens": n_hyphens,
        "n_params": n_params,
        "path_depth": path_depth,
        "long_digit_run": long_run,
        "spam_score": score,
        "admitted": f"({score} < {ADMIT_BELOW})",
    }


def url_spam_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, url, url_len, n_digits, digit_ppm, n_hyphens,
    n_params, path_depth, long_digit_run, spam_score, admitted):
    structural URL spam features + integer score, RefinedWeb-style."""
    return _urls(spark, sf_dir).selectExpr(
        "doc_id",
        "url",
        *[f"{sql} AS {name}" for name, sql in spam_feature_sql("url").items()],
    )


def _cnt_sql(expr: str, pattern: str) -> str:
    return (
        f"(length({expr}) - length(regexp_replace({expr}, '{pattern}', '', 'g')))"
        "::BIGINT"
    )


_SCORE_SQL = (
    "((CASE WHEN (" + _cnt_sql("url", "[0-9]") + " * 1000000 // length(url))"
    f" > {DIGIT_SHARE_PPM} THEN 2 ELSE 0 END)"
    f" + (CASE WHEN regexp_matches(url, '[0-9]{{{LONG_DIGIT_RUN},}}')"
    " THEN 2 ELSE 0 END)"
    f" + (CASE WHEN {_cnt_sql('url', '-')} >= {HYPHEN_MIN} THEN 1 ELSE 0 END)"
    f" + (CASE WHEN {_cnt_sql('url', '=')} >= {PARAM_MIN} THEN 1 ELSE 0 END)"
    f" + (CASE WHEN {_cnt_sql('url', '/')} - 2 >= {DEPTH_MIN} THEN 1 ELSE 0 END)"
    f" + (CASE WHEN length(url) >= {LEN_MIN} THEN 1 ELSE 0 END))::BIGINT"
)

URL_SPAM_SCORE_SQL = f"""
WITH {_URLS_SQL}
SELECT doc_id,
       url,
       length(url)::BIGINT AS url_len,
       {_cnt_sql('url', '[0-9]')} AS n_digits,
       ({_cnt_sql('url', '[0-9]')} * 1000000 // length(url))::BIGINT AS digit_ppm,
       {_cnt_sql('url', '-')} AS n_hyphens,
       {_cnt_sql('url', '=')} AS n_params,
       ({_cnt_sql('url', '/')} - 2)::BIGINT AS path_depth,
       regexp_matches(url, '[0-9]{{{LONG_DIGIT_RUN},}}') AS long_digit_run,
       {_SCORE_SQL} AS spam_score,
       ({_SCORE_SQL} < {ADMIT_BELOW}) AS admitted
FROM urls
"""


QUERIES = {
    "url_spam_score": (url_spam_score, URL_SPAM_SCORE_SQL),
}
