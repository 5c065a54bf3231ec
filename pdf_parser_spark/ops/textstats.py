"""Text analysis operators over the ``documents`` table: token
counting and quality scoring.

Both are built-in string/array functions — one narrow scan, no
shuffle, no Python.  At 100 TB each runs at parquet-scan speed with
full column pruning (only ``doc_id``/``text`` read).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pdf_parser_spark.ops.common import load_table, roundn, tokens, tokens_sql

STOPWORDS = ["the", "a", "of", "and", "in", "to", "is"]


def _hits(tok, words):
    return F.size(F.filter(tok, lambda t: t.isin(words)))


def _hits_sql(tok_expr, words):
    lst = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({tok_expr}, t -> t IN ({lst})))"


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + distinct-token and
    char-length stats per document."""
    docs = load_table(spark, sf_dir, "documents")
    tok = tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(tok).alias("n_tokens"),
        F.size(F.array_distinct(tok)).alias("n_distinct_tokens"),
        F.length("text").alias("n_chars_text"),
        roundn(
            F.aggregate(
                F.transform(tok, lambda t: F.length(t).cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / F.size(tok),
            4,
        ).alias("avg_token_len"),
    )


TEXT_TOKEN_STATS_SQL = f"""
WITH tok AS (
  SELECT doc_id, text, {tokens_sql("text")} AS t FROM documents
)
SELECT doc_id,
       len(t) AS n_tokens,
       len(list_distinct(t)) AS n_distinct_tokens,
       length(text) AS n_chars_text,
       (floor((list_reduce([length(x)::DOUBLE for x in t], (acc, y) -> acc + y) / len(t)) * 10000.0 + 0.5) / 10000.0) AS avg_token_len
FROM tok
"""


def quality_features(tok):
    """The quality formula (stopword ratio, lexical diversity, length
    saturation) the quality op scores with; curate's feature UDF
    computes the same score per document (pinned by
    tests/test_curate_job.py).  Returns (stop_ratio, diversity,
    length_sat) raw columns."""
    n = F.size(tok)
    stop_ratio = _hits(tok, STOPWORDS).cast("double") / n
    diversity = F.size(F.array_distinct(tok)).cast("double") / n
    length_sat = F.least(n.cast("double") / F.lit(50.0), F.lit(1.0))
    return stop_ratio, diversity, length_sat


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword ratio, lexical diversity, length
    saturation → weighted score in [0,1] (boilerpipe-style shallow
    features, Kohlschütter et al. WSDM 2010)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = tokens(F.col("text"))
    stop_ratio, diversity, length_sat = quality_features(tok)
    score = roundn(0.4 * stop_ratio + 0.3 * diversity + 0.3 * length_sat, 4)
    return docs.select(
        "doc_id",
        roundn(stop_ratio, 4).alias("stopword_ratio"),
        roundn(diversity, 4).alias("lexical_diversity"),
        roundn(length_sat, 4).alias("length_saturation"),
        score.alias("quality_score"),
    )


TEXT_QUALITY_SCORE_SQL = f"""
WITH tok AS (
  SELECT doc_id, {tokens_sql("text")} AS t FROM documents
),
feat AS (
  SELECT doc_id,
         {_hits_sql("t", STOPWORDS)}::DOUBLE / len(t) AS stop_ratio,
         len(list_distinct(t))::DOUBLE / len(t) AS diversity,
         least(len(t)::DOUBLE / 50.0, 1.0) AS length_sat
  FROM tok
)
SELECT doc_id,
       (floor(stop_ratio * 10000.0 + 0.5) / 10000.0) AS stopword_ratio,
       (floor(diversity * 10000.0 + 0.5) / 10000.0) AS lexical_diversity,
       (floor(length_sat * 10000.0 + 0.5) / 10000.0) AS length_saturation,
       (floor((0.4 * stop_ratio + 0.3 * diversity + 0.3 * length_sat) * 10000.0 + 0.5) / 10000.0) AS quality_score
FROM feat
"""


QUERIES = {
    "text_token_stats": (text_token_stats, TEXT_TOKEN_STATS_SQL),
    "text_quality_score": (text_quality_score, TEXT_QUALITY_SCORE_SQL),
}
