"""Text analysis operators over the ``documents`` table: token
counting, quality scoring, language-ID heuristic, fingerprinting.

Everything is built-in string/array functions — one narrow scan, no
shuffle, no Python.  At 100 TB each of these runs at parquet-scan
speed with full column pruning (only ``doc_id``/``text``/``lang``
read).
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.functions import pandas_udf

from pdf_parser_spark.ops.common import (
    h32,
    log2_mbits,
    log2_mbits_sql,
    roundn,
    roundn_sql,
    h32_sql,
    load_table,
    seeded_h32_sql,
    shingles_sql,
    tokens,
    tokens_sql,
)

STOPWORDS = ["the", "a", "of", "and", "in", "to", "is"]

# marker words per language for the n-gram/stopword lang-ID heuristic;
# prediction = first language in priority order achieving the max hit
# count (deterministic tie-break)
LANG_MARKERS = {
    "en": ["the", "and", "of", "a"],
    "es": ["el", "la", "de", "y"],
    "de": ["der", "die", "und", "das"],
    "fr": ["le", "la", "et", "les"],
    "zh": ["de", "shi", "bu", "le"],
}
LANG_ORDER = ["en", "es", "de", "fr", "zh"]


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


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: marker-word hit counts per language,
    argmax with fixed priority-order tie-break; compared against the
    labeled ``lang`` column."""
    docs = load_table(spark, sf_dir, "documents")
    tok = tokens(F.col("text"))
    hits = {lang: _hits(tok, words) for lang, words in LANG_MARKERS.items()}
    best = F.greatest(*[hits[lang] for lang in LANG_ORDER])
    pred = F.lit(LANG_ORDER[-1])
    for lang in reversed(LANG_ORDER[:-1]):
        pred = F.when(hits[lang] == best, F.lit(lang)).otherwise(pred)
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        pred.alias("predicted_lang"),
        (pred == F.col("lang")).alias("is_match"),
    )


def _lang_id_sql() -> str:
    hit_cols = ",\n         ".join(
        f"{_hits_sql('t', LANG_MARKERS[lang])} AS h_{lang}" for lang in LANG_ORDER
    )
    best = "greatest(" + ", ".join(f"h_{lang}" for lang in LANG_ORDER) + ")"
    case = "CASE " + " ".join(
        f"WHEN h_{lang} = {best} THEN '{lang}'" for lang in LANG_ORDER[:-1]
    ) + f" ELSE '{LANG_ORDER[-1]}' END"
    return f"""
WITH tok AS (
  SELECT doc_id, lang, {tokens_sql("text")} AS t FROM documents
),
hits AS (
  SELECT doc_id, lang,
         {hit_cols}
  FROM tok
)
SELECT doc_id, lang AS labeled_lang,
       {case} AS predicted_lang,
       ({case}) = lang AS is_match
FROM hits
"""


def _make_fingerprint_udf():
    @pandas_udf("struct<min_shingle_hash: bigint, n_shingles5: int>")
    def fingerprint5(text: pd.Series) -> pd.DataFrame:
        mins, counts = [], []
        for t in text:
            toks = [x for x in t.split(" ") if x]
            grams = {
                " ".join(toks[i : i + 5]) for i in range(len(toks) - 4)
            }
            counts.append(len(grams))
            if grams:
                mins.append(
                    min(
                        int(
                            hashlib.md5(("1|" + g).encode("utf-8")).hexdigest()[:8],
                            16,
                        )
                        for g in grams
                    )
                )
            else:
                mins.append(None)
        return pd.DataFrame({"min_shingle_hash": mins, "n_shingles5": counts})

    return fingerprint5


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: full content hash + 1-permutation
    MinHash over word-5-grams (winnowing-style min fingerprint) +
    shingle cardinality.

    The 5-gram hashing runs in an Arrow-vectorized UDF: the built-in
    HOF spelling (md5 + concat per shingle, interpreted) measured
    46 s for 5k docs vs <1 s here; the hash spec (h32 of
    '1|'+shingle) is unchanged, so the SQL oracle still matches.
    """
    docs = load_table(spark, sf_dir, "documents")
    fp = _make_fingerprint_udf()(F.col("text"))
    return docs.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("content_md5"),
        fp.getField("min_shingle_hash").alias("min_shingle_hash"),
        fp.getField("n_shingles5").alias("n_shingles5"),
        h32(F.col("text")).alias("content_h32"),
    )


TEXT_FINGERPRINT_SQL = f"""
WITH tok AS (
  SELECT doc_id, text, {tokens_sql("text")} AS t FROM documents
),
sh AS (
  SELECT doc_id, text, {shingles_sql("t", 5)} AS s5 FROM tok
)
SELECT doc_id,
       md5(text) AS content_md5,
       CASE WHEN len(s5) >= 1
            THEN list_min([{seeded_h32_sql("1", "x")} for x in s5])
            ELSE NULL END AS min_shingle_hash,
       len(s5) AS n_shingles5,
       {h32_sql("text")} AS content_h32
FROM sh
"""


def _make_repetition_udf():
    @pandas_udf(
        "struct<n_2grams: int, top_2gram_count: int, "
        "n_5grams: int, n_distinct_5grams: int>"
    )
    def repetition(text: pd.Series) -> pd.DataFrame:
        from collections import Counter

        n2, top2, n5, d5 = [], [], [], []
        for t in text:
            toks = [x for x in t.split(" ") if x]
            g2 = [
                toks[i] + " " + toks[i + 1] for i in range(len(toks) - 1)
            ]
            n2.append(len(g2))
            top2.append(max(Counter(g2).values()) if g2 else 0)
            g5 = [
                " ".join(toks[i : i + 5]) for i in range(len(toks) - 4)
            ]
            n5.append(len(g5))
            d5.append(len(set(g5)))
        return pd.DataFrame(
            {
                "n_2grams": n2,
                "top_2gram_count": top2,
                "n_5grams": n5,
                "n_distinct_5grams": d5,
            }
        )

    return repetition


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals (the Gopher corpus-filter
    family, Rae et al. 2021 §A1.1): fraction of word-2-grams taken by
    the single most frequent 2-gram, and fraction of word-5-grams that
    are repeats of an earlier 5-gram.  High values flag the
    boilerplate / keyword-stuffing documents a training pipeline
    drops.

    Scale design: the n-gram counting is per-document state, so it
    runs in one Arrow-vectorized UDF over a narrow scan — zero
    shuffle, parquet-scan speed at 100 TB (per-doc gram counting via
    explode + groupBy(doc_id, gram) would shuffle the entire token
    stream for no cross-document information).  The UDF returns exact
    integer counts; fractions and rounding happen engine-side so the
    DuckDB oracle is value-identical by construction.
    """
    docs = load_table(spark, sf_dir, "documents")
    rep = _make_repetition_udf()(F.col("text"))
    n2 = rep.getField("n_2grams")
    top2 = rep.getField("top_2gram_count")
    n5 = rep.getField("n_5grams")
    d5 = rep.getField("n_distinct_5grams")
    return docs.select(
        "doc_id",
        n2.alias("n_2grams"),
        top2.alias("top_2gram_count"),
        F.when(n2 > 0, roundn(top2.cast("double") / n2, 4)).alias(
            "top_2gram_frac"
        ),
        F.when(
            n5 > 0, roundn(1.0 - d5.cast("double") / n5, 4)
        ).alias("dup_5gram_frac"),
    )


def _repetition_sql() -> str:
    g2 = "[t[i] || ' ' || t[i + 1] for i in generate_series(1, len(t) - 1)]"
    g5 = (
        "[t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3]"
        " || ' ' || t[i + 4] for i in generate_series(1, len(t) - 4)]"
    )
    return f"""
WITH tok AS (
  SELECT doc_id, {tokens_sql("text")} AS t FROM documents
),
grams AS (
  SELECT doc_id, {g2} AS g2, {g5} AS g5 FROM tok
),
c2 AS (
  SELECT doc_id, g, count(*) AS c
  FROM (SELECT doc_id, unnest(g2) AS g FROM grams)
  GROUP BY doc_id, g
),
top AS (
  SELECT doc_id, max(c) AS topc FROM c2 GROUP BY doc_id
)
SELECT grams.doc_id,
       len(g2)::INT AS n_2grams,
       coalesce(topc, 0)::INT AS top_2gram_count,
       CASE WHEN len(g2) > 0
            THEN {roundn_sql("topc::DOUBLE / len(g2)", 4)} END AS top_2gram_frac,
       CASE WHEN len(g5) > 0
            THEN {roundn_sql("1.0 - len(list_distinct(g5))::DOUBLE / len(g5)", 4)}
       END AS dup_5gram_frac
FROM grams LEFT JOIN top ON grams.doc_id = top.doc_id
"""


# BPE-ish pre-tokenizer (GPT-2-family shape), restricted to syntax
# both Java regex (Spark) and RE2 (DuckDB) execute identically: no
# lookarounds, explicit classes.  An optional leading space glues to
# the following run, like the GPT-2 pre-tokenizer; runs split into
# letter / digit / other classes.
BPE_WORD = " ?[A-Za-z]+"
BPE_NUM = " ?[0-9]+"
BPE_OTHER = " ?[^A-Za-z0-9 ]+"
BPE_ALL = f"{BPE_WORD}|{BPE_NUM}|{BPE_OTHER}| +"


def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, BPE-ish: the GPT-2-style pre-tokenizer pass
    that bounds how many BPE tokens a tokenizer can emit — the number
    every data-mix budget is quoted in.  Counts total pre-tokens plus
    the per-class split (word / number / other runs).

    Scale: four ``regexp_count`` calls in one narrow codegen pass —
    no Python, no shuffle, parquet-scan speed.  The pattern is
    deliberately lookaround-free so the oracle (RE2) and Spark (Java
    regex) match byte-for-byte.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_count("text", F.lit(BPE_ALL)).alias("n_bpe_tokens"),
        F.regexp_count("text", F.lit(BPE_WORD)).alias("n_word_runs"),
        F.regexp_count("text", F.lit(BPE_NUM)).alias("n_number_runs"),
        F.regexp_count("text", F.lit(BPE_OTHER)).alias("n_other_runs"),
    )


TEXT_BPE_TOKENS_SQL = f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{BPE_ALL}')) AS n_bpe_tokens,
       len(regexp_extract_all(text, '{BPE_WORD}')) AS n_word_runs,
       len(regexp_extract_all(text, '{BPE_NUM}')) AS n_number_runs,
       len(regexp_extract_all(text, '{BPE_OTHER}')) AS n_other_runs
FROM documents
"""


# ---------------------------------------------------------------------------
# text_entropy — doc-internal token diversity (exact integer millibits)
# ---------------------------------------------------------------------------

def text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram entropy in exact integer millibits:
    H = sum_t c_t * (L(n) - L(c_t)) // n, with L the interpolated
    binary log (ops/common.py log2_mbits).  Low entropy flags
    repetitive/boilerplate documents — the doc-INTERNAL diversity
    signal, complementing text_repetition (top-n-gram fractions).
    Documents with no tokens are not scored: they emit no row.

    Scale: explode -> (doc_id, token) partial-combined count ->
    (doc_id) partial-combined rollup.  Both aggregates are map-side
    combining; the only shuffled relations carry (doc_id, token hash,
    count)-sized rows, never text.  H is exact BIGINT arithmetic
    (n*L(n) <= tokens_per_doc * 63000, far from overflow).
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.col("cnt") * log2_mbits("cnt")).alias("_sum_clc"),
    )
    h = F.expr("(n_tokens * Ln - _sum_clc) div n_tokens")
    return (
        per_doc.withColumn("Ln", log2_mbits("n_tokens"))
        .withColumn("entropy_mbits", h)
        .select("doc_id", "n_tokens", "n_distinct", "entropy_mbits")
    )


TEXT_ENTROPY_SQL = f"""
WITH counts AS (
  SELECT doc_id, tok, count(*) AS cnt
  FROM (SELECT doc_id, unnest({tokens_sql("text")}) AS tok FROM documents)
  GROUP BY doc_id, tok
),
per_doc AS (
  SELECT doc_id,
         CAST(sum(cnt) AS BIGINT) AS n_tokens,
         count(*) AS n_distinct,
         CAST(sum(cnt * {log2_mbits_sql('cnt')}) AS BIGINT) AS sum_clc
  FROM counts GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_distinct,
       CAST((n_tokens * {log2_mbits_sql('n_tokens')} - sum_clc) // n_tokens
            AS BIGINT) AS entropy_mbits
FROM per_doc
"""


QUERIES = {
    "text_token_stats": (text_token_stats, TEXT_TOKEN_STATS_SQL),
    "text_bpe_tokens": (text_bpe_tokens, TEXT_BPE_TOKENS_SQL),
    "text_quality_score": (text_quality_score, TEXT_QUALITY_SCORE_SQL),
    "text_lang_id": (text_lang_id, _lang_id_sql()),
    "text_fingerprint": (text_fingerprint, TEXT_FINGERPRINT_SQL),
    "text_repetition": (text_repetition, _repetition_sql()),
    "text_entropy": (text_entropy, TEXT_ENTROPY_SQL),
}
