"""The two canonical webtext cleaning recipes as admission operators:
Gopher quality rules and C4 line filtering.

* ``gopher_quality_filter`` — the rule battery of Gopher App. A1 (Rae
  et al. 2021, arXiv:2112.11446 — public), the de-facto standard
  document-level quality gate: word-count window, mean-word-length
  window, symbol-to-word ratio, bullet-start / ellipsis-end line
  fractions, alphabetic-word fraction, and a required-stopword count.
  Emitted per document with every rule's flag AND the measured
  statistics, so downstream can re-threshold without recomputing.
* ``c4_line_filter`` — C4's line-level cleanup (Raffel et al. 2020
  §2.2, arXiv:1910.10683 — public): keep only lines that end in
  terminal punctuation and have enough words, drop lines carrying
  boilerplate markers (javascript / lorem ipsum / curly brace), then
  drop documents left with too few lines.

Exactness: every statistic is integer fixed-point (ratios at 10^4,
mean word length at 10^2, floor division) so the DuckDB twin is
value-identical.

Lines: the driver's synthetic ``documents.text`` is a single space-
joined token stream, so both engines derive the SAME deterministic
line structure (fixed ``LINE_WIDTH``-token lines) — the rules then
read naturally (a line's last token carries the terminal punctuation,
its first the bullet).

Scale: both operators are pure per-document array HOFs — zero
shuffle, zero Python, whole-stage codegen end to end; the only
exchange anywhere is whatever the caller does with the verdicts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from pdf_parser_spark.ops.common import (
    h32,
    h32_sql,
    load_table,
    tokens,
    tokens_sql,
)

LINE_WIDTH = 4  # tokens per derived line

# -- Gopher App. A1 thresholds (document level) ------------------------------
G_MIN_WORDS, G_MAX_WORDS = 10, 100_000   # paper: 50; synthetic docs are short
G_MIN_MWL_E2, G_MAX_MWL_E2 = 300, 1000   # mean word length in [3, 10]
G_MAX_SYMBOL_E4 = 1_000                  # symbol-to-word ratio < 0.1
G_MAX_BULLET_E4 = 9_000                  # bullet-start lines < 0.9
G_MAX_ELLIPSIS_E4 = 3_000                # ellipsis-end lines < 0.3
G_MIN_ALPHA_E4 = 8_000                   # words with an alpha char > 0.8
G_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
G_MIN_STOPWORDS = 2

# -- C4 §2.2 thresholds (line level) -----------------------------------------
C4_MIN_LINE_WORDS = 3
C4_MIN_KEPT_LINES = 2
C4_BAD_MARKERS = ("javascript", "lorem", "{")
C4_TERMINALS = (".", "!", "?", '"')


def _doc_lines(tok):
    """Fixed-width token lines."""
    return F.transform(
        F.sequence(F.lit(1), F.size(tok), F.lit(LINE_WIDTH)),
        lambda s: F.array_join(F.slice(tok, s, LINE_WIDTH), " "),
    )


_LINES_SQL = (
    "[array_to_string(tok[s : s + {w} - 1], ' ') "
    "for s in generate_series(1, len(tok), {w})]"
).format(w=LINE_WIDTH)


def gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_words, mean_word_len_e2, symbol_e4, bullet_e4,
    ellipsis_e4, alpha_e4, n_stop, passes) — Gopher A1 rule battery."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("tok")
    ).filter(F.size("tok") >= 1)
    lines = _doc_lines(F.col("tok"))
    n_words = F.size("tok").cast("long")
    total_chars = F.aggregate(
        "tok", F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    n_symbol = F.size(
        F.filter("tok", lambda t: t.contains("#") | t.contains("..."))
    ).cast("long")
    n_alpha = F.size(F.filter("tok", lambda t: t.rlike("[A-Za-z]"))).cast(
        "long"
    )
    n_lines = F.size(lines).cast("long")
    n_bullet = F.size(
        F.filter(
            lines,
            lambda ln: ln.startswith("-") | ln.startswith("*")
            | ln.startswith("•"),
        )
    ).cast("long")
    n_ellipsis = F.size(
        F.filter(lines, lambda ln: ln.endswith("..."))
    ).cast("long")
    n_stop = F.size(
        F.array_intersect(
            "tok", F.array(*[F.lit(s) for s in G_STOPWORDS])
        )
    ).cast("long")
    stats = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        ((total_chars * 100) / n_words).cast("long").alias("mean_word_len_e2"),
        ((n_symbol * 10_000) / n_words).cast("long").alias("symbol_e4"),
        ((n_bullet * 10_000) / n_lines).cast("long").alias("bullet_e4"),
        ((n_ellipsis * 10_000) / n_lines).cast("long").alias("ellipsis_e4"),
        ((n_alpha * 10_000) / n_words).cast("long").alias("alpha_e4"),
        n_stop.alias("n_stop"),
    )
    return stats.withColumn(
        "passes",
        (F.col("n_words") >= G_MIN_WORDS)
        & (F.col("n_words") <= G_MAX_WORDS)
        & (F.col("mean_word_len_e2") >= G_MIN_MWL_E2)
        & (F.col("mean_word_len_e2") <= G_MAX_MWL_E2)
        & (F.col("symbol_e4") < G_MAX_SYMBOL_E4)
        & (F.col("bullet_e4") < G_MAX_BULLET_E4)
        & (F.col("ellipsis_e4") < G_MAX_ELLIPSIS_E4)
        & (F.col("alpha_e4") > G_MIN_ALPHA_E4)
        & (F.col("n_stop") >= G_MIN_STOPWORDS),
    )


_G_STOP_SQL = "[" + ", ".join(f"'{s}'" for s in G_STOPWORDS) + "]"

GOPHER_QUALITY_FILTER_SQL = f"""
WITH toks AS (
  SELECT doc_id, {tokens_sql("text")} AS tok FROM documents
),
ok AS (SELECT * FROM toks WHERE len(tok) >= 1),
feat AS (
  SELECT doc_id,
         len(tok)::BIGINT AS n_words,
         list_sum([length(t) for t in tok])::BIGINT AS total_chars,
         len(list_filter(tok, t -> contains(t, '#')
                              OR contains(t, '...')))::BIGINT AS n_symbol,
         len(list_filter(tok, t -> regexp_matches(t, '[A-Za-z]')))::BIGINT
           AS n_alpha,
         {_LINES_SQL} AS lines,
         len(list_intersect(tok, {_G_STOP_SQL}))::BIGINT AS n_stop
  FROM ok
),
stats AS (
  SELECT doc_id, n_words,
         CAST(floor(total_chars * 100 / n_words) AS BIGINT)
           AS mean_word_len_e2,
         CAST(floor(n_symbol * 10000 / n_words) AS BIGINT) AS symbol_e4,
         CAST(floor(len(list_filter(lines, l -> starts_with(l, '-')
                OR starts_with(l, '*') OR starts_with(l, '•')))
                * 10000 / len(lines)) AS BIGINT) AS bullet_e4,
         CAST(floor(len(list_filter(lines, l -> ends_with(l, '...')))
                * 10000 / len(lines)) AS BIGINT) AS ellipsis_e4,
         CAST(floor(n_alpha * 10000 / n_words) AS BIGINT) AS alpha_e4,
         n_stop
  FROM feat
)
SELECT *,
       (n_words >= {G_MIN_WORDS} AND n_words <= {G_MAX_WORDS}
        AND mean_word_len_e2 >= {G_MIN_MWL_E2}
        AND mean_word_len_e2 <= {G_MAX_MWL_E2}
        AND symbol_e4 < {G_MAX_SYMBOL_E4}
        AND bullet_e4 < {G_MAX_BULLET_E4}
        AND ellipsis_e4 < {G_MAX_ELLIPSIS_E4}
        AND alpha_e4 > {G_MIN_ALPHA_E4}
        AND n_stop >= {G_MIN_STOPWORDS}) AS passes
FROM stats
"""


def c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_lines, n_kept, kept_md5, doc_kept) — C4 §2.2 line
    cleanup: a line survives iff it ends in terminal punctuation, has
    ≥ C4_MIN_LINE_WORDS words, and carries no boilerplate marker; the
    document survives iff ≥ C4_MIN_KEPT_LINES lines do."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("tok")
    ).filter(F.size("tok") >= 1)
    lines = _doc_lines(F.col("tok"))
    term = F.array(*[F.lit(t) for t in C4_TERMINALS])
    keep = F.filter(
        lines,
        lambda ln: F.arrays_overlap(
            F.array(F.substring(ln, -1, 1)), term
        )
        & (F.size(F.split(ln, " ")) >= C4_MIN_LINE_WORDS)
        & ~F.lower(ln).contains(C4_BAD_MARKERS[0])
        & ~F.lower(ln).contains(C4_BAD_MARKERS[1])
        & ~ln.contains(C4_BAD_MARKERS[2]),
    )
    return docs.select(
        "doc_id",
        F.size(lines).cast("long").alias("n_lines"),
        F.size(keep).cast("long").alias("n_kept"),
        F.md5(F.array_join(keep, "\n").cast("binary")).alias("kept_md5"),
        (F.size(keep) >= C4_MIN_KEPT_LINES).alias("doc_kept"),
    )


_C4_TERM_SQL = "[" + ", ".join(f"'{t}'" for t in C4_TERMINALS) + "]"

C4_LINE_FILTER_SQL = f"""
WITH toks AS (
  SELECT doc_id, {tokens_sql("text")} AS tok FROM documents
),
ok AS (SELECT * FROM toks WHERE len(tok) >= 1),
lined AS (
  SELECT doc_id, {_LINES_SQL} AS lines FROM ok
),
kept AS (
  SELECT doc_id, lines,
         list_filter(lines, l ->
           list_contains({_C4_TERM_SQL}, l[-1:])
           AND len(string_split(l, ' ')) >= {C4_MIN_LINE_WORDS}
           AND NOT contains(lower(l), '{C4_BAD_MARKERS[0]}')
           AND NOT contains(lower(l), '{C4_BAD_MARKERS[1]}')
           AND NOT contains(l, '{C4_BAD_MARKERS[2]}')) AS keep
  FROM lined
)
SELECT doc_id,
       len(lines)::BIGINT AS n_lines,
       len(keep)::BIGINT AS n_kept,
       md5(COALESCE(array_to_string(keep, chr(10)), '')) AS kept_md5,
       (len(keep) >= {C4_MIN_KEPT_LINES}) AS doc_kept
FROM kept
"""


# -- CCNet-style LM quality banding -------------------------------------------
#
# CCNet (Wenzek et al. 2020, arXiv:1911.00359 — public) buckets crawl
# documents into head/middle/tail by language-model perplexity and
# trains on the low-perplexity bands.  The KenLM scorer is replaced by
# an engine-exact unigram surprisal: token → hashed frequency bucket,
# per-token surprisal = 63000 − log2(bucket count) millibits (rarer ⇒
# more bits), per-document mean in millibits.  log2 is computed
# EXACTLY in integers: e = floor(log2(cnt)) from the binary-digit
# count (Spark conv(_,10,2) length, DuckDB printf('%b') length — float
# log2 misrounds near powers of two, which would flake the value-hash
# gate), plus the standard linear interpolation between powers of two
# for the fractional part, (cnt − 2^e)·1000 // 2^e — whole-bucket
# log2 alone has no discrimination on a near-flat token distribution
# (every bucket lands in one digit class).
#
# Scale: the bucket table is ≤ LM_BUCKETS
# rows regardless of corpus size — the token stream partial-aggregates
# map-side to ≤LM_BUCKETS rows per task before the one tiny exchange,
# the counts broadcast back onto the stream, and the per-doc rollup
# partial-sums (doc_id, bits) map-side.  The corpus-sized relation is
# never shuffled.

LM_BUCKETS = 4096
LM_SCALE = 1000
LM_HEAD_PCT, LM_MIDDLE_PCT = 33, 66  # CCNet-style corpus-percentile cuts


def ccnet_lm_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: token count, total/mean unigram surprisal
    (integer millibits), CCNet band (head / middle / tail), and the
    keep verdict (tail dropped).  Documents with no tokens are not
    admitted to scoring (same convention as c4_line_filter).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    ).select("doc_id", (h32(F.col("tok")) % LM_BUCKETS).alias("bucket"))
    bcnts = toks.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
    # exact integer log2 in millibits: e from the binary digit count,
    # fractional part linearly interpolated between 2^e and 2^(e+1)
    e = (F.length(F.conv(F.col("cnt"), 10, 2)) - 1).cast("long")
    bcnts = bcnts.withColumn("e", e).select(
        "bucket",
        (
            (F.lit(63) - F.col("e")) * LM_SCALE
            - F.expr(
                f"(cnt - shiftleft(1L, cast(e as int))) * {LM_SCALE}"
                " div shiftleft(1L, cast(e as int))"
            )
        ).alias("mbits"),
    )
    scored = toks.join(F.broadcast(bcnts), "bucket").select(
        "doc_id", F.col("mbits").alias("bits")
    )
    agg = scored.groupBy("doc_id").agg(
        F.sum("bits").alias("total_mbits"),
        F.count(F.lit(1)).alias("n_tokens"),
    )
    # integer division (`div`), not float-divide-then-floor: the
    # quotient of two BIGINTs through a double can misround just below
    # an integer, flaking the value-hash gate
    banded = agg.withColumn(
        "mean_mbits", F.expr("total_mbits div n_tokens")
    )
    # CCNet cuts are CORPUS PERCENTILES, not fixed thresholds (the
    # surprisal level shifts with corpus size as bucket counts grow).
    # Exact and bounded: mean_mbits has < 63·LM_SCALE distinct values,
    # so a frequency rollup + cumulative window computes the exact
    # cut values over a tiny relation regardless of corpus size.  The
    # cut is the smallest value whose cumulative count reaches the
    # percentile (ties land in the lower band on both engines).
    freq = banded.groupBy("mean_mbits").agg(F.count(F.lit(1)).alias("f"))
    wcum = (
        Window.orderBy("mean_mbits")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = freq.select(
        "mean_mbits",
        F.sum("f").over(wcum).alias("cum"),
        F.sum("f").over(wtot).alias("total"),
    )
    cuts = cum.agg(
        F.min(
            F.when(
                F.col("cum") * 100 >= F.lit(LM_HEAD_PCT) * F.col("total"),
                F.col("mean_mbits"),
            )
        ).alias("head_cut"),
        F.min(
            F.when(
                F.col("cum") * 100 >= F.lit(LM_MIDDLE_PCT) * F.col("total"),
                F.col("mean_mbits"),
            )
        ).alias("middle_cut"),
    )
    band = (
        F.when(F.col("mean_mbits") <= F.col("head_cut"), F.lit("head"))
        .when(F.col("mean_mbits") <= F.col("middle_cut"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        banded.crossJoin(F.broadcast(cuts))
        .withColumn("band", band)
        .select(
            "doc_id",
            "n_tokens",
            "total_mbits",
            "mean_mbits",
            "band",
            (F.col("band") != "tail").alias("kept"),
        )
    )


CCNET_LM_FILTER_SQL = f"""
WITH b AS (
  SELECT doc_id, {h32_sql('tok')} % {LM_BUCKETS} AS bucket
  FROM (SELECT doc_id, unnest({tokens_sql("text")}) AS tok FROM documents)
),
bc AS (
  SELECT bucket,
         (63 - e) * {LM_SCALE} - ((cnt - (1::BIGINT << e)) * {LM_SCALE}) // (1::BIGINT << e)
         AS mbits
  FROM (
    SELECT bucket, cnt, length(printf('%b', cnt)) - 1 AS e
    FROM (SELECT bucket, count(*) AS cnt FROM b GROUP BY bucket)
  )
),
agg AS (
  SELECT doc_id, CAST(sum(bc.mbits) AS BIGINT) AS total_mbits,
         count(*) AS n_tokens
  FROM b JOIN bc USING (bucket)
  GROUP BY doc_id
),
banded AS (
  SELECT doc_id, n_tokens, total_mbits,
         CAST(total_mbits // n_tokens AS BIGINT) AS mean_mbits
  FROM agg
),
freq AS (
  SELECT mean_mbits, count(*) AS f FROM banded GROUP BY mean_mbits
),
cum AS (
  SELECT mean_mbits,
         sum(f) OVER (ORDER BY mean_mbits
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(f) OVER () AS total
  FROM freq
),
cuts AS (
  SELECT min(CASE WHEN cum * 100 >= {LM_HEAD_PCT} * total
                  THEN mean_mbits END) AS head_cut,
         min(CASE WHEN cum * 100 >= {LM_MIDDLE_PCT} * total
                  THEN mean_mbits END) AS middle_cut
  FROM cum
)
SELECT doc_id, n_tokens, total_mbits, mean_mbits,
       CASE WHEN mean_mbits <= head_cut THEN 'head'
            WHEN mean_mbits <= middle_cut THEN 'middle'
            ELSE 'tail' END AS band,
       mean_mbits <= middle_cut AS kept
FROM banded, cuts
"""


QUERIES = {
    "gopher_quality_filter": (gopher_quality_filter, GOPHER_QUALITY_FILTER_SQL),
    "c4_line_filter": (c4_line_filter, C4_LINE_FILTER_SQL),
    "ccnet_lm_filter": (ccnet_lm_filter, CCNET_LM_FILTER_SQL),
}
