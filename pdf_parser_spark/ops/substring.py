"""Cross-document repeated-span removal (exact substring dedup).

Document-level dedup (exact / MinHash) misses the
*span* failure mode: a viral quote, license header, or syndicated
paragraph embedded in otherwise-unique documents.  Training-data
pipelines remove the repeated span itself and keep the unique
remainder (Lee et al., "Deduplicating Training Data Makes Language
Models Better", ACL 2022 — public literature; the paper builds a
suffix array, which is not a distributed-friendly structure).

This operator is the n-gram-anchored distributed form: a token is
"covered" iff it lies inside a {GRAM_N}-token window that occurs in
more than one distinct document.  Every repeated span of length ≥
{GRAM_N} is a union of repeated {GRAM_N}-grams, so coverage is EXACT
for spans at or above the anchor width (shorter repeats are below the
dedup threshold by construction).  Output per document: token count,
covered-token count, merged repeated-span count, and the integer
removal ratio.

Scale design:
* Gram hashing is a vectorized Arrow UDF (same measured justification
  as the MinHash signature: Catalyst HOF lambdas run interpreted at
  ~3 µs/element-op; numpy + C md5 is ~50× faster) producing one
  int64 array per document; positions come free from posexplode.
* The duplicated-gram test is ONE window keyed on the 64-bit gram
  hash (min/max doc id per gram), so the gram relation is read once;
  only (gram, doc_id, pos) int triples ever shuffle — text never
  moves.  A boilerplate gram shared by millions of documents puts all
  its triples in one window partition.
* Span merging is the classic gaps-and-islands window per document —
  partitioned by doc_id, bounded by the document's own matched-gram
  count (NOT a corpus sort).
* The final per-doc rollup shares the document partitioning the
  islands window already established — one exchange serves both.

Ground truth injected deterministically: every {VIRAL_MOD}th document
is prefixed with the same {len(VIRAL_QUOTE)}-token viral quote, which
must come out covered end-to-end on exactly those documents (plus any
natural cross-doc repeats the small synthetic vocabulary produces).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.functions import pandas_udf

from pdf_parser_spark.ops.common import (
    h32_grams,
    h32_sql,
    load_table,
    tokens,
    tokens_sql,
    utf8_tokens,
)

GRAM_N = 8      # anchor width: spans >= 8 tokens are removed exactly
VIRAL_MOD = 6   # every 6th doc carries the injected repeated span
VIRAL_QUOTE = (
    "breaking news this quote went viral across every mirror site today"
).split()


def _gram_hashes(text: str) -> list[int]:
    """h32 of each overlapping word-{GRAM_N}-gram, in position order
    (position i covers tokens [i, i+GRAM_N-1], 0-based)."""
    return h32_grams(*utf8_tokens(text), GRAM_N)[0].tolist()


def _make_gram_udf():
    @pandas_udf("array<long>")
    def gram_hashes(text: pd.Series) -> pd.Series:
        return pd.Series([_gram_hashes(t) for t in text])

    return gram_hashes


def _substring_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("tok")
    )
    quote = F.array(*[F.lit(t) for t in VIRAL_QUOTE])
    return docs.select(
        "doc_id",
        F.array_join(
            F.when(
                F.col("doc_id") % VIRAL_MOD == 0, F.concat(quote, F.col("tok"))
            ).otherwise(F.col("tok")),
            " ",
        ).alias("text"),
    )


def dup_gram_hits(grams: DataFrame, id_col: str) -> DataFrame:
    """(id, pos) rows whose gram ``g`` occurs in >1 distinct document:
    ``min(id) != max(id)`` over a window on ``g`` (the same test as
    ``count(DISTINCT id) > 1``), so ``grams`` is read once."""
    return (
        grams.selectExpr(
            "*",
            f"min({id_col}) OVER (PARTITION BY g) AS _lo",
            f"max({id_col}) OVER (PARTITION BY g) AS _hi",
        )
        .where("_lo != _hi")
        .drop("g", "_lo", "_hi")
    )


def merge_islands(hits: DataFrame, id_col: str) -> DataFrame:
    """Gaps-and-islands merge of {GRAM_N}-wide matches at ``pos`` into
    maximal covered spans per document: a new span starts where this
    gram's coverage is neither overlapping nor adjacent to the
    running-max end of all earlier matches.  Returns one row per
    (id, island) with inclusive token bounds ``s``..``e``.  The
    windows partition by the document id — the sort is bounded by the
    document's own matched-gram count, never a corpus sort."""
    w = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w0 = Window.partitionBy(id_col).orderBy("pos")
    spans = hits.withColumn(
        "new_span",
        F.when(
            F.col("pos") > F.max(F.col("pos") + GRAM_N - 1).over(w) + 1,
            1,
        ).otherwise(0),
    )
    # first row of each doc has NULL running max -> when() is false;
    # force it to start a span
    spans = spans.withColumn(
        "new_span",
        F.when(F.row_number().over(w0) == 1, 1).otherwise(F.col("new_span")),
    ).withColumn("island", F.sum("new_span").over(w0))
    other = [c for c in hits.columns if c not in (id_col, "pos")]
    return spans.groupBy(id_col, "island", *other).agg(
        F.min("pos").alias("s"),
        (F.max("pos") + GRAM_N - 1).alias("e"),
    )


def substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repeated-span coverage: tokens inside any
    {GRAM_N}-gram shared with another document, with overlapping
    matches merged into maximal spans (gaps-and-islands)."""
    udf = _make_gram_udf()
    grams = _substring_corpus(spark, sf_dir).select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
        F.posexplode(udf(F.col("text"))).alias("pos", "g"),
    )
    islands = merge_islands(dup_gram_hits(grams, "doc_id"), "doc_id")
    return (
        islands.groupBy("doc_id", "n_tokens")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.col("e") - F.col("s") + 1).alias("n_covered"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.col("n_covered").cast("long").alias("n_covered"),
            "n_spans",
            F.floor(F.col("n_covered") * 100 / F.col("n_tokens")).alias(
                "covered_x100"
            ),
        )
    )


_QUOTE_SQL = "['" + "', '".join(VIRAL_QUOTE) + "']"

SUBSTRING_DEDUP_SQL = f"""
WITH toks0 AS (
  SELECT doc_id, {tokens_sql("text")} AS tok FROM documents
),
corpus AS (
  SELECT doc_id,
         CASE WHEN doc_id % {VIRAL_MOD} = 0
              THEN {_QUOTE_SQL} || tok ELSE tok END AS tok
  FROM toks0
),
grams AS (
  SELECT doc_id, CAST(len(tok) AS BIGINT) AS n_tokens, u.pos, u.g
  FROM (
    SELECT doc_id, tok,
           unnest([{{'pos': i - 1,
                     'g': {h32_sql("array_to_string(tok[i : i + %d], ' ')" % (GRAM_N - 1))}}}
                   for i in generate_series(1, len(tok) - {GRAM_N - 1})]) AS u
    FROM corpus)
),
dup AS (
  SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) > 1
),
hits AS (
  SELECT gr.doc_id, gr.n_tokens, gr.pos
  FROM grams gr JOIN dup USING (g)
),
marked AS (
  SELECT doc_id, n_tokens, pos,
         CASE WHEN row_number() OVER w0 = 1 THEN 1
              WHEN pos > max(pos + {GRAM_N - 1}) OVER
                   (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
                   THEN 1
              ELSE 0 END AS new_span
  FROM hits
  WINDOW w0 AS (PARTITION BY doc_id ORDER BY pos)
),
islands AS (
  SELECT doc_id, n_tokens, island,
         min(pos) AS s, max(pos) + {GRAM_N - 1} AS e
  FROM (
    SELECT *, sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS island
    FROM marked)
  GROUP BY 1, 2, 3
)
SELECT doc_id, n_tokens,
       CAST(sum(e - s + 1) AS BIGINT) AS n_covered,
       count(*) AS n_spans,
       CAST(floor(sum(e - s + 1) * 100.0 / n_tokens) AS BIGINT) AS covered_x100
FROM islands
GROUP BY doc_id, n_tokens
"""


QUERIES = {
    "substring_dedup": (substring_dedup, SUBSTRING_DEDUP_SQL),
}
