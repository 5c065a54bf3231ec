"""Importance-ratio data selection over hashed token features.

Targeted training-data selection weighs raw-corpus documents by how
much their feature distribution resembles a small in-domain target set
(Moore-Lewis '10 cross-entropy difference; DSIR, Xie et al. 2023,
arXiv:2302.03169 — hashed n-gram importance resampling; both public).
This operator is the log-free exact-integer variant of that recipe so
the Spark plan and the DuckDB oracle run the *identical* recurrence
(ln() differs across engines in the last ulps and the value-hash gate
would flake):

* features: unigrams hashed into ``N_BUCKETS`` buckets with the shared
  md5-based ``h32`` (engine-identical);
* per-bucket weight ``w(b) = ((tgt(b) + 1) * W_SCALE) // (raw(b) + 1)``
  — the add-one-smoothed target/raw frequency ratio at fixed point
  (the likelihood ratio DSIR exponentiates; monotone in it per bucket);
* per-document importance = mean bucket weight over the document's
  tokens (with multiplicity): ``sum(w) // n_tok`` — documents above
  ``W_SCALE x TGT_SHARE_NUM/TGT_SHARE_DEN`` (i.e. whose mean ratio
  clears the corpus-wide target share) are ``selected``.

The target set is docs with ``doc_id % TARGET_MOD == 0`` — the same
deterministic-slice convention as ops/curation.py's benchmark set
(different modulus, so the two ops stay independent).

Scale shape: the weight table is exactly ``N_BUCKETS`` rows — built by
two count aggregates whose map-side partial combine reduces each
partition to <= N_BUCKETS rows before the exchange — then **broadcast**
back onto the token stream; the per-document score aggregate partial-
combines to one row per document per partition (a document's tokens
are colocated by construction).  Nothing corpus-sized shuffles: tokens
never leave their partition un-aggregated, text never moves at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pdf_parser_spark.ops.common import (
    h32,
    h32_sql,
    load_table,
    tokens,
    tokens_sql,
)

N_BUCKETS = 256      # hashed-feature dimensionality
TARGET_MOD = 13      # target set = docs with doc_id % 13 == 0
W_SCALE = 10**6      # fixed-point scale for the frequency ratio
# selection threshold: mean ratio must exceed 2x the neutral ratio.
# With ~1/13 of docs in-target, a neutral bucket's smoothed ratio is
# ~W_SCALE/13; buckets the target over-uses score far higher.
SEL_NUM, SEL_DEN = 2, 13


def dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, importance, n_tok, selected) for every non-target doc."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("tok")
    ).filter(F.size("tok") >= 1)
    tokb = docs.select(
        "doc_id",
        (F.col("doc_id") % TARGET_MOD == 0).alias("is_tgt"),
        F.explode("tok").alias("t"),
    ).select("doc_id", "is_tgt", (h32(F.col("t")) % N_BUCKETS).alias("b"))
    weights = (
        tokb.groupBy("b")
        .agg(
            F.count(F.lit(1)).alias("raw_cnt"),
            F.sum(F.when(F.col("is_tgt"), 1).otherwise(0)).alias("tgt_cnt"),
        )
        .selectExpr(
            "b",
            f"((tgt_cnt + 1) * {W_SCALE}) div (raw_cnt + 1) AS w",
        )
    )
    return (
        tokb.filter(~F.col("is_tgt"))
        .join(F.broadcast(weights), "b")
        .groupBy("doc_id")
        .agg(F.sum("w").alias("w_sum"), F.count(F.lit(1)).alias("n_tok"))
        .selectExpr(
            "doc_id",
            "w_sum div n_tok AS importance",
            "n_tok",
            f"(w_sum div n_tok) * {SEL_DEN} >= {SEL_NUM} * {W_SCALE}"
            " AS selected",
        )
    )


DSIR_SELECT_SQL = f"""
WITH toks AS (
  SELECT doc_id, {tokens_sql("text")} AS tok FROM documents
),
tokb AS (
  SELECT doc_id, doc_id % {TARGET_MOD} = 0 AS is_tgt,
         {h32_sql("u.t")} % {N_BUCKETS} AS b
  FROM toks, unnest(tok) AS u(t)
  WHERE len(tok) >= 1
),
weights AS (
  SELECT b,
         ((sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) + 1) * {W_SCALE})
           // (count(*) + 1) AS w
  FROM tokb GROUP BY b
),
scored AS (
  SELECT t.doc_id, sum(w.w)::BIGINT AS w_sum, count(*)::BIGINT AS n_tok
  FROM tokb t JOIN weights w USING (b)
  WHERE NOT t.is_tgt
  GROUP BY t.doc_id
)
SELECT doc_id,
       (w_sum // n_tok)::BIGINT AS importance,
       n_tok,
       (w_sum // n_tok) * {SEL_DEN} >= {SEL_NUM} * {W_SCALE} AS selected
FROM scored
"""

QUERIES = {
    "dsir_select": (dsir_select, DSIR_SELECT_SQL),
}
