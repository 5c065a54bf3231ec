"""Train/val splitting with near-dup leakage quarantine.

A deterministic hash split is not enough at web scale: near-duplicate
pairs straddle the split boundary, so the validation set silently
overlaps the training set (test-set contamination; the
decontamination step in GPT-3 §2.2 / Gopher App. A — public).
``split_decontaminated`` splits by hash, then quarantines every val
document that shares a MinHash-LSH band bucket with any train
document — the same banding as ops/dedup.py, so "leaked" means "would
have been flagged by the near-dup pass".  ``leaked_val_ids`` is the
leak check itself, shared with jobs/split.py.

Scale shape: the signature build is narrow (Arrow UDF over the text,
once — persisted exactly like dedup_minhash_lsh); only ``(doc_id,
band, band_key, is_val)`` ever shuffles.  The leak check is a LEFT
SEMI join of the val band keys (a few % of the corpus) against the
train band keys on ``(band, band_key)`` — Poisson(1) buckets, no pair
explosion, text never moves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pdf_parser_spark.ops.common import (
    seeded_h32,
    seeded_h32_sql,
    tokens,
)
from pdf_parser_spark.ops.dedup import (
    LSH_BANDS,
    LSH_ROWS,
    SHINGLE_N,
    _make_sig_udf,
    _minhash_sql_prelude,
    lsh_bands,
)
from pdf_parser_spark.ops.common import dedup_corpus

# ~10% of documents land in the validation split
VAL_MOD = 10


# ---------------------------------------------------------------------------
# split_decontaminated — hash split + LSH leakage quarantine
# ---------------------------------------------------------------------------

def leaked_val_ids(bands: DataFrame, id_col: str) -> DataFrame:
    """ids (one column, distinct) of VALIDATION rows that share an LSH
    band bucket with any train row — the leakage set both the operator
    and the split job quarantine.

    ``bands`` must carry ``(id_col, is_val, band, band_key)`` (the
    :func:`pdf_parser_spark.ops.dedup.lsh_bands` shape).  One LEFT SEMI
    join on ``(band, band_key)``: val keys are a few % of the corpus,
    buckets are Poisson(1) at the dedup banding, text never moves.
    """
    train_keys = bands.filter(~F.col("is_val")).select("band", "band_key")
    return (
        bands.filter(F.col("is_val"))
        .join(train_keys, ["band", "band_key"], "left_semi")
        .select(id_col)
        .distinct()
    )


def split_decontaminated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, leaked) for every VALIDATION document: ``leaked`` is
    true iff the doc shares an LSH band bucket with any train doc.

    Runs over the dedup corpus (documents ∪ perturbed twins), whose
    injected near-dup pairs straddle the hash split ~18% of the time —
    a non-empty, checkable leak set.
    """
    sig_udf = _make_sig_udf()
    # emptiness guard BEFORE the UDF (a size(sig) post-filter makes
    # Filter and Project each evaluate the UDF — see
    # dedup.dedup_minhash_lsh)
    sig = (
        dedup_corpus(spark, sf_dir)
        .filter(F.size(tokens(F.col("text"))) >= SHINGLE_N)
        .select("doc_id", sig_udf(F.col("text")).alias("sig"))
        .withColumn(
            "is_val",
            seeded_h32(F.lit("split"), F.col("doc_id").cast("string"))
            % VAL_MOD
            == 0,
        )
        .persist()
    )
    bands = lsh_bands(sig).select("doc_id", "is_val", "band", "band_key")
    leaked = leaked_val_ids(bands, "doc_id").withColumn("leaked", F.lit(True))
    return (
        sig.filter(F.col("is_val"))
        .select("doc_id")
        .join(leaked, "doc_id", "left")
        .select(
            "doc_id", F.coalesce("leaked", F.lit(False)).alias("leaked")
        )
    )


SPLIT_DECONTAMINATED_SQL = (
    _minhash_sql_prelude()
    + f""",
split AS (
  SELECT doc_id, sig,
         ({seeded_h32_sql("'split'", "doc_id::VARCHAR")} % {VAL_MOD} = 0)
           AS is_val
  FROM sigs
),
split_bands AS (
  SELECT doc_id, is_val, g.b AS band,
         md5(array_to_string(sig[g.b * {LSH_ROWS} + 1 : g.b * {LSH_ROWS} + {LSH_ROWS}], ',')) AS band_key
  FROM split, generate_series(0, {LSH_BANDS - 1}) AS g(b)
),
leaked AS (
  SELECT DISTINCT v.doc_id
  FROM split_bands v
  JOIN split_bands t
    ON v.band = t.band AND v.band_key = t.band_key
  WHERE v.is_val AND NOT t.is_val
)
SELECT s.doc_id, (l.doc_id IS NOT NULL) AS leaked
FROM split s LEFT JOIN leaked l USING (doc_id)
WHERE s.is_val
"""
)


QUERIES = {
    "split_decontaminated": (split_decontaminated, SPLIT_DECONTAMINATED_SQL),
}
