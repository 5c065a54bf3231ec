"""Train/val splitting with near-dup leakage quarantine, and
language-temperature rebalancing.

Two corpus-assembly operators a training-data pipeline runs after
curation:

* ``split_decontaminated`` — a deterministic hash split is not enough
  at web scale: near-duplicate pairs straddle the split boundary, so
  the validation set silently overlaps the training set (test-set
  contamination; the decontamination step in GPT-3 §2.2 / Gopher
  App. A — public).  This operator splits by hash, then quarantines
  every val document that shares a MinHash-LSH band bucket with any
  train document — the same banding as ops/dedup.py, so "leaked"
  means "would have been flagged by the near-dup pass".
* ``lang_temperature_sample`` — multilingual corpora are rebalanced by
  temperature before training (mT5, Xue et al. 2021 §3.1 — public):
  sampling rate ∝ (n_l/N)^α flattens the head.  α = 0.5 is the one
  temperature whose weights are exactly computable in integer+IEEE
  math (``floor(sqrt(n))`` — sqrt is correctly rounded on every
  engine, so Spark and DuckDB agree bit-for-bit; ln/pow would flake
  the value-hash gate in the last ulp).

Scale shapes:

* split: the signature build is narrow (Arrow UDF over the text, once
  — persisted exactly like dedup_minhash_lsh); only ``(doc_id,
  band, band_key, is_val)`` ever shuffles.  The leak check is a
  LEFT SEMI join of the val band keys (a few % of the corpus) against
  the train band keys on ``(band, band_key)`` — Poisson(1) buckets, no
  pair explosion, text never moves.
* temperature: two O(langs)-row aggregates (map-side combine reduces
  each partition to ≤ |langs| rows), the quota table broadcast back,
  then a **narrow hash-threshold gate** — NOT a per-language
  row_number window: rank-within-language at 10^12 docs is one giant
  skewed sort per head language, while ``h32(doc) % n_l < quota_l``
  selects the same expected volume with zero additional shuffle.  The
  final per-language tally partial-combines to ≤ |langs| rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pdf_parser_spark.ops.common import (
    load_table,
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
# language-temperature target volume: ~ total_docs / TEMP_TARGET_DEN
TEMP_TARGET_DEN = 4


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


# ---------------------------------------------------------------------------
# lang_temperature_sample — α=0.5 temperature rebalancing by hash gate
# ---------------------------------------------------------------------------

def lang_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, n_docs, weight, quota, n_selected): per-language volume
    after α=0.5 temperature rebalancing.

    ``weight = floor(sqrt(n_docs))``; ``quota = (tot_docs * weight)
    div (TEMP_TARGET_DEN * Σweight)``; a document is selected iff
    ``h32('lts|' || doc_id) % n_docs < quota`` — expected selected
    count = quota (exactly quota/n_docs of a uniform hash range),
    with zero shuffle beyond the two O(langs) aggregates.  A language
    whose quota exceeds its n_docs is kept whole (the gate is then
    always true) — upsampling is a repetition policy, not a selection
    one.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    counts = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn("w", F.floor(F.sqrt(F.col("n_docs"))).cast("long"))
    )
    tot = counts.agg(
        F.sum("n_docs").alias("tot_docs"), F.sum("w").alias("tot_w")
    )
    quota = counts.crossJoin(F.broadcast(tot)).selectExpr(
        "lang",
        "n_docs",
        "w",
        f"(tot_docs * w) div ({TEMP_TARGET_DEN} * tot_w) AS quota",
    )
    sel = docs.join(F.broadcast(quota), "lang").select(
        "lang",
        "n_docs",
        "w",
        "quota",
        (
            seeded_h32(F.lit("lts"), F.col("doc_id").cast("string"))
            % F.col("n_docs")
            < F.col("quota")
        ).alias("sel"),
    )
    return sel.groupBy("lang").agg(
        F.max("n_docs").alias("n_docs"),
        F.max("w").alias("weight"),
        F.max("quota").alias("quota"),
        F.sum(F.when(F.col("sel"), 1).otherwise(0)).alias("n_selected"),
    )


LANG_TEMPERATURE_SAMPLE_SQL = f"""
WITH counts AS (
  SELECT lang, count(*)::BIGINT AS n_docs FROM documents GROUP BY 1
),
wt AS (
  SELECT lang, n_docs, CAST(floor(sqrt(n_docs)) AS BIGINT) AS w FROM counts
),
tot AS (
  SELECT sum(n_docs)::BIGINT AS tot_docs, sum(w)::BIGINT AS tot_w FROM wt
),
quota AS (
  SELECT lang, n_docs, w,
         (tot_docs * w) // ({TEMP_TARGET_DEN} * tot_w) AS quota
  FROM wt, tot
),
sel AS (
  SELECT d.lang, q.n_docs, q.w, q.quota,
         ({seeded_h32_sql("'lts'", "d.doc_id::VARCHAR")} % q.n_docs)
           < q.quota AS sel
  FROM documents d JOIN quota q USING (lang)
)
SELECT lang, max(n_docs) AS n_docs, max(w) AS weight, max(quota) AS quota,
       CAST(sum(CASE WHEN sel THEN 1 ELSE 0 END) AS BIGINT) AS n_selected
FROM sel GROUP BY 1
"""


QUERIES = {
    "split_decontaminated": (split_decontaminated, SPLIT_DECONTAMINATED_SQL),
    "lang_temperature_sample": (
        lang_temperature_sample,
        LANG_TEMPERATURE_SAMPLE_SQL,
    ),
}
