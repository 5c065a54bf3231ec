"""Corpus deduplication operators: exact (md5) and MinHash-LSH.

``minhash_signature``, ``_make_sig_udf`` and ``lsh_bands`` are the
MinHash/LSH hash spec the product shares: ``jobs/curate.py``'s
near-dup collapse, ``jobs/split.py``'s leak check, ``ops/splits.py``
and ``streaming/neardup.py`` all build on them, and
:func:`dedup_minhash_lsh` pins that spec value-for-value against its
DuckDB oracle.  The only shuffle in the LSH plan is the candidate-pair
self-join, blocked on band keys so the join fan-out stays small.

The synthetic ``documents`` table has no natural near-duplicates, so
the near-dup operator runs over :func:`common.dedup_corpus`: every
document plus a deterministic perturbed twin, and it must recover
exactly the (doc, twin) pairs.  This makes the oracle non-empty and
checkable.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.functions import pandas_udf

from pdf_parser_spark.ops.common import (
    DEDUP_CORPUS_SQL,
    roundn,
    dedup_corpus,
    h32_grams,
    h32_sql,
    load_table,
    shingles_sql,
    tokens,
    tokens_sql,
    utf8_tokens,
)

MINHASH_K = 16          # signature length
LSH_BANDS = 4           # 4 bands x 4 rows
LSH_ROWS = MINHASH_K // LSH_BANDS
SHINGLE_N = 3           # word 3-grams


# -- exact dedup ------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on md5(text).

    Scale: one shuffle keyed on a 128-bit content hash — uniformly
    distributed by construction, no skew; partial aggregation
    (map-side combine) collapses duplicates before the exchange.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.col("text").cast("binary")).alias("content_hash"))
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


DEDUP_EXACT_SQL = """
SELECT md5(text) AS content_hash,
       count(*)  AS dup_count,
       min(doc_id) AS keep_doc_id
FROM documents
GROUP BY 1
"""


# -- MinHash + LSH ----------------------------------------------------------

# k-permutation family via affine transforms of ONE base hash per
# shingle (standard universal-hash MinHash): md5 runs once per
# shingle, the k permutations are integer arithmetic.  16x cheaper
# than k independent md5 calls — HOF expressions are interpreted
# (outside WholeStageCodegen), so per-element op cost is the budget.
MINHASH_PRIME = 4294967291  # largest 32-bit prime


def _perm(h, i):
    """h_i = (h * (2i+1) + 12345*i) mod p — exact in BIGINT on every
    engine (h < 2^32, multiplier ≤ 31 → product < 2^37)."""
    return (h * (2 * i + 1) + 12345 * i) % MINHASH_PRIME


def _perm_sql(h_expr: str, i_expr: str) -> str:
    return (
        f"(({h_expr}) * (2 * ({i_expr}) + 1) + 12345 * ({i_expr})) % {MINHASH_PRIME}"
    )


# The signature build is an Arrow-vectorized pandas UDF, not nested
# higher-order functions.  Measured on local[32]: Catalyst evaluates
# HOF lambdas interpreted (outside WholeStageCodegen) at ~3 µs per
# element-op, so 16 x |shingles| work cost ~12 ms/doc (117 s for 10k
# docs); the same math in numpy + C md5 is ~50x faster.  The hash
# spec (md5-prefix base hash, affine perms) is IDENTICAL, so the
# DuckDB oracle still matches value-for-value.  This is the
# "UDF only where built-ins genuinely can't express it (efficiently)"
# escape hatch, justified by measurement.


_PERM_A = 2 * np.arange(MINHASH_K, dtype=np.int64) + 1
_PERM_B = 12345 * np.arange(MINHASH_K, dtype=np.int64)


def minhash_of(shingle_hashes: np.ndarray) -> list[int]:
    """The MINHASH_K-long MinHash signature over word-3-gram h32
    values: the min of each :func:`_perm` over all of them.  A min does
    not change when a value repeats, so this is the oracle's min over
    its distinct shingles, even when two distinct grams collide on the
    32-bit prefix.  Empty when there are no shingles."""
    if not shingle_hashes.size:
        return []
    h = shingle_hashes[None, :]
    return ((h * _PERM_A[:, None] + _PERM_B[:, None]) % MINHASH_PRIME).min(axis=1).tolist()


def minhash_signature(text: str | None) -> list[int]:
    """The MinHash signature (:func:`minhash_of`) of ``text``'s word
    3-grams.  Empty when the text has fewer than SHINGLE_N tokens."""
    return minhash_of(h32_grams(*utf8_tokens(text), SHINGLE_N)[0])


def _make_sig_udf():
    @pandas_udf("array<long>")
    def minhash_sig(text: pd.Series) -> pd.Series:
        return pd.Series([minhash_signature(t) for t in text])

    return minhash_sig


def lsh_bands(sig_df: DataFrame) -> DataFrame:
    """Explode a ``(…, sig)`` frame into one row per LSH band:
    input columns + ``(band, band_key)`` where ``band_key`` is the md5
    of that band's signature slice.  Shared by the near-dup pair join
    and the decontaminated-split leak check (ops/splits.py).  Written
    as one SQL generator, so the plan costs one JVM call to build."""
    band_key = (
        f"md5(CAST(array_join(transform(slice(sig, b * {LSH_ROWS} + 1, {LSH_ROWS}),"
        " x -> CAST(x AS STRING)), ',') AS BINARY))"
    )
    return sig_df.selectExpr(
        "*",
        f"inline(transform(sequence(0, {LSH_BANDS - 1}),"
        f" b -> named_struct('band', b, 'band_key', {band_key})))",
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs: shingle → k-minhash signature →
    band keys → bucket self-join → signature-overlap estimate.

    Scale: the self-join is keyed on (band, band_key) — bucket sizes
    are ~Poisson(1) for non-dup docs, so the join explodes only where
    true near-dups exist.  The signature build is narrow; only band
    keys (doc_id, 4 × 32 bytes) shuffle, never the text.
    """
    # persist() is load-bearing: without a materialization point the
    # signature UDF would be re-evaluated on every band key and join
    # side (CollapseProject).  At cluster scale this is where
    # signatures get written to their own table.
    sig_udf = _make_sig_udf()
    # emptiness guard BEFORE the UDF, on the exact condition that
    # empties the signature (< SHINGLE_N tokens): a size(sig)
    # post-filter makes Filter and Project each evaluate the UDF
    sig = (
        dedup_corpus(spark, sf_dir)
        .filter(F.size(tokens(F.col("text"))) >= SHINGLE_N)
        .select("doc_id", sig_udf(F.col("text")).alias("sig"))
        .persist()
    )
    bands = lsh_bands(sig)

    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    overlap = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda t: t
        )
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        roundn(overlap / F.lit(float(MINHASH_K)), 4).alias("est_jaccard"),
    )


def _minhash_sql_prelude() -> str:
    """Shared CTEs: corpus → shingles → base hash per shingle →
    k permutations → ordered signature list per doc."""
    sh = shingles_sql(tokens_sql("text"), SHINGLE_N)
    return (
        DEDUP_CORPUS_SQL
        + f""",
shingled AS (
  SELECT doc_id, {sh} AS sh FROM corpus
),
shingled_ok AS (
  SELECT * FROM shingled WHERE len(sh) >= 1
),
hashed AS (
  SELECT doc_id, {h32_sql("u.sh")} AS h
  FROM shingled_ok, unnest(sh) AS u(sh)
),
mh AS (
  SELECT doc_id, g.i AS i, min({_perm_sql("h", "g.i")}) AS v
  FROM hashed, generate_series(0, {MINHASH_K - 1}) AS g(i)
  GROUP BY doc_id, g.i
),
sigs AS (
  SELECT doc_id, list(v ORDER BY i) AS sig FROM mh GROUP BY doc_id
)
"""
    )


DEDUP_MINHASH_LSH_SQL = (
    _minhash_sql_prelude()
    + f""",
bands AS (
  SELECT doc_id, sig, g.b AS band,
         md5(array_to_string(sig[g.b * {LSH_ROWS} + 1 : g.b * {LSH_ROWS} + {LSH_ROWS}], ',')) AS band_key
  FROM sigs, generate_series(0, {LSH_BANDS - 1}) AS g(b)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sig_a, b.sig AS sig_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       round(len(list_filter([sig_a[i] = sig_b[i] for i in generate_series(1, {MINHASH_K})], x -> x))
             / {float(MINHASH_K)}, 4) AS est_jaccard
FROM pairs
"""
)


QUERIES = {
    "dedup_exact": (dedup_exact, DEDUP_EXACT_SQL),
    "dedup_minhash_lsh": (dedup_minhash_lsh, DEDUP_MINHASH_LSH_SQL),
}
