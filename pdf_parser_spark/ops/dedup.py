"""Corpus deduplication operators — exact, MinHash-LSH, SimHash,
n-gram Jaccard, embedding-cosine.

All plans are pure built-in-function DataFrame code (higher-order
array functions keep the per-document work JVM-side and NARROW — the
only shuffles are the candidate-pair self-joins, which are blocked on
LSH keys so the join fan-out is tiny).  Scale notes per operator in
the docstrings.

The synthetic ``documents`` table has no natural near-duplicates, so
the near-dup operators run over :func:`common.dedup_corpus` — every
document plus a deterministic perturbed twin — and must recover
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
    roundn_sql,
    dedup_corpus,
    h32,
    h32_sql,
    h32_utf8,
    load_table,
    shingles_sql,
    tokens,
    tokens_sql,
    word_grams_utf8,
)

MINHASH_K = 16          # signature length
LSH_BANDS = 4           # 4 bands x 4 rows
LSH_ROWS = MINHASH_K // LSH_BANDS
SHINGLE_N = 3           # word 3-grams
JACCARD_THRESHOLD = 0.5


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


def _shingle_hash_set(text: str) -> list[int]:
    """Distinct word-3-gram h32 values, sorted (deterministic).

    The distinct is applied to the HASH values, not the gram strings:
    every DuckDB oracle spells this as ``list_distinct([h32(s) ...])``,
    so two distinct grams colliding on the 32-bit prefix must collapse
    to one value on the Spark side too, or set sizes / SimHash votes
    diverge between engines on the (rare but corpus-scale-real)
    within-document collision."""
    if not text:  # None / empty cell must not kill the task
        return []
    return sorted({h32_utf8(g) for g in set(word_grams_utf8(text, SHINGLE_N))})


_PERM_A = 2 * np.arange(MINHASH_K, dtype=np.int64) + 1
_PERM_B = 12345 * np.arange(MINHASH_K, dtype=np.int64)


def minhash_signature(text: str | None) -> list[int]:
    """The MINHASH_K-long MinHash signature of ``text``: the min of
    each :func:`_perm` over its shingle-hash set.  Empty when the text
    has fewer than SHINGLE_N tokens."""
    hs = _shingle_hash_set(text)
    if not hs:
        return []
    h = np.asarray(hs, dtype=np.int64)
    sig = (h[None, :] * _PERM_A[:, None] + _PERM_B[:, None]) % MINHASH_PRIME
    return sig.min(axis=1).tolist()


def _make_sig_udf():
    @pandas_udf("array<long>")
    def minhash_sig(text: pd.Series) -> pd.Series:
        return pd.Series([minhash_signature(t) for t in text])

    return minhash_sig


def _make_shingle_hashes_udf():
    @pandas_udf("array<long>")
    def shingle_hashes(text: pd.Series) -> pd.Series:
        return pd.Series([_shingle_hash_set(t) for t in text])

    return shingle_hashes


def _shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id + distinct shingle-hash set ``shs`` (empty sets dropped).

    The emptiness guard runs BEFORE the UDF, on the exact condition
    that makes the set empty (< SHINGLE_N tokens): filtering on
    ``size(shs)`` AFTER the UDF puts one evaluation in the Filter and
    a second in the Project — Arrow UDF extraction is per-operator, so
    the expensive shingle hash ran TWICE per row."""
    corpus = dedup_corpus(spark, sf_dir).filter(
        F.size(tokens(F.col("text"))) >= SHINGLE_N
    )
    udf = _make_shingle_hashes_udf()
    return corpus.select("doc_id", udf(F.col("text")).alias("shs"))


def lsh_bands(sig_df: DataFrame) -> DataFrame:
    """Explode a ``(…, sig)`` frame into one row per LSH band:
    input columns + ``(band, band_key)`` where ``band_key`` is the md5
    of that band's signature slice.  Shared by the near-dup pair join
    and the decontaminated-split leak check (ops/splits.py)."""
    cols = sig_df.columns
    return sig_df.select(
        *cols,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(LSH_BANDS - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(
                        F.array_join(
                            F.transform(
                                F.slice("sig", b * LSH_ROWS + 1, LSH_ROWS),
                                lambda x: x.cast("string"),
                            ),
                            ",",
                        ).cast("binary")
                    ).alias("band_key"),
                ),
            )
        ).alias("bk"),
    ).select(*cols, F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))


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
    # emptiness guard BEFORE the UDF (see _shingled: a size(sig)
    # post-filter makes Filter and Project each evaluate the UDF)
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


# -- SimHash ----------------------------------------------------------------

SIMHASH_BITS = 32


def _make_simhash_udf():
    @pandas_udf("long")
    def simhash32(text: pd.Series) -> pd.Series:
        import hashlib

        bits = np.arange(SIMHASH_BITS, dtype=np.int64)
        weights = np.int64(1) << bits
        out = np.zeros(len(text), dtype=np.int64)
        for row, t in enumerate(text):
            toks = [x for x in t.split(" ") if x]
            if not toks:
                continue
            h = np.fromiter(
                (
                    int(hashlib.md5(x.encode("utf-8")).hexdigest()[:8], 16)
                    for x in toks
                ),
                dtype=np.int64,
                count=len(toks),
            )
            votes = (2 * ((h[:, None] >> bits[None, :]) & 1) - 1).sum(axis=0)
            out[row] = int(weights[votes > 0].sum())
        return pd.Series(out)

    return simhash32


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document: per-bit majority vote over token
    hashes, plus an 8-bit prefix bucket for blocking.

    Scale: fully narrow, zero shuffle.  The vote matrix is an
    Arrow-vectorized numpy UDF — interpreted HOF expressions cost
    ~3 µs/element-op, and 32 x |tokens| element-ops per doc made the
    built-in spelling ~17 s for 10k docs vs <1 s in numpy.  The bit
    math ((h >> j) & 1 == floor(h/2^j) % 2 for h ≥ 0) is identical to
    the SQL oracle's.
    """
    corpus = dedup_corpus(spark, sf_dir)
    udf = _make_simhash_udf()
    simhash = F.col("simhash")
    return corpus.select(
        "doc_id", udf(F.col("text")).alias("simhash")
    ).select(
        "doc_id",
        "simhash",
        F.floor(simhash / F.lit(float(1 << (SIMHASH_BITS - 8)))).cast("long").alias(
            "bucket"
        ),
    )


DEDUP_SIMHASH_SQL = (
    DEDUP_CORPUS_SQL
    + f""",
tok AS (
  SELECT doc_id, {tokens_sql("text")} AS t FROM corpus
),
th AS (
  SELECT doc_id, {h32_sql("u.tk")} AS h FROM tok, unnest(t) AS u(tk)
),
votes AS (
  SELECT doc_id, g.j AS j,
         sum(2 * (CAST(floor(h / power(2, g.j)) AS BIGINT) % 2) - 1) AS vote
  FROM th, generate_series(0, {SIMHASH_BITS - 1}) AS g(j)
  GROUP BY doc_id, g.j
),
sh AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN vote > 0 THEN CAST(power(2, j) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id
)
SELECT doc_id, simhash,
       CAST(floor(simhash / {float(1 << (SIMHASH_BITS - 8))}) AS BIGINT) AS bucket
FROM sh
"""
)


# -- n-gram Jaccard ---------------------------------------------------------

def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard over candidate pairs blocked on
    (global-min shingle hash, log2 size band) — 1-permutation MinHash
    blocking hardened against corpus skew.

    Scale: a single min-shingle key is skew-prone on real corpora — a
    ubiquitous boilerplate shingle that wins the min for millions of
    documents creates one quadratic bucket.  Compositing the shuffle
    key with ``floor(log2(|shingles|))`` splits any such bucket by
    document size.  Output-invariant: J(A,B) ≤ min/max set-size ratio,
    and a pair can survive the post-round threshold only when
    min ≥ 0.49995·max, which bounds the band gap at TWO (log2(0.49995)
    = -1.0000144…, so floor(log2) values differ by at most 2, and the
    gap-2 case is real: 16383 vs 32768 has bands 13/15 yet rounds to
    J = 0.5).  Each doc therefore emits (band, band+1, band+2) and a
    pair is kept only at k = max(band_a, band_b) — every surviving
    pair meets exactly once (one k equals the max) and no pair above
    the threshold is lost.
    Jaccard itself is exact set arithmetic on the shingle arrays
    (array_intersect/array_union, JVM-side).  The DuckDB oracle keeps
    the simpler unbanded form — equality of results IS the
    output-invariance proof, re-checked every round.
    """
    sh = _shingled(spark, sf_dir)
    # persist: same CollapseProject hazard as the LSH signature — the
    # shingle-hash UDF would otherwise be re-run on both join sides
    # and inside the intersect/union arithmetic
    keyed = sh.select(
        "doc_id",
        "shs",
        F.array_min(F.transform("shs", lambda h: _perm(h, 0))).alias("mh0"),
        F.floor(F.log2(F.size("shs"))).cast("long").alias("band"),
    ).persist()
    emitted = keyed.select(
        "doc_id",
        "shs",
        "mh0",
        "band",
        F.explode(
            F.array(F.col("band"), F.col("band") + 1, F.col("band") + 2)
        ).alias("k"),
    )
    a = emitted.alias("a")
    b = emitted.alias("b")
    inter = F.size(F.array_intersect("a.shs", "b.shs"))
    union = F.size(F.array_union("a.shs", "b.shs"))
    # exact pre-filter: J ≤ min(|A|,|B|)/max(|A|,|B|) (inter ≤ min,
    # union ≥ max), so a pair whose size ratio is already below the
    # post-round threshold can never survive — reject it on two size
    # comparisons BEFORE paying the intersect/union set arithmetic.
    # 0.49995 is the exact post-roundn(4) acceptance boundary used in
    # the band-gap argument above; removal-only, so the unbanded
    # oracle equality (the output-invariance proof) is untouched.
    sz_a, sz_b = F.size("a.shs"), F.size("b.shs")
    ratio_ok = F.least(sz_a, sz_b).cast("double") >= (
        F.greatest(sz_a, sz_b) * 0.49995
    )
    return (
        a.join(
            b,
            (F.col("a.mh0") == F.col("b.mh0"))
            & (F.col("a.k") == F.col("b.k"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.k") == F.greatest("a.band", "b.band"))
            & ratio_ok,
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            roundn(inter.cast("double") / union, 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


DEDUP_NGRAM_JACCARD_SQL = (
    DEDUP_CORPUS_SQL
    + f""",
shingled AS (
  SELECT doc_id, {shingles_sql(tokens_sql("text"), SHINGLE_N)} AS sh FROM corpus
),
hashed AS (
  SELECT doc_id, list_distinct([{h32_sql("s")} for s in sh]) AS shs
  FROM shingled WHERE len(sh) >= 1
),
keyed AS (
  SELECT doc_id, shs,
         list_min([h % {MINHASH_PRIME} for h in shs]) AS mh0
  FROM hashed
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       (floor((len(list_intersect(a.shs, b.shs))::DOUBLE / len(list_distinct(list_concat(a.shs, b.shs)))) * 10000.0 + 0.5) / 10000.0) AS jaccard
FROM keyed a JOIN keyed b ON a.mh0 = b.mh0 AND a.doc_id < b.doc_id
WHERE (floor((len(list_intersect(a.shs, b.shs))::DOUBLE / len(list_distinct(list_concat(a.shs, b.shs)))) * 10000.0 + 0.5) / 10000.0) >= {JACCARD_THRESHOLD}
"""
)


# -- embedding-cosine near-dup ---------------------------------------------

COSINE_DUP_THRESHOLD = 0.99
EMB_TWIN_LIMIT = 200  # twins injected for the first N vectors


def _emb_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings ∪ perturbed twins (first component +0.01,
    vec_id + 1_000_000) — the deterministic near-dup ground truth."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    twin = emb.filter(F.col("vec_id") < EMB_TWIN_LIMIT).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("v", 1) + 0.01), F.slice("v", 2, 63)
        ).alias("v"),
    )
    return emb.unionByName(twin)


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: 6-bit sign bucket (components 2-7) →
    within-bucket self-join → cosine ≥ 0.99.

    Scale: the sign-bucket is a cheap LSH family (random-hyperplane
    with axis-aligned planes); K planes cut the pair space 2^K-fold.
    The planes deliberately exclude component 1 — the twin
    perturbation axis — so every injected twin shares its original's
    bucket (at cluster scale you'd repeat bands to recover boundary
    losses, as in MinHash-LSH).  Norms are precomputed per vector
    (persist) so each candidate pair folds ONE dot product instead of
    three — HOF folds are interpreted, so per-pair op count is the
    budget.
    """
    bucket = sum(
        (F.element_at("v", c) >= 0).cast("int") * (1 << (7 - c))
        for c in range(2, 8)
    )
    corpus = (
        _emb_corpus(spark, sf_dir)
        .withColumn("bucket", bucket)
        .withColumn(
            "nv",
            F.sqrt(
                F.aggregate(
                    F.transform("v", lambda x: x * x),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
        )
        .persist()
    )
    a = corpus.alias("a")
    b = corpus.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = dot / (F.col("a.nv") * F.col("b.nv"))
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            roundn(cos, 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= COSINE_DUP_THRESHOLD)
    )


EMB_CORPUS_SQL = f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
corpus AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id,
         list_concat([v[1] + 0.01], v[2:64]) AS v
  FROM base WHERE vec_id < {EMB_TWIN_LIMIT}
)
"""

# same sequential-fold arithmetic as the Spark plan: dot via
# list_reduce left-to-right, norms precomputed per vector
_SEQ_DOT_AB = (
    "list_reduce([(a.v)[i] * (b.v)[i] for i in generate_series(1, 64)], "
    "(acc, x) -> acc + x)"
)
_SEQ_NORM = (
    "sqrt(list_reduce([(v)[i] * (v)[i] for i in generate_series(1, 64)], "
    "(acc, x) -> acc + x))"
)
_R4COS_AB = roundn_sql(f"{_SEQ_DOT_AB} / (a.nv * b.nv)", 4)

DEDUP_EMBEDDING_COSINE_SQL = (
    EMB_CORPUS_SQL
    + f""",
bucketed AS (
  SELECT vec_id, v,
         (CASE WHEN v[2] >= 0 THEN 32 ELSE 0 END
          + CASE WHEN v[3] >= 0 THEN 16 ELSE 0 END
          + CASE WHEN v[4] >= 0 THEN 8 ELSE 0 END
          + CASE WHEN v[5] >= 0 THEN 4 ELSE 0 END
          + CASE WHEN v[6] >= 0 THEN 2 ELSE 0 END
          + CASE WHEN v[7] >= 0 THEN 1 ELSE 0 END) AS bucket,
         {_SEQ_NORM} AS nv
  FROM corpus
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {_R4COS_AB} AS cosine
FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {_R4COS_AB} >= {COSINE_DUP_THRESHOLD}
"""
)


# -- connected-components dedup clustering ----------------------------------

def dedup_cluster(
    spark: SparkSession, sf_dir: str, _stats: dict | None = None
) -> DataFrame:
    """Connected components over the n-gram-Jaccard near-dup pairs:
    every document in a pair gets the component id = the smallest
    doc_id transitively reachable, plus the component size — the
    canonical "pick one representative per duplicate cluster" step
    that follows pair generation in every at-scale dedup pipeline.

    Scale: iterative min-label propagation with POINTER JUMPING
    (label(u) <- label(label(u)) each round), so convergence is
    O(log diameter) rounds, not O(diameter) — near-dup clusters are
    near-cliques (diameter 1-2) but chained similarity can build long
    paths.  Each round is two small joins over (node, label) pairs —
    the edge list is orders of magnitude smaller than the corpus, and
    nothing document-sized is ever shuffled.  The loop is driver-side
    control flow over DataFrame ops (the one legitimately iterative
    operator in the suite); the fixpoint test is an empty-diff check.

    The fixpoint probe runs EVERY round on purpose — it is the
    round's materializer, not just a convergence check.  Thinning it
    to every 2nd round was tried (round 4) and measured 3.6× SLOWER at
    sf0.1: without an action, the round's persisted relations stay
    unfilled, and the jump self-join's two scans of the same
    unmaterialized InMemoryRelation execute CONCURRENTLY in the next
    materializing job — concurrent first-computation is not deduped
    (each task races to fill the cache block), so probe-less rounds
    compound ~2× duplicated work per level of nesting.  One cheap
    edge-sized job per round is the price of keeping every round
    computed exactly once.  ``_stats`` (tests only) receives
    {"rounds", "probes"}.
    """
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    fwd = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    edges = fwd.unionByName(
        pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    ).persist()
    labels = (
        edges.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .persist()
    )
    rounds = probes = 0
    for rnd in range(20):  # ceil(log2) bound for any plausible diameter
        rounds = rnd + 1
        neighbor_min = (
            edges.join(labels, edges["v"] == labels["id"])
            .select(edges["u"].alias("id"), "label")
        )
        new = (
            labels.select("id", "label")
            .unionByName(neighbor_min)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        )
        # pointer jumping: follow the label's own label
        jumped = (
            new.alias("n")
            .join(
                new.select(
                    F.col("id").alias("jid"), F.col("label").alias("jlabel")
                ),
                F.col("n.label") == F.col("jid"),
                "left",
            )
            .select(
                F.col("n.id").alias("id"),
                F.coalesce(F.least("n.label", "jlabel"), F.col("n.label")).alias(
                    "label"
                ),
            )
            .persist()
        )
        # probe = materialize + converge-check in one edge-sized job
        # (see docstring: every round, on purpose)
        probes += 1
        changed = (
            jumped.alias("a")
            .join(labels.alias("b"), F.col("a.id") == F.col("b.id"))
            .filter(F.col("a.label") != F.col("b.label"))
            .limit(1)
            .count()
        )
        labels.unpersist()
        labels = jumped
        if changed == 0:
            break
    if _stats is not None:
        _stats.update(rounds=rounds, probes=probes)
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("csize"))
    out = (
        labels.join(sizes, "label")
        .select(
            F.col("id").alias("doc_id"),
            F.col("label").alias("component_id"),
            "csize",
        )
    )
    edges.unpersist()
    return out


# Oracle: transitive closure by recursive CTE (exact for the sf sizes
# the driver checks); component id = min reachable node.  The pair
# source is the full DEDUP_NGRAM_JACCARD_SQL as a subquery so both
# sides cluster exactly the same edge set.
DEDUP_CLUSTER_SQL = f"""
WITH RECURSIVE
pairs AS (
  SELECT doc_a, doc_b FROM ({DEDUP_NGRAM_JACCARD_SQL}) q
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
nodes AS (SELECT DISTINCT u AS id FROM edges),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT reach.id, e.v FROM reach JOIN edges e ON e.u = reach.r
),
comp AS (
  SELECT id AS doc_id, min(r) AS component_id FROM reach GROUP BY id
)
SELECT c.doc_id, c.component_id,
       count(*) OVER (PARTITION BY c.component_id) AS csize
FROM comp c
"""


QUERIES = {
    "dedup_exact": (dedup_exact, DEDUP_EXACT_SQL),
    "dedup_minhash_lsh": (dedup_minhash_lsh, DEDUP_MINHASH_LSH_SQL),
    "dedup_simhash": (dedup_simhash, DEDUP_SIMHASH_SQL),
    "dedup_ngram_jaccard": (dedup_ngram_jaccard, DEDUP_NGRAM_JACCARD_SQL),
    "dedup_embedding_cosine": (dedup_embedding_cosine, DEDUP_EMBEDDING_COSINE_SQL),
    "dedup_cluster": (dedup_cluster, DEDUP_CLUSTER_SQL),
}
