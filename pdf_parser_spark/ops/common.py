"""Shared deterministic primitives with exact Spark/DuckDB twins.

Every corpus operator is graded by the driver running the Spark plan
AND an ANSI-SQL oracle side by side, so every non-trivial expression
here comes in two byte-equivalent spellings:

* ``h32``: a 32-bit unsigned hash as BIGINT — the first 8 hex chars of
  md5 re-read as an integer.  Spark: ``conv(substr(md5(s),1,8),16,10)``
  cast to long; DuckDB: ``('0x' || substr(md5(s),1,8))::BIGINT``.
  md5 of UTF-8 text is identical everywhere, which makes MinHash /
  SimHash / bucketing reproducible across engines (unlike
  ``xxhash64``/``hash``, whose seeds are engine-specific).
* ``tokens``: whitespace split with empties dropped.

The Column spellings run JVM-side inside WholeStageCodegen.  The
Arrow UDFs that hash word grams (MinHash shingles, span-dedup
8-grams) use the Python twins ``utf8_tokens`` and ``h32_grams``.
"""

from __future__ import annotations

from itertools import accumulate

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

try:  # CPython's built-in md5 runs ~3x faster than OpenSSL's on short grams
    from _md5 import md5 as _md5
except ImportError:  # an interpreter built without it
    from hashlib import md5 as _md5


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# -- 32-bit md5-prefix hash -------------------------------------------------

def h32(col: Column) -> Column:
    """Deterministic 32-bit hash of a string column as BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def h32_sql(expr: str) -> str:
    """DuckDB twin of :func:`h32`."""
    return f"(('0x' || substr(md5({expr}), 1, 8))::BIGINT)"


def seeded_h32(seed: Column | int, col: Column) -> Column:
    """Hash-family member i: h32(i || '|' || s)."""
    seed_c = F.lit(str(seed)) if isinstance(seed, int) else seed.cast("string")
    return h32(F.concat_ws("|", seed_c, col))


def seeded_h32_sql(seed_expr: str, expr: str) -> str:
    return h32_sql(f"concat({seed_expr}::VARCHAR, '|', {expr})")


# -- engine-neutral decimal rounding ---------------------------------------

def roundn(col: Column, n: int) -> Column:
    """floor(x*10^n + 0.5)/10^n — identical doubles on every engine.

    Spark's round() HALF_UPs the shortest decimal repr while DuckDB
    rounds the binary value, so they disagree whenever the true value
    sits just under a .5 boundary (e.g. 0.26684999…). This formula is
    plain double arithmetic, bit-identical everywhere.
    """
    scale = float(10**n)
    return F.floor(col * scale + 0.5) / scale


# -- tokenization -----------------------------------------------------------

def tokens(col: Column) -> Column:
    """Whitespace tokens, empty strings dropped (multi-space tolerant)."""
    return F.filter(F.split(col, " "), lambda t: t != "")


TOKENS_SQL = "list_filter(string_split({expr}, ' '), t -> t <> '')"


def tokens_sql(expr: str) -> str:
    return TOKENS_SQL.format(expr=expr)


# -- word shingles (n-grams as space-joined strings) ------------------------

def shingles(tok: Column, n: int) -> Column:
    """Distinct word n-grams of a token array, each joined with ' '.

    Empty array when the document has < n tokens (mirrors the SQL
    twin's empty generate_series).
    """
    idx = F.when(
        F.size(tok) >= n, F.sequence(F.lit(1), F.size(tok) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    gram = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(tok, i + j) for j in range(n)]
        ),
    )
    return F.array_distinct(gram)


def utf8_tokens(text: str | None) -> tuple[bytes, list[bytes]]:
    """The UTF-8 bytes of ``text`` and its :func:`tokens`, split from
    those bytes (no UTF-8 sequence holds a 0x20 byte, so splitting the
    encoded text is splitting the text).  ``None`` reads as empty."""
    b = (text or "").encode("utf-8")
    return b, [t for t in b.split(b" ") if t]


def h32_grams(b: bytes, toks: list[bytes], *ns: int) -> list[np.ndarray]:
    """Python twin of :func:`h32` over the word n-grams behind
    :func:`shingles`: for each n in ``ns``, an int64 array holding the
    h32 of the tokens at positions i..i+n-1 joined with one space, for
    every i in position order (empty when ``toks`` has fewer than n).

    ``b`` and ``toks`` come from :func:`utf8_tokens`.  A single-spaced
    text already holds every gram as one slice, so no gram is re-joined
    or re-encoded; each n's grams are hashed into one buffer of md5
    digests whose first four bytes are read big-endian."""
    starts = list(accumulate([len(t) + 1 for t in toks], initial=0))
    if len(b) != starts[-1] - 1:  # spaces doubled, leading or trailing
        b = b" ".join(toks)
    ends = [s - 1 for s in starts]
    out = []
    for n in ns:
        grams = map(b.__getitem__, map(slice, starts, ends[n:]))
        digests = b"".join([m.digest() for m in map(_md5, grams)])
        out.append(np.frombuffer(digests, ">u4")[::4].astype(np.int64))
    return out


def shingles_sql(tok_expr: str, n: int) -> str:
    """DuckDB twin of :func:`shingles`.

    NOTE: DuckDB's list_distinct does NOT preserve order (Spark's
    array_distinct does), so shingle arrays must only feed order-free
    aggregates (min / set counts) — which is all MinHash and Jaccard
    need.
    """
    parts = " || ' ' || ".join(f"({tok_expr})[i + {j}]" for j in range(n))
    return (
        f"list_distinct([({parts}) "
        f"for i in generate_series(1, len({tok_expr}) - {n - 1})])"
    )


# -- the derived dedup corpus ----------------------------------------------

# Near-duplicate structure is injected deterministically: alongside
# every document we add a perturbed twin (last token dropped,
# doc_id + 1_000_000).  The synthetic `documents` table has no natural
# near-dups; MinHash/SimHash/Jaccard must then recover exactly the
# (doc, twin) pairs — a checkable, non-empty oracle for the dedup ops.
DEDUP_CORPUS_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tok
  FROM documents
),
corpus AS (
  SELECT doc_id, array_to_string(tok, ' ') AS text FROM toks WHERE len(tok) >= 4
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         array_to_string(tok[1:len(tok) - 1], ' ') AS text
  FROM toks WHERE len(tok) >= 4
)
"""


def dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of DEDUP_CORPUS_SQL: documents ∪ perturbed twins."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", tokens(F.col("text")).alias("tok")).filter(
        F.size("tok") >= 4
    )
    base = tok.select("doc_id", F.array_join("tok", " ").alias("text"))
    twin = tok.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.array_join(F.slice("tok", 1, F.size("tok") - 1), " ").alias("text"),
    )
    return base.unionByName(twin)
