"""Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
SIGMOD 2003 — the MOSS algorithm; public).

Unlike MinHash (a probabilistic sketch of the WHOLE document) or the
single min-shingle fingerprint in ops/textstats, winnowing gives a
LOCAL guarantee: from every window of ``WINNOW_W`` consecutive k-gram
hashes the minimum is selected, so any two documents sharing a
contiguous run of at least ``WINNOW_W + WINNOW_K - 1`` tokens (8 with
the defaults) are guaranteed to share at least one fingerprint — the
property plagiarism/near-dup detection at span granularity needs and
no global sketch provides.  ``winnow_fingerprint`` emits the per-doc
summary (gram count, fingerprint-set cardinality, an md5 digest of
the sorted set, min/max); ``winnow_span_candidates`` is the second
half of MOSS — the inverted fingerprint index joined against itself
under a doc-frequency noise cap, yielding candidate pairs ranked by
shared-fingerprint count.

Scale shape (100 TB): a pure scan-local Arrow map — ZERO shuffles,
nothing but the scan and the projected summary row ever exists.  The
k-gram hashing runs in an Arrow-vectorized UDF with numpy
sliding-window minima: the built-in HOF spelling (md5 + concat per
gram, interpreted per element) measured 46 s for 5k docs on the
sibling fingerprint op vs <1 s vectorized; the hash spec (h32 of the
space-joined gram) is engine-neutral, so the DuckDB oracle replays
the selection bit-for-bit in list comprehensions.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.functions import pandas_udf

from pdf_parser_spark.ops.common import h32_sql, load_table, tokens_sql

WINNOW_K = 5  # tokens per k-gram
WINNOW_W = 4  # consecutive k-gram hashes per selection window
# fingerprints appearing in more documents than this are boilerplate
# (site chrome, license blurbs) and are dropped from the candidate
# index — MOSS's noise threshold; bounds every join bucket to ≤ CAP
# docs so the pair fanout per fingerprint is ≤ CAP·(CAP−1)/2
WINNOW_DF_CAP = 10
WINNOW_MIN_SHARED = 2  # candidate pairs must share ≥ this many fps


def _winnow_fps(toks: list) -> tuple:
    """(gram count, sorted unique fingerprint ndarray) for a token
    list — the single selection definition both UDFs share."""
    g = len(toks) - WINNOW_K + 1
    if g < 1:
        return 0, np.empty(0, dtype=np.int64)
    gh = np.fromiter(
        (
            int(
                hashlib.md5(
                    " ".join(toks[i : i + WINNOW_K]).encode("utf-8")
                ).hexdigest()[:8],
                16,
            )
            for i in range(g)
        ),
        dtype=np.int64,
        count=g,
    )
    if g <= WINNOW_W:
        mins = gh.min(keepdims=True)
    else:
        mins = np.lib.stride_tricks.sliding_window_view(gh, WINNOW_W).min(
            axis=1
        )
    return g, np.unique(mins)


def _make_winnow_udf():
    @pandas_udf(
        "struct<n_grams: bigint, n_fp: bigint, fp_md5: string, "
        "min_fp: bigint, max_fp: bigint>"
    )
    def winnow5(text: pd.Series) -> pd.DataFrame:
        n_grams, n_fp, fp_md5, min_fp, max_fp = [], [], [], [], []
        for t in text:
            g, fps = _winnow_fps(t.split())
            if g < 1:
                n_grams.append(0)
                n_fp.append(0)
                fp_md5.append(hashlib.md5(b"").hexdigest())
                min_fp.append(None)
                max_fp.append(None)
                continue
            n_grams.append(g)
            n_fp.append(len(fps))
            fp_md5.append(
                hashlib.md5(
                    ",".join(str(int(x)) for x in fps).encode()
                ).hexdigest()
            )
            min_fp.append(int(fps[0]))
            max_fp.append(int(fps[-1]))
        return pd.DataFrame(
            {
                "n_grams": n_grams,
                "n_fp": n_fp,
                "fp_md5": fp_md5,
                "min_fp": min_fp,
                "max_fp": max_fp,
            }
        )

    return winnow5


def winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = _make_winnow_udf()(F.col("text"))
    return docs.select(
        "doc_id",
        w.getField("n_grams").alias("n_grams"),
        w.getField("n_fp").alias("n_fp"),
        w.getField("fp_md5").alias("fp_md5"),
        w.getField("min_fp").alias("min_fp"),
        w.getField("max_fp").alias("max_fp"),
    )


_GRAM_EXPR = h32_sql(
    f"array_to_string(list_slice(t, i, i + {WINNOW_K - 1}), ' ')"
)

WINNOW_FINGERPRINT_SQL = f"""
WITH tok AS (
  SELECT doc_id, {tokens_sql("text")} AS t FROM documents
),
g AS (
  SELECT doc_id,
         [{_GRAM_EXPR}
          for i in range(1, len(t) - {WINNOW_K - 2})] AS gh
  FROM tok
),
w AS (
  SELECT doc_id, gh,
         CASE WHEN len(gh) = 0 THEN []
              WHEN len(gh) <= {WINNOW_W} THEN [list_min(gh)]
              ELSE [list_min(list_slice(gh, j, j + {WINNOW_W - 1}))
                    for j in range(1, len(gh) - {WINNOW_W - 2})]
         END AS mins
  FROM g
),
sel AS (
  SELECT doc_id, len(gh)::BIGINT AS n_grams,
         list_sort(list_distinct(mins)) AS fps
  FROM w
)
SELECT doc_id, n_grams,
       len(fps)::BIGINT AS n_fp,
       md5(array_to_string(fps, ',')) AS fp_md5,
       CASE WHEN len(fps) > 0 THEN fps[1] END AS min_fp,
       CASE WHEN len(fps) > 0 THEN fps[len(fps)] END AS max_fp
FROM sel
"""


def _make_fps_udf():
    @pandas_udf("array<bigint>")
    def winnow_fps(text: pd.Series) -> pd.Series:
        return pd.Series([_winnow_fps(t.split())[1].tolist() for t in text])

    return winnow_fps


def winnow_span_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The second half of MOSS: candidate document pairs from the
    inverted fingerprint index.  Explode each document's fingerprint
    set to (fp, doc_id) rows; DROP fingerprints appearing in more
    than ``WINNOW_DF_CAP`` documents (boilerplate noise — and the
    bound that keeps every join bucket small, the same bounded-bucket
    discipline as the LSH band joins); self-join the surviving index
    on fp with doc_a < doc_b; keep pairs sharing at least
    ``WINNOW_MIN_SHARED`` fingerprints.  Only (fp, doc_id) BIGINT
    pairs ever shuffle, the pair count is a partial-aggregable sum,
    and the fanout per fingerprint is ≤ CAP·(CAP−1)/2 by
    construction — never corpus-quadratic.
    """
    docs = load_table(spark, sf_dir, "documents")
    # the index relation feeds BOTH the df-cap aggregate and the pair
    # join: persist + materialize it first, or the fingerprint UDF is
    # computed once per reference — and concurrent first-computation
    # of an unmaterialized cached relation is not deduped (the
    # measured dedup_cluster finding, PLANS.md §12)
    idx = (
        docs.select(
            "doc_id", F.explode(_make_fps_udf()(F.col("text"))).alias("fp")
        )
    ).persist()
    idx.count()
    # doc-frequency cap: partial-agg count per fp, then semi-filter
    keep_fp = (
        idx.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= WINNOW_DF_CAP)
        .select("fp")
    )
    bounded = idx.join(keep_fp, "fp")
    a = bounded.select(F.col("fp"), F.col("doc_id").alias("doc_a"))
    b = bounded.select(F.col("fp"), F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_fp"))
        .filter(F.col("n_shared_fp") >= WINNOW_MIN_SHARED)
    )


WINNOW_SPAN_CANDIDATES_SQL = f"""
WITH tok AS (
  SELECT doc_id, {tokens_sql("text")} AS t FROM documents
),
g AS (
  SELECT doc_id,
         [{_GRAM_EXPR}
          for i in range(1, len(t) - {WINNOW_K - 2})] AS gh
  FROM tok
),
w AS (
  SELECT doc_id,
         CASE WHEN len(gh) = 0 THEN []
              WHEN len(gh) <= {WINNOW_W} THEN [list_min(gh)]
              ELSE [list_min(list_slice(gh, j, j + {WINNOW_W - 1}))
                    for j in range(1, len(gh) - {WINNOW_W - 2})]
         END AS mins
  FROM g
),
idx AS (
  SELECT doc_id, unnest(list_distinct(mins)) AS fp FROM w
),
keep_fp AS (
  SELECT fp FROM idx GROUP BY fp HAVING count(*) <= {WINNOW_DF_CAP}
),
bounded AS (
  SELECT i.fp, i.doc_id FROM idx i JOIN keep_fp USING (fp)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       count(*)::BIGINT AS n_shared_fp
FROM bounded a JOIN bounded b
  ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= {WINNOW_MIN_SHARED}
"""


QUERIES = {
    "winnow_fingerprint": (winnow_fingerprint, WINNOW_FINGERPRINT_SQL),
    "winnow_span_candidates": (
        winnow_span_candidates,
        WINNOW_SPAN_CANDIDATES_SQL,
    ),
}
