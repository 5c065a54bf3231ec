"""Training-data pipeline operators over the corpus tables.

Corpus-level operators around the extraction pipeline (SURVEY.md §2):
deduplication, text analysis, link analysis, splits, url admission
and host-template stripping: only what the jobs and streaming
queries import.  Each operator is a Spark-first DataFrame plan
(built-in functions and, where a row needs Python, a vectorized Arrow
UDF) with a DuckDB oracle-SQL twin for the value-exact correctness
gate.

Registry contract: every module exposes ``QUERIES: dict[name ->
(callable(spark, sf_dir) -> DataFrame, oracle_sql | None)]``.
"""

import importlib

# Modules the jobs and streaming queries import, directly or through
# one another.
PRODUCT_MODULES = (
    "dedup",
    "textstats",
    "linkgraph",
    "centrality",
    "splits",
    "substring",
    "template",
    "urlquality",
)


def all_queries():
    out = {}
    for name in PRODUCT_MODULES:
        out.update(importlib.import_module(f"{__name__}.{name}").QUERIES)
    return out
