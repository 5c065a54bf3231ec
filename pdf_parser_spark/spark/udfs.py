"""Arrow-vectorized pandas UDFs wrapping the pure-Python engine.

The engine (SURVEY.md §2) runs unchanged inside these UDFs — one code
path for oracle and cluster, so reference-vs-Spark identity is
structural.  Vectorization is ACROSS documents: each UDF call receives
an Arrow batch of whole documents (the parallel unit at 10^12-doc
scale) and loops a C-speed-dominated pipeline over them; there is no
per-row Python at the Spark plan level (zero row-at-a-time UDFs).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pdf_parser_spark.engine.api import (
    ALL_FORMATS,
    extract_all_formats,
    extract_document,
)
from pdf_parser_spark.engine.errors import PdfError

# Char-offset spans cross the Arrow boundary as three PARALLEL
# PRIMITIVE arrays and are zipped back to array<struct> JVM-side in
# with_extraction: building array<struct> from per-row Python dicts
# pays a per-field object conversion that measurably taxes the whole
# UDF (the multi-format UDF lost 6x to the same pattern).
EXTRACT_TYPE = StructType(
    [
        StructField("text", StringType()),
        StructField("s_start", ArrayType(LongType())),
        StructField("s_end", ArrayType(LongType())),
        StructField("s_kind", ArrayType(StringType())),
        StructField("n_pages", IntegerType()),
        StructField("n_elements", IntegerType()),
        StructField("doc_type", StringType()),
        StructField("error", StringType()),
        StructField("error_kind", StringType()),
    ]
)

SPAN_STRUCT_DDL = "array<struct<start:bigint,end:bigint,kind:string>>"
# the columns with_extraction adds (replacing any of the same name),
# as SQL over the UDF's result struct ``_ex``
EXTRACTION_COLUMNS = {
    "text_extracted": "_ex.text",
    "spans": f"CAST(arrays_zip(_ex.s_start, _ex.s_end, _ex.s_kind) AS {SPAN_STRUCT_DDL})",
    "n_pages": "_ex.n_pages",
    "n_elements": "_ex.n_elements",
    "doc_type": "_ex.doc_type",
    "decode_error": "_ex.error",
    "decode_error_kind": "_ex.error_kind",
}


def _extract_batch(
    html: pd.Series, fmt: str, page: int | None, extended: bool = False
) -> pd.DataFrame:
    rows = []
    for data in html:
        r = extract_document(
            data, fmt=fmt, page=page, extended_filters=extended
        )
        spans = r["spans"]
        rows.append(
            (
                r["text"],
                [s[0] for s in spans],
                [s[1] for s in spans],
                [s[2] for s in spans],
                r["n_pages"],
                r["n_elements"],
                r["doc_type"],
                r["error"],
                r["error_kind"],
            )
        )
    return pd.DataFrame(
        rows,
        columns=[
            "text",
            "s_start",
            "s_end",
            "s_kind",
            "n_pages",
            "n_elements",
            "doc_type",
            "error",
            "error_kind",
        ],
    )


def make_extract_udf(
    fmt: str = "txt", page: int | None = None, extended: bool = False
):
    """Struct-returning pandas UDF: ``html BINARY → extracted STRUCT``.
    ``page`` scopes PDF extraction to one 1-indexed page (CLI --page
    semantics, main.rs:88-96); ``extended`` opts into the
    LZW/A85/RunLength/predictor decode extension (engine/filters.py)."""

    @pandas_udf(EXTRACT_TYPE)
    def extract(html: pd.Series) -> pd.DataFrame:
        return _extract_batch(html, fmt, page, extended)

    return extract


def with_extraction(df, fmt: str = "txt", html_col: str = "html",
                    page: int | None = None, extended: bool = False):
    """Append extraction columns to a pages DataFrame.

    Narrow map — no shuffle; Catalyst prunes unused input columns
    around the UDF boundary.  The UDF result lands in a struct ``_ex``
    and one ``selectExpr`` spreads it into the seven output columns.
    """
    extract = make_extract_udf(fmt, page, extended)
    out = [f"{sql} AS {name}" for name, sql in EXTRACTION_COLUMNS.items()]
    return df.select("*", extract(F.col(html_col)).alias("_ex")).selectExpr(
        *(f"`{c}`" for c in df.columns if c not in EXTRACTION_COLUMNS), *out
    )


FORMATS_TYPE = StructType(
    [StructField(f, StringType()) for f in ALL_FORMATS]
    + [
        StructField("doc_type", StringType()),
        StructField("error", StringType()),
        StructField("error_kind", StringType()),
    ]
)


@pandas_udf(FORMATS_TYPE)
def extract_formats_udf(html: pd.Series) -> pd.DataFrame:
    """All output formats from ONE parse per document
    (api.extract_all_formats) — the production multi-format export.
    A per-format run_extract would re-parse every document once per
    format; parsing dominates, so this is ~5x cheaper at any scale.

    Returns the 7 renders as FLAT string fields (unpivot with
    ``stack`` JVM-side): an array<struct> built from Python dicts
    costs more in Arrow conversion than the extraction itself
    (measured ~20x on the bench corpus).
    """
    rows = []
    for data in html:
        doc_type, error, error_kind = "unknown", None, None
        texts: dict[str, str] = {}
        if data is None or len(data) == 0:
            error, error_kind = "empty document", "empty"
        elif bytes(data[:5]) == b"%PDF-":
            doc_type = "pdf"
            try:
                texts = extract_all_formats(bytes(data))
            except PdfError as e:
                error, error_kind = str(e), e.kind
            except RecursionError:
                error, error_kind = "page tree recursion limit", "recursion"
        else:
            doc_type = "html"
            r = extract_document(bytes(data))
            error, error_kind = r["error"], r["error_kind"]
            texts = {f: r["text"] for f in ALL_FORMATS}
        rows.append(
            tuple(texts.get(f, "") for f in ALL_FORMATS)
            + (doc_type, error, error_kind)
        )
    return pd.DataFrame(
        rows, columns=list(ALL_FORMATS) + ["doc_type", "error", "error_kind"]
    )


def unpivot_formats(col: str = "_fx"):
    """JVM-side unpivot of the flat format fields to (fmt, text) rows
    — pure codegen, no Python."""
    from pyspark.sql import functions as F

    args = ", ".join(f"'{f}', {col}.{f}" for f in ALL_FORMATS)
    return F.expr(f"stack({len(ALL_FORMATS)}, {args}) as (fmt, text)")
