"""In-process engine calls: the reference digests the output checks
compare against, and the engine/HTML layer timings of the traced run.

Everything here runs on one thread in the benchmark's own process,
calling the engine's public functions directly (no Spark).
"""

from __future__ import annotations

import hashlib
import time

from pdf_parser_spark.engine import (
    ContentParser,
    Document,
    PdfError,
    classify_spans,
    elements_to_txt,
    extract_document,
)
from pdf_parser_spark.html.strip import extract_html

PDF_STAGES = ("parse", "pagetree", "decode", "fonts", "content", "layout", "render")


def digest(text: str | None, error_kind: str | None) -> tuple[str | None, str | None]:
    """What the byte-identity check compares per url."""
    sha = None if text is None else hashlib.sha256(text.encode("utf-8")).hexdigest()
    return sha, error_kind


def reference(pages) -> dict[str, tuple[str | None, str | None]]:
    """url -> digest of an in-process ``extract_document`` call."""
    out = {}
    for p in pages:
        r = extract_document(p.html)
        out[p.url] = digest(r["text"], r["error_kind"])
    return out


def _pdf_stages(data: bytes, acc: dict[str, float]) -> None:
    """Time each engine stage of the txt path for one PDF; a document
    error ends the document."""
    pc = time.perf_counter
    t = pc()
    try:
        doc = Document.parse(data)
        acc["parse"] += pc() - t
        t = pc()
        n = doc.page_count()
        acc["pagetree"] += pc() - t
        for i in range(n):
            t = pc()
            page = doc.get_page(i)
            content = doc.get_page_contents(page)
            acc["decode"] += pc() - t
            t = pc()
            fonts = doc.load_font_encodings(page)
            acc["fonts"] += pc() - t
            t = pc()
            spans = ContentParser(content, fonts).parse()
            acc["content"] += pc() - t
            t = pc()
            elements = classify_spans(spans)
            acc["layout"] += pc() - t
            t = pc()
            elements_to_txt(elements)
            acc["render"] += pc() - t
    except (PdfError, RecursionError):
        return  # extract_document reports this document as an error row


def engine_layers(pages) -> tuple[dict[str, float], dict]:
    """Per-stage engine timings over ``pages``.

    Returns ``(metrics, reference digests)``.  PDF stages time the txt path's public calls; the HTML
    strip times ``extract_html``; ``extract_document`` is timed per
    document for the cost percentiles."""
    pc = time.perf_counter
    stages = dict.fromkeys(PDF_STAGES, 0.0)
    html_s, html_bytes, errors = 0.0, 0, 0
    ref, cost = {}, []
    for p in pages:
        if p.html[:5] == b"%PDF-":
            _pdf_stages(p.html, stages)
        else:
            t = pc()
            try:
                extract_html(p.html)
            except Exception:  # noqa: BLE001 — extract_document turns these into rows
                pass
            html_s += pc() - t
            html_bytes += len(p.html)
        t = pc()
        r = extract_document(p.html)
        cost.append(pc() - t)
        ref[p.url] = digest(r["text"], r["error_kind"])
        errors += r["error_kind"] is not None
    per_doc = sorted(cost)
    total = sum(per_doc)
    metrics = {f"engine.{k}_s": v for k, v in stages.items()}
    metrics.update({
        "engine.extract_document_s": total,
        "engine.doc_us_p50": per_doc[len(per_doc) // 2] * 1e6,
        "engine.doc_us_p99": per_doc[min(len(per_doc) - 1, len(per_doc) * 99 // 100)] * 1e6,
        "engine.docs_per_core_s": len(per_doc) / total,
        "engine.errors": errors,
        "html.strip_s": html_s,
        "html.strip_mb_per_core_s": html_bytes / 1e6 / html_s if html_s else 0.0,
    })
    return metrics, ref
