"""Per-payload extraction dispatcher: quality gate -> kind-specific
extractor -> blocks + main text + spans (+ field rules for the
pure-Python path).

This is the function the Spark engine vectorizes over Arrow batches
(``textract_demo_spark.engine.udfs``). Mirrors the reference's stage
ordering: Pre-Processing quality gate BEFORE the extraction call
(``source/ocr/StateMachine.asl.json:5-42``) so bad payloads never pay
for parsing.
"""

from __future__ import annotations

from .blocks import (LINE, PAGE, STATUS_MALFORMED, STATUS_MODEL_ERROR,
                     STATUS_OK, STATUS_REJECTED, ExtractResult, make_block)
from .confidence import line_confidence
from .pdf_extract import PdfParseError, extract_pdf
from .html_extract import extract_html
from .quality import classify_and_decode, is_acceptable


def extract_plain(payload: str) -> ExtractResult:
    """Plain-text payload: identity extraction — the whole text is
    main content, one LINE block, one span (FIXTURES.md §1.3)."""
    conf = line_confidence(payload)
    page = make_block(0, PAGE, "", 0, len(payload), 100.0,
                      is_content=False)
    block = make_block(1, LINE, payload, 0, len(payload), conf,
                       reading_order=0, is_content=True)
    return ExtractResult(
        status=STATUS_OK, kind="plain", main_text=payload,
        spans=[(0, len(payload))], blocks=[page, block],
        span_domain="payload")


def _failed(status: str, kind: str = "bad") -> ExtractResult:
    return ExtractResult(status=status, kind=kind, main_text="",
                         spans=[], blocks=[], span_domain="payload")


def extract_payload(payload: str) -> ExtractResult:
    """Quality-gate + extract one transcript-turn payload.

    Typed error taxonomy (SURVEY.md §1.4 / core.blocks): the quality
    gate refusing the payload is ``rejected`` (PoorQualityImage
    analog); a broken request envelope (undecodable base64 PDF URI) is
    ``malformed`` (MalformedRequest); an extractor failure AFTER the
    gate accepted is ``model_error`` (ModelError) — so a PDF that
    decodes but dies mid-parse is distinguishable from a rejected
    upload."""
    q, pdf_bytes = classify_and_decode(payload)
    if not is_acceptable(q["label"], q["conf"]):
        if q["reason"] == "malformed_b64":
            return _failed(STATUS_MALFORMED)
        return _failed(STATUS_REJECTED)
    try:
        if q["kind"] == "pdf":
            return extract_pdf(pdf_bytes)
        if q["kind"] == "html":
            return extract_html(payload)
        return extract_plain(payload)
    except PdfParseError:
        return _failed(STATUS_MODEL_ERROR, kind="pdf")
    except Exception:  # extractor bug on an accepted payload
        return _failed(STATUS_MODEL_ERROR, kind=q["kind"])
