"""Payload sniffing + quality gate — the Rekognition-preprocess analog.

The reference's Pre-Processing stage classifies each upload good/bad
via a Rekognition custom-labels model with ``MinConfidence=50`` and
accepts iff the top recognized label is in ``ACCEPTABLE_CLASSES =
("good",)`` (``source/ocr/preprocessing/fn-preprocess/main.py:18-19,
73,117-146``); rejects raise ``PoorQualityImage``, caught by the state
machine as a terminal ``Rejected`` state BEFORE the expensive OCR call
(``source/ocr/StateMachine.asl.json:14-25``) — the reference's own
predicate pushdown.

Our analog sniffs the transcript-turn payload: kind in
{html, pdf, plain} with label 'good', or label 'bad' for empty /
truncated / undecodable / binary payloads. Deterministic; pure
Python. No Spark imports.
"""

from __future__ import annotations

import base64
import binascii

from .confidence import stable_hash

PDF_PREFIX = "data:application/pdf;base64,"
ACCEPTABLE_CLASSES = ("good",)  # fn-preprocess/main.py:18
MIN_LABEL_CONFIDENCE = 50.0     # fn-preprocess/main.py:73


def _label_conf(text: str, label: str) -> float:
    """Deterministic classifier confidence, 55-95 (always above the
    reference's MinConfidence=50 cut so the accept/reject decision is
    carried by the label, as in the reference's top-label rule)."""
    return round(55.0 + (stable_hash(text[:256], "qual:" + label) % 4000) / 100.0, 2)


def decode_pdf_payload(text: str) -> bytes | None:
    """Base64-decode a PDF data-URI payload; None if undecodable."""
    if not text.startswith(PDF_PREFIX):
        return None
    try:
        data = base64.b64decode(text[len(PDF_PREFIX):], validate=True)
    except (binascii.Error, ValueError):
        return None
    return data


def classify_quality(text: str) -> dict:
    """Sniff payload kind + quality.

    Returns ``{"label": "good"|"bad", "conf": float 0-100,
    "kind": "html"|"pdf"|"plain"|"bad", "reason": str}``.
    """
    return classify_and_decode(text)[0]


def classify_and_decode(text: str) -> tuple[dict, bytes | None]:
    """``classify_quality`` plus the decoded PDF bytes of an accepted
    PDF payload (None for every other kind), so the extractor reuses
    the one base64 decode the gate already paid for."""
    if text is None or not text.strip():
        return {"label": "bad", "conf": _label_conf(text or "", "bad"),
                "kind": "bad", "reason": "empty"}, None
    if text.startswith(PDF_PREFIX):
        data = decode_pdf_payload(text)
        if data is None:
            # The envelope itself is broken (not valid base64): the
            # MalformedRequest analog, distinct from a decodable-but-
            # poor-quality payload (fn-preprocess/main.py:26-29 vs
            # 22-25). extract_payload maps this reason to status
            # 'malformed'.
            return {"label": "bad", "conf": _label_conf(text, "bad"),
                    "kind": "bad", "reason": "malformed_b64"}, None
        if not data.startswith(b"%PDF") or b"endobj" not in data:
            return {"label": "bad", "conf": _label_conf(text, "bad"),
                    "kind": "bad", "reason": "not_pdf"}, None
        return {"label": "good", "conf": _label_conf(text, "good"),
                "kind": "pdf", "reason": ""}, data
    stripped = text.strip()
    looks_html = "<" in stripped and ">" in stripped and "</" in text
    lower = stripped.lower()
    if lower.startswith(("<!doctype", "<html")) or looks_html:
        # truncation check: an unterminated final tag, or a document
        # that opened <html>/<body> and never closed anything
        last_lt = stripped.rfind("<")
        last_gt = stripped.rfind(">")
        if last_lt > last_gt:
            return {"label": "bad", "conf": _label_conf(text, "bad"),
                    "kind": "bad", "reason": "truncated_html"}, None
        if "</" not in stripped:
            return {"label": "bad", "conf": _label_conf(text, "bad"),
                    "kind": "bad", "reason": "truncated_html"}, None
        return {"label": "good", "conf": _label_conf(text, "good"),
                "kind": "html", "reason": ""}, None
    # binary noise: too many non-printable characters (\n\r\t count
    # as printable). Almost every payload has none, which C-level
    # string scans prove; only a payload with some pays for the
    # per-character count.
    n = len(stripped)
    flat = stripped.replace("\n", "").replace("\r", "").replace("\t", "")
    nonprint = 0 if flat.isprintable() else sum(
        1 for c in stripped if not (c.isprintable() or c in "\n\r\t"))
    if n > 0 and nonprint / n > 0.15:
        return {"label": "bad", "conf": _label_conf(text, "bad"),
                "kind": "bad", "reason": "binary"}, None
    return {"label": "good", "conf": _label_conf(text, "good"),
            "kind": "plain", "reason": ""}, None


def is_acceptable(label: str, conf: float) -> bool:
    """The reference accept rule: top label in ACCEPTABLE_CLASSES with
    confidence >= MinConfidence (fn-preprocess/main.py:117-146)."""
    return label in ACCEPTABLE_CLASSES and conf >= MIN_LABEL_CONFIDENCE
