"""Field-extraction rules — pure-Python reference implementation.

Mirrors ``source/ocr/postprocessing/fn-postprocess/main.py:34-150``
verbatim over our blocks model:

- Vendor = first LINE block's text + its OCR confidence
  (main.py:49-56); exactly one candidate (main.py:39-41).
- Search text = remaining LINE texts joined with trailing spaces
  (main.py:57-60).
- Total/amount candidates: KV pairs whose key contains 'total' or
  'amount' (searched PER TERM, so a key containing both terms yields
  the candidate twice — main.py:65-89 iterates amount_form_keys and
  re-appends), value must parse as float after lstrip('$')
  (main.py:77); confidence = min(key_conf, value_conf) x 0.5 if 'sub'
  in key (main.py:84-87); Value keeps the raw value text (main.py:88).
- Date candidates: KV pairs whose key contains 'date' (main.py:93-100),
  confidence = min(key_conf, value_conf); if none, date entities over
  the search text, shape-validated ('/', ':' or '-' present,
  main.py:108-110), confidence = score x 100 (main.py:115), value =
  entity text .strip("\\t\\n\\r") (main.py:108).
- Top-1 per field by stable descending-confidence sort
  (main.py:119-123); Alternatives = candidates[1:] (main.py:143-148).
- Missing field => {Confidence: 0, Value: ""} (main.py:125-138).
- Composite Confidence = min over the three fields (main.py:140-142).

This is the one implementation of the rules: the golden-fixture
generator builds its expected results with it, and the distributed
engine's Arrow extraction kernel (``engine.udfs``) calls it on every
ok turn. No Spark imports.
"""

from __future__ import annotations

from .blocks import KEY, LINE, VALUE
from .dates import detect_date_entities

AMOUNT_FORM_KEYS = ["total", "amount"]  # fn-postprocess/main.py:35
DATE_FORM_KEYS = ["date"]               # fn-postprocess/main.py:36
REVIEW_THRESHOLD = 50.0                 # StateMachine.asl.json:58-61


def kv_pairs(blocks: list[dict]) -> list[dict]:
    """Assemble KEY/VALUE blocks into pairs by kv_group_id, in
    generation (block) order — the trp form-model analog."""
    groups: dict[int, dict] = {}
    order: list[int] = []
    for b in blocks:
        gid = b.get("kv_group_id")
        if b.get("block_type") != "KEY_VALUE" or gid is None:
            continue
        if gid not in groups:
            groups[gid] = {"page": b.get("page", 1)}
            order.append(gid)
        if b.get("kv_role") == KEY:
            groups[gid]["key_text"] = b["text"]
            groups[gid]["key_conf"] = b["conf"]
        elif b.get("kv_role") == VALUE:
            groups[gid]["value_text"] = b["text"]
            groups[gid]["value_conf"] = b["conf"]
    out = []
    for gid in order:
        g = groups[gid]
        if "key_text" in g:
            g.setdefault("value_text", None)
            g.setdefault("value_conf", 0.0)
            g["kv_group_id"] = gid
            out.append(g)
    return out


def _try_float(s: str) -> bool:
    try:
        float(s)
        return True
    except (TypeError, ValueError):
        return False


def postprocess_blocks(blocks: list[dict]) -> dict:
    """Run the reference field rules over one document's blocks."""
    vendor = {"Confidence": 0.0, "Value": ""}
    text_parts: list[str] = []
    first_seen = False
    for b in sorted(
            (b for b in blocks
             if b.get("block_type") == LINE and b.get("is_content", True)),
            key=lambda b: b["reading_order"]):
        if not first_seen and b["text"] != "":
            vendor = {"Confidence": b["conf"], "Value": b["text"]}
            first_seen = True
        elif first_seen:
            text_parts.append(b["text"])
    search_text = "".join(t + " " for t in text_parts)

    pairs = kv_pairs(blocks)

    total_candidates: list[dict] = []
    for term in AMOUNT_FORM_KEYS:
        for g in pairs:
            key_lower = g["key_text"].lower()
            if term not in key_lower:
                continue
            if (("total" in key_lower or "amount" in key_lower)
                    and g["value_text"] is not None):
                if _try_float(g["value_text"].lstrip("$")):
                    total_candidates.append({
                        "Confidence": (
                            min(g["key_conf"], g["value_conf"])
                            * (0.5 if "sub" in key_lower else 1.0)),
                        "Value": g["value_text"],
                    })

    date_candidates: list[dict] = []
    for term in DATE_FORM_KEYS:
        for g in pairs:
            key_lower = g["key_text"].lower()
            if term not in key_lower:
                continue
            if "date" in key_lower and g["value_text"] is not None:
                date_candidates.append({
                    "Confidence": min(g["key_conf"], g["value_conf"]),
                    "Value": g["value_text"],
                })

    if not len(date_candidates) > 0:
        for entity in detect_date_entities(search_text):
            value_str = entity["text"].strip("\t\n\r")
            if "/" in value_str or ":" in value_str or "-" in value_str:
                date_candidates.append({
                    "Confidence": entity["score"] * 100,
                    "Value": value_str,
                })

    date_candidates = sorted(
        date_candidates, key=lambda c: c["Confidence"], reverse=True)
    total_candidates = sorted(
        total_candidates, key=lambda c: c["Confidence"], reverse=True)
    date_result = date_candidates[0] if date_candidates else None
    total_result = total_candidates[0] if total_candidates else None

    result = {
        "Date": {
            "Confidence": date_result["Confidence"] if date_result else 0.0,
            "Value": date_result["Value"] if date_result else "",
            "Alternatives": date_candidates[1:],
        },
        "Total": {
            "Confidence": total_result["Confidence"] if total_result else 0.0,
            "Value": total_result["Value"] if total_result else "",
            "Alternatives": total_candidates[1:],
        },
        "Vendor": {
            "Confidence": vendor["Confidence"],
            "Value": vendor["Value"],
            "Alternatives": [],
        },
    }
    result["Confidence"] = min(
        result[f]["Confidence"] for f in ("Date", "Total", "Vendor"))
    return result


def needs_review(model_result: dict) -> bool:
    """Check Confidence routing (StateMachine.asl.json:54-65):
    composite >= 50 succeeds, else human review."""
    return not model_result["Confidence"] >= REVIEW_THRESHOLD
