"""Pure-Python core tests (no Spark): extractor output must equal the
by-construction goldens for every fixture payload kind — the per-turn
text + span equality invariant (BASELINE.json north rule), plus unit
checks of each core module.
"""

from __future__ import annotations

import pytest

from textract_demo_spark.core.blocks import LINE, STATUS_OK, STATUS_REJECTED
from textract_demo_spark.core.dates import detect_date_entities
from textract_demo_spark.core.extract import extract_payload
from textract_demo_spark.core.fields import postprocess_blocks
from textract_demo_spark.core.html_extract import extract_html, split_key_value
from textract_demo_spark.core.quality import classify_quality
from textract_demo_spark.fixtures.generator import make_fixtures

FIX = make_fixtures(n_convs=60, seed=42)
BY_KEY = {(e["conv_id"], e["turn_idx"]): e for e in FIX["expected_turns"]}


def test_fixture_mix_covers_all_kinds():
    kinds: dict[str, int] = {}
    for e in FIX["expected_turns"]:
        kinds[e["status"]] = kinds.get(e["status"], 0) + 1
    assert kinds["ok"] > 100
    assert kinds["rejected"] > 5
    # typed error taxonomy: the broken-base64 variant surfaces as
    # 'malformed', distinct from quality-gate rejects
    assert kinds.get("malformed", 0) >= 1
    assert any(e["needs_review"] for e in FIX["expected_turns"]
               if e["status"] == "ok")
    assert len(FIX["reviews"]) > 0


@pytest.mark.parametrize("i", range(0, len(FIX["transcripts"]),
                                    max(1, len(FIX["transcripts"]) // 400)))
def test_extract_matches_golden(i):
    row = FIX["transcripts"][i]
    exp = BY_KEY[(row["conv_id"], row["turn_idx"])]
    res = extract_payload(row["text"])
    if exp["status"] != STATUS_OK:
        assert res.status == exp["status"]
        return
    assert res.status == STATUS_OK
    assert res.main_text == exp["main_text"], (
        f"main_text mismatch for {row['conv_id']}:{row['turn_idx']}\n"
        f"payload={row['text'][:400]!r}\n"
        f"got={res.main_text!r}\nexp={exp['main_text']!r}")
    assert [tuple(s) for s in res.spans] == [tuple(s) for s in exp["spans"]]
    model = postprocess_blocks(res.blocks)
    assert model == exp["model_result"], (
        f"model mismatch for {row['conv_id']}:{row['turn_idx']}\n"
        f"got={model}\nexp={exp['model_result']}")


def test_every_fixture_turn_full_sweep():
    """Full sweep (no sampling) over every generated turn."""
    bad = []
    for row in FIX["transcripts"]:
        exp = BY_KEY[(row["conv_id"], row["turn_idx"])]
        res = extract_payload(row["text"])
        if exp["status"] != STATUS_OK:
            if res.status != exp["status"]:
                bad.append((row["conv_id"], row["turn_idx"],
                            f"status {res.status} != {exp['status']}"))
            continue
        if (res.main_text != exp["main_text"]
                or [tuple(s) for s in res.spans] != [tuple(s) for s in exp["spans"]]
                or postprocess_blocks(res.blocks) != exp["model_result"]):
            bad.append((row["conv_id"], row["turn_idx"], res.main_text[:80]))
    assert not bad, f"{len(bad)} mismatching turns, first 5: {bad[:5]}"


def test_html_spans_point_into_payload():
    """Spans must index the original payload: payload[start:end] is the
    raw source of the extracted line."""
    row = next(r for r in FIX["transcripts"]
               if r["tool"] == "browser"
               and BY_KEY[(r["conv_id"], r["turn_idx"])]["status"] == "ok")
    res = extract_payload(row["text"])
    assert res.span_domain == "payload"
    lines = res.main_text.split("\n")
    for line, (start, end) in zip(lines, res.spans):
        assert row["text"][start:end] == line


def test_pdf_spans_point_into_main_text():
    row = next(r for r in FIX["transcripts"] if r["tool"] == "pdf_reader")
    res = extract_payload(row["text"])
    assert res.span_domain == "main_text"
    for line, (start, end) in zip(res.main_text.split("\n"), res.spans):
        assert res.main_text[start:end] == line


def test_pdf_payload_is_base64_decoded_once(monkeypatch):
    """The quality gate's decode is the extractor's input: one
    ``b64decode`` per PDF turn, and the same result as before."""
    import base64
    rows = [r for r in FIX["transcripts"] if r["tool"] == "pdf_reader"]
    want = [extract_payload(r["text"]) for r in rows]
    calls = []
    decode = base64.b64decode

    def spy(*a, **kw):
        calls.append(1)
        return decode(*a, **kw)

    monkeypatch.setattr(base64, "b64decode", spy)
    got = [extract_payload(r["text"]) for r in rows]
    assert len(calls) == len(rows) > 0
    assert got == want


def test_boilerplate_is_stripped():
    html = ('<html><head><title>T</title></head><body>'
            '<nav class="nav"><a href="/">Home</a> <a href="/x">Blog</a></nav>'
            '<div class="content"><p>Sunrise Grocers</p>'
            '<p>2 x Orange Juice $8.40</p><p>TOTAL: $9.24</p></div>'
            '<footer><a href="/p">Privacy</a></footer></body></html>')
    res = extract_html(html)
    assert res.main_text == "Sunrise Grocers\n2 x Orange Juice $8.40\nTOTAL: $9.24"
    # nav/footer text exists as non-content blocks (kept for metrics)
    dropped = [b for b in res.blocks if b["block_type"] == LINE
               and not b["is_content"]]
    assert any("Home" in b["text"] for b in dropped)


def test_split_key_value():
    assert split_key_value("TOTAL: $4.60") == ("TOTAL", "$4.60")
    assert split_key_value("Date: 21-06-2018 18:54:22") == (
        "Date", "21-06-2018 18:54:22")
    assert split_key_value("no colon here") is None
    assert split_key_value("a sentence. with: colon") is None


def test_date_entities_order_and_shape():
    ents = detect_date_entities("Visited on 21/06/2018 at 18:54:22 ok")
    assert [e["text"] for e in ents] == ["21/06/2018", "18:54:22"]
    assert ents[0]["score"] > ents[1]["score"]
    # ISO datetime swallows the inner time (overlap suppression)
    ents = detect_date_entities("ts 2020-07-07 18:54:22 end")
    assert [e["text"] for e in ents] == ["2020-07-07 18:54:22"]


def test_quality_gate():
    assert classify_quality("")["label"] == "bad"
    assert classify_quality("   ")["label"] == "bad"
    assert classify_quality("<html><body><p>x")["label"] == "bad"
    assert classify_quality("hello there friend")["kind"] == "plain"
    assert classify_quality("data:application/pdf;base64,###")["label"] == "bad"
    good_html = "<html><body><p>hello</p></body></html>"
    q = classify_quality(good_html)
    assert q["label"] == "good" and q["kind"] == "html"


def test_postprocess_reference_algebra():
    """Hand-built blocks exercising: min(key,val) confidence, x0.5
    subtotal penalty, duplicate candidate when key matches both
    'total' and 'amount', composite=min, alternatives ordering."""
    from textract_demo_spark.core.blocks import make_block
    blocks = [
        make_block(0, "LINE", "Vendor Co", 0, 9, 90.0, reading_order=0),
        make_block(1, "LINE", "Subtotal: $10.00", 10, 26, 80.0, reading_order=1),
        make_block(2, "KEY_VALUE", "Subtotal", 10, 18, 88.0, kv_role="KEY",
                   kv_group_id=0),
        make_block(3, "KEY_VALUE", "$10.00", 20, 26, 92.0, kv_role="VALUE",
                   kv_group_id=0),
        make_block(4, "LINE", "Total Amount: $11.00", 27, 47, 80.0,
                   reading_order=2),
        make_block(5, "KEY_VALUE", "Total Amount", 27, 39, 70.0, kv_role="KEY",
                   kv_group_id=1),
        make_block(6, "KEY_VALUE", "$11.00", 41, 47, 95.0, kv_role="VALUE",
                   kv_group_id=1),
        make_block(7, "LINE", "Date: 2020-07-07", 48, 64, 85.0,
                   reading_order=3),
        make_block(8, "KEY_VALUE", "Date", 48, 52, 60.0, kv_role="KEY",
                   kv_group_id=2),
        make_block(9, "KEY_VALUE", "2020-07-07", 54, 64, 77.0,
                   kv_role="VALUE", kv_group_id=2),
    ]
    r = postprocess_blocks(blocks)
    assert r["Vendor"] == {"Confidence": 90.0, "Value": "Vendor Co",
                           "Alternatives": []}
    # subtotal: min(88,92)*0.5 = 44; total amount: min(70,95)=70 twice
    # (matches 'total' and 'amount' search terms)
    assert r["Total"]["Confidence"] == 70.0
    assert r["Total"]["Value"] == "$11.00"
    assert r["Total"]["Alternatives"] == [
        {"Confidence": 70.0, "Value": "$11.00"},
        {"Confidence": 44.0, "Value": "$10.00"},
    ]
    assert r["Date"] == {"Confidence": 60.0, "Value": "2020-07-07",
                         "Alternatives": []}
    assert r["Confidence"] == 60.0


def test_date_fallback_only_when_no_kv():
    from textract_demo_spark.core.blocks import make_block
    blocks = [
        make_block(0, "LINE", "Vendor Co", 0, 9, 90.0, reading_order=0),
        make_block(1, "LINE", "Visited on 21/06/2018", 10, 31, 80.0,
                   reading_order=1),
    ]
    r = postprocess_blocks(blocks)
    assert r["Date"]["Value"] == "21/06/2018"
    assert 0 < r["Date"]["Confidence"] <= 99
    # entity score x100 (fn-postprocess/main.py:115)
    ents = detect_date_entities("Visited on 21/06/2018 ")
    assert r["Date"]["Confidence"] == ents[0]["score"] * 100


def test_date_fallback_gate_and_reading_order():
    """The entity fallback runs only without a KV date candidate, and
    reading order, not block order, picks the vendor and the search
    text it scans."""
    from textract_demo_spark.core.blocks import make_block
    lines = [
        make_block(0, "LINE", "Visited 21/06/2018", 0, 18, 80.0,
                   reading_order=2),
        make_block(1, "LINE", "Vendor Co", 20, 29, 90.0, reading_order=1),
        make_block(2, "LINE", "Due 01/02/2020", 30, 44, 70.0,
                   reading_order=0, is_content=False),
    ]
    r = postprocess_blocks(lines)
    assert r["Vendor"]["Value"] == "Vendor Co"
    # the search text is "Visited 21/06/2018 ": the non-content line
    # is never scanned, the vendor line is not part of it
    assert r["Date"]["Value"] == "21/06/2018"
    assert r["Date"]["Alternatives"] == []
    ents = detect_date_entities("Visited 21/06/2018 ")
    assert r["Date"]["Confidence"] == ents[0]["score"] * 100
    # a KV date closes the fallback: only the KV candidate remains
    key = make_block(3, "KEY_VALUE", "Invoice DATE", 0, 0, 90.0,
                     kv_role="KEY", kv_group_id=7)
    value = make_block(4, "KEY_VALUE", "x", 0, 0, 60.0, kv_role="VALUE",
                       kv_group_id=7)
    r = postprocess_blocks(lines + [key, value])
    assert (r["Date"]["Value"], r["Date"]["Confidence"]) == ("x", 60.0)
    assert r["Date"]["Alternatives"] == []
    # a date key without a value of its group leaves the fallback open
    for extra in ([key], [key, dict(value, kv_group_id=8)]):
        r = postprocess_blocks(lines + extra)
        assert r["Date"]["Value"] == "21/06/2018"
    # a lone vendor line leaves nothing to scan
    assert postprocess_blocks(lines[1:2])["Date"]["Value"] == ""
