"""Property-based (hypothesis) guarantees of the pure extraction core
— the invariants the Spark engine relies on for EVERY payload, not
just fixture goldens:

- extract_payload is TOTAL and DETERMINISTIC over arbitrary unicode
  (the Arrow kernel feeds it whatever the corpus contains; a raise
  would fail the whole task, nondeterminism would break exactly-once
  resume and the driver's value-hash comparison);
- results are well-formed: status in the typed taxonomy, spans inside
  the span domain, ordered and non-overlapping, one span per
  main_text line for html, identity for plain;
- on structured HTML (block tags, entity-free single-space text)
  every span slices the ORIGINAL payload back to exactly its line —
  the north-rule char-span contract;
- line_confidence is bounded, 2dp, and the lru_cache returns
  bit-identical values to the uncached function.
"""

from __future__ import annotations

import os

from hypothesis import given, settings, strategies as st

# default sized for CI time; deep one-off fuzz via
#   SPARK_GRAFT_PROP_EXAMPLES=2000 pytest tests/test_property_core.py
_EX = int(os.environ.get("SPARK_GRAFT_PROP_EXAMPLES", "0")) or None

from textract_demo_spark.core.confidence import line_confidence
from textract_demo_spark.core.extract import extract_payload
from textract_demo_spark.core.quality import _label_conf, classify_quality

STATUSES = {"ok", "rejected", "malformed", "model_error"}

_any_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=400)


@given(_any_text)
@settings(max_examples=_EX or 250, deadline=None)
def test_extract_total_deterministic_wellformed(s):
    r1 = extract_payload(s)
    r2 = extract_payload(s)
    assert r1.status in STATUSES
    assert (r1.status, r1.kind, r1.main_text, r1.spans) == \
        (r2.status, r2.kind, r2.main_text, r2.spans)
    assert [b["text"] for b in r1.blocks] == [b["text"] for b in r2.blocks]
    dom = s if r1.span_domain == "payload" else r1.main_text
    prev_end = None
    for a, b in r1.spans:
        assert 0 <= a <= b <= len(dom)
        if prev_end is not None:
            assert a >= prev_end  # ordered, non-overlapping
        prev_end = b
    if r1.status == "ok" and r1.kind == "html" and r1.main_text:
        assert len(r1.main_text.split("\n")) == len(r1.spans)
    if r1.status == "ok" and r1.kind == "plain":
        assert r1.main_text == s and r1.spans == [(0, len(s))]


_word = st.text(alphabet="abcdefghijklmnopqrstuvwxyz",
                min_size=1, max_size=8)
_textnode = st.lists(_word, min_size=1, max_size=5).map(" ".join)
_BLOCK_TAGS = ("p", "div", "li", "td")


def _wrap(children):
    def build(pair):
        tag, kids = pair
        return "<" + tag + ">" + "".join(kids) + "</" + tag + ">"
    return st.tuples(st.sampled_from(_BLOCK_TAGS),
                     st.lists(children, min_size=1, max_size=3)).map(build)


_htmlish = st.recursive(_textnode, _wrap, max_leaves=12).map(
    lambda body: "<html><body>" + body + "</body></html>")


@given(_htmlish)
@settings(max_examples=_EX or 250, deadline=None)
def test_htmlish_spans_slice_payload_back_to_lines(payload):
    """Block-tag-only HTML with entity-free single-space text: every
    text node is a single segment, so each content line's span must
    slice the ORIGINAL payload to exactly the line text (the
    north-rule contract the fixture goldens assert pointwise)."""
    r = extract_payload(payload)
    assert r.status == "ok" and r.kind == "html"
    assert r.span_domain == "payload"
    lines = r.main_text.split("\n") if r.main_text else []
    assert len(lines) == len(r.spans)
    for line, (a, b) in zip(lines, r.spans):
        assert payload[a:b] == line
    # LINE blocks carry the same contract whether or not content
    for blk in r.blocks:
        if blk["block_type"] == "LINE":
            assert payload[blk["char_start"]:blk["char_end"]] == blk["text"]


@given(_any_text)
@settings(max_examples=_EX or 250, deadline=None)
def test_line_confidence_bounded_2dp_and_cache_consistent(t):
    c = line_confidence(t)
    if not t.strip():
        assert c == 0.0
    else:
        assert 1.0 <= c <= 99.5
    assert round(c, 2) == c
    assert line_confidence.__wrapped__(t) == c


_pdf_char = "abcdefghijklmnopqrstuvwxyz0123456789 $./:-"
_pdf_line = (st.text(alphabet=_pdf_char, min_size=1, max_size=40)
             .map(lambda s: " ".join(s.split()))
             .filter(lambda s: s))
_pdf_lines = st.lists(_pdf_line, min_size=1, max_size=6)


@given(st.integers(min_value=0, max_value=2**31 - 1), _pdf_lines)
@settings(max_examples=_EX or 150, deadline=None)
def test_pdf_roundtrip_lines_and_spans(seed, lines):
    """Random content through the from-scratch PDF builder must come
    back from the from-scratch PDF analyzer byte-exact: main_text is
    the rendered lines joined, spans index main_text to exactly each
    line — across both the FlateDecode and raw-stream variants and
    both KV layouts (colon run / two-column geometry), which the
    builder picks per (seed, line) hash."""
    from textract_demo_spark.fixtures.generator import _build_pdf
    payload, rendered, spans, _kvs = _build_pdf(seed, "prop", 0, lines)
    res = extract_payload(payload)
    assert res.status == "ok" and res.kind == "pdf"
    assert res.span_domain == "main_text"
    assert res.main_text == "\n".join(rendered)
    assert [tuple(s) for s in res.spans] == spans
    for (a, b), line in zip(res.spans, rendered):
        assert res.main_text[a:b] == line


_html_line = (st.text(alphabet=_pdf_char + ",#!?", min_size=1,
                      max_size=40)
              .map(lambda s: " ".join(s.split()))
              .filter(lambda s: s))
_items = st.lists(st.tuples(_html_line, _html_line), max_size=3)


@given(st.integers(min_value=0, max_value=2**31 - 1),
       st.lists(_html_line, min_size=1, max_size=5), _items)
@settings(max_examples=_EX or 150, deadline=None)
def test_html_roundtrip_spans_by_construction(seed, lines, items):
    """Random content through the fixture HTML builder must extract
    with EXACTLY the spans the builder recorded by construction:
    every content line (in the pos-hinted div, incl. table cells)
    classifies as content, every nav/sidebar/footer line as
    boilerplate, and each span slices the payload to its line."""
    from textract_demo_spark.fixtures.generator import _build_html
    flat = lines[:1] + [c for it in items for c in it] + lines[1:]
    payload, spans = _build_html(seed, "prop", 0, flat,
                                 table_items=items or None)
    res = extract_payload(payload)
    assert res.status == "ok" and res.kind == "html"
    assert [tuple(s) for s in res.spans] == spans
    got_lines = res.main_text.split("\n") if res.main_text else []
    assert got_lines == flat
    for (a, b), line in zip(res.spans, flat):
        assert payload[a:b] == line


_pdf_frag = st.sampled_from([
    b"1 0 obj ", b"4 0 obj ", b"<< /Filter /FlateDecode ",
    b"/Length 10 ", b"/Length 999999 ", b">> ", b"stream\n",
    b"\nendstream ", b"endobj\n", b"BT ", b"ET\n", b"(text) Tj ",
    b"(a\\)b) Tj ", b"(\\101\\102) Tj ", b"72 740 Td ",
    b"/F1 12 Tf ", b"[(a) -120 (b)] TJ ", b"1 0 0 1 10 20 Tm ",
    b"xref\n", b"trailer ", b"%%EOF", b"\x00\x01\xff\x9c",
    b"(unclosed ", b"3 0 R ", b"x\x9c", b"12.5 -3 Td ",
])
_pdf_soup = st.lists(_pdf_frag, min_size=0, max_size=30).map(b"".join)


@given(_pdf_soup)
@settings(max_examples=_EX or 300, deadline=None)
def test_pdf_parser_total_on_garbage(soup):
    """Adversarial PDF token soup (valid envelope, arbitrary object/
    stream/operator fragments incl. truncated strings, bogus /Length,
    raw zlib headers, binary bytes) must come back as a RESULT —
    ok / rejected / model_error — never an uncaught exception, and
    deterministically; any ok result still honors the span contract."""
    import base64
    data = b"%PDF-1.4\n" + soup + b"\nendobj"
    payload = ("data:application/pdf;base64,"
               + base64.b64encode(data).decode())
    r1 = extract_payload(payload)
    r2 = extract_payload(payload)
    assert r1.status in STATUSES
    assert (r1.status, r1.main_text, r1.spans) == \
        (r2.status, r2.main_text, r2.spans)
    if r1.status == "ok":
        for a, b in r1.spans:
            assert 0 <= a <= b <= len(r1.main_text)


_html_frag = st.sampled_from([
    "<div>", "</div>", "<p class='nav'>", "</p>", "<table>", "<tr>",
    "<td>", "</td>", "</tr>", "</table>", "<a href=\"/x\">", "</a>",
    "<br>", "<img src=x/>", "<!-- c -->", "<!-- unclosed",
    "<script>var x=1;</script>", "<script>open",
    "<style>.a{}</style>", "<span id=\"main content\">", "</span>",
    "<b>", "</b>", "</nothing>", "<", "<>", "< p>", "text words here ",
    "a&amp;b ", "&#65; ", "&#x41; ", "&bogus; ", "[x] [ ] ",
    "key: value ", "<td", "<div class=footer>", "42.5 $9 ",
])
_tag_soup = (st.lists(_html_frag, min_size=1, max_size=40)
             .map("".join)
             .map(lambda b: "<html><body>" + b + "</body></html>"))


@given(_tag_soup)
@settings(max_examples=_EX or 300, deadline=None)
def test_html_tokenizer_total_on_tag_soup(payload):
    """Adversarial tag soup (misnesting, unclosed comments/scripts,
    bare '<', bogus entities, checkbox markers, attr quote variants)
    must extract deterministically with the span contract intact:
    every LINE block's char range lies inside the payload and spans
    stay ordered and non-overlapping."""
    r1 = extract_payload(payload)
    r2 = extract_payload(payload)
    assert r1.status in STATUSES
    assert (r1.status, r1.main_text, r1.spans) == \
        (r2.status, r2.main_text, r2.spans)
    if r1.status == "ok":
        prev = None
        for a, b in r1.spans:
            assert 0 <= a <= b <= len(payload)
            if prev is not None:
                assert a >= prev
            prev = b


def _gate_ref(text: str) -> dict:
    """The quality gate's verdict on a payload that is neither PDF nor
    HTML, with the non-printable count taken per character."""
    stripped = text.strip()
    if not stripped:
        return {"label": "bad", "conf": _label_conf(text, "bad"),
                "kind": "bad", "reason": "empty"}
    nonprint = sum(1 for c in stripped
                   if not (c.isprintable() or c in "\n\r\t"))
    if nonprint / len(stripped) > 0.15:
        return {"label": "bad", "conf": _label_conf(text, "bad"),
                "kind": "bad", "reason": "binary"}
    return {"label": "good", "conf": _label_conf(text, "good"),
            "kind": "plain", "reason": ""}


# \n\r\t, C0/C1 controls, DEL, U+2028/U+2029, U+00A0, combining marks
# and astral characters; no '<', so no payload sniffs as HTML
_GATE_NOISE = ["\n", "\r", "\t", "\x00", "\x07", "\x0b", "\x0c", "\x1b",
               "\x1f", "\x7f", "\x85", "\x9f", "\u2028", "\u2029",
               "\u00a0", "\u200b", "\ufeff"]
_GATE_TEXT = ["a", "Z", "7", " ", ".", "\u0301", "\u0300", "\u00e9",
              "\u4e2d", "\U0001f600", "\U00010348"]


@st.composite
def _gate_payloads(draw):
    """Printable text with noise characters mixed in; a third of the
    draws hold the noise at one character either side of the 15% cut."""
    n = draw(st.integers(min_value=1, max_value=120))
    if draw(st.integers(0, 2)) == 0:
        k = max(0, int(0.15 * n) + draw(st.integers(-1, 1)))
    else:
        k = draw(st.integers(0, n))
    chars = (draw(st.lists(st.sampled_from(_GATE_TEXT),
                           min_size=n, max_size=n))
             + draw(st.lists(st.sampled_from(_GATE_NOISE),
                             min_size=k, max_size=k)))
    return "".join(draw(st.permutations(chars)))


@given(_gate_payloads())
@settings(max_examples=_EX or 300, deadline=None)
def test_quality_gate_matches_per_character_count(s):
    assert classify_quality(s) == _gate_ref(s)
