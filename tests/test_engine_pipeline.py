"""Spark pipeline vs golden fixtures: per-turn text + span + field
equality under stable (conv_id, turn_idx) ordering — the north-rule
correctness gate (BASELINE.json), distributed edition.
"""

from __future__ import annotations

import pytest

from textract_demo_spark.engine.pipeline import fixtures_to_dfs, run_pipeline

N_CONVS = 40


@pytest.fixture(scope="module")
def run(spark):
    dfs = fixtures_to_dfs(spark, n_convs=N_CONVS)
    out = run_pipeline(dfs["transcripts"], dfs["reviews"], salt=4)
    rows = {(r["conv_id"], r["turn_idx"]): r.asDict(recursive=True)
            for r in out.collect()}
    golden = {(e["conv_id"], e["turn_idx"]): e
              for e in dfs["fixtures"]["expected_turns"]}
    reviews = {(r["conv_id"], r["turn_idx"]): r
               for r in dfs["fixtures"]["reviews"]}
    return rows, golden, reviews


def _mr_to_golden(mr: dict) -> dict:
    """Engine model_result struct -> golden dict shape."""
    def fld(f):
        return {"Confidence": f["confidence"], "Value": f["value"],
                "Alternatives": [
                    {"Confidence": a["confidence"], "Value": a["value"]}
                    for a in f["alternatives"]]}
    return {"Date": fld(mr["date"]), "Total": fld(mr["total"]),
            "Vendor": fld(mr["vendor"]), "Confidence": mr["confidence"]}


def test_row_count_and_coverage(run):
    rows, golden, _ = run
    assert set(rows.keys()) == set(golden.keys())


def test_per_turn_equality(run):
    rows, golden, _ = run
    bad = []
    for key in sorted(golden):
        g = golden[key]
        r = rows[key]
        if g["status"] != r["status"]:
            bad.append((key, "status", r["status"], g["status"]))
            continue
        if g["status"] != "ok":
            if r["model_result"] is not None:
                bad.append((key, "model_not_null", None, None))
            continue
        if r["main_text"] != g["main_text"]:
            bad.append((key, "main_text", r["main_text"][:60],
                        g["main_text"][:60]))
            continue
        got_spans = [(s["start"], s["end"]) for s in r["spans"]]
        if got_spans != [tuple(s) for s in g["spans"]]:
            bad.append((key, "spans", got_spans[:3], g["spans"][:3]))
            continue
        if _mr_to_golden(r["model_result"]) != g["model_result"]:
            bad.append((key, "model", _mr_to_golden(r["model_result"]),
                        g["model_result"]))
            continue
        if r["needs_review"] != g["needs_review"]:
            bad.append((key, "needs_review", r["needs_review"],
                        g["needs_review"]))
    assert not bad, f"{len(bad)} mismatches, first 3: {bad[:3]}"


def test_review_override(run):
    rows, golden, reviews = run
    n_checked = 0
    for key, rev in reviews.items():
        r = rows[key]
        assert r["reviewed"] is True
        assert r["reviewer"] == rev["worker_id"]
        fr = r["final_result"]
        assert fr["confidence"] == 100.0
        assert fr["vendor"]["value"] == rev["vendor"]
        assert fr["date"]["value"] == rev["date"]
        # empty review date => unchecked '-present' box => conf 0
        expected_conf = 100.0 if rev["date"] else 0.0
        assert fr["date"]["confidence"] == expected_conf
        assert fr["total"]["value"] == rev["total"]
        n_checked += 1
    assert n_checked > 0
    # unreviewed ok rows keep model result as final
    unreviewed = [k for k, g in golden.items()
                  if g["status"] == "ok" and k not in reviews]
    for key in unreviewed[:20]:
        r = rows[key]
        assert r["reviewed"] is False
        assert r["final_result"]["confidence"] == \
            r["model_result"]["confidence"]


def test_rejected_turns_have_no_blocks(run):
    rows, golden, _ = run
    for key, g in golden.items():
        if g["status"] != "ok":
            r = rows[key]
            assert r["main_text"] == ""
            assert r["spans"] == []
            assert r["needs_review"] is None


def test_result_schema_is_pinned(spark):
    """The committed table's schema: the kernel declares model_result
    and needs_review with exactly the types and nullability the table
    has always had (tests/data/result_schema.json)."""
    import json
    import os

    dfs = fixtures_to_dfs(spark, n_convs=2)
    got = json.loads(run_pipeline(dfs["transcripts"], salt=2).schema.json())
    path = os.path.join(os.path.dirname(__file__), "data",
                        "result_schema.json")
    with open(path) as fh:
        assert got == json.load(fh)


def test_model_result_is_the_reference_on_numeric_exotica(spark):
    """Total values that Python float() and Spark's try_cast disagree
    on: the engine must give exactly what postprocess_blocks gives
    ('1_000' is a total, '12d' is not)."""
    from textract_demo_spark.core.extract import extract_payload
    from textract_demo_spark.core.fields import (needs_review,
                                                 postprocess_blocks)
    from textract_demo_spark.engine import schemas

    payloads = [
        "<html><body><div class=\"content\"><p>Vendor Co</p>"
        f"<p>Total: {v}</p><p>Visited on 21/06/2018</p></div></body></html>"
        for v in ("1_000", "12d")]
    df = spark.createDataFrame(
        [{"conv_id": "c", "turn_idx": i, "role": "user", "text": p,
          "tool": None, "ts": None} for i, p in enumerate(payloads)],
        schemas.TRANSCRIPTS_SCHEMA)
    got = {r["turn_idx"]: r.asDict(recursive=True)
           for r in run_pipeline(df, salt=2).collect()}
    totals = []
    for i, p in enumerate(payloads):
        ref = postprocess_blocks(extract_payload(p).blocks)
        assert _mr_to_golden(got[i]["model_result"]) == ref
        assert got[i]["needs_review"] == needs_review(ref)
        totals.append(got[i]["model_result"]["total"]["value"])
    assert totals == ["1_000", ""]
