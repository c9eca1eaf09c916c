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


def _random_blocks(rng) -> list[dict]:
    """Blocks that stress the content ordering and the date gate: null
    and tied reading orders, null/empty/non-ASCII texts, non-content
    lines, KEY/VALUE groups with and without null ids."""
    from textract_demo_spark.core.blocks import make_block
    texts = [None, "", "a", "B", "b", "é 01/02/2020", "Z", "Date",
             "due date", "DATE:", "total"]
    out = []
    for i in range(rng.randint(0, 7)):
        kind = rng.choice(["LINE", "LINE", "LINE", "KEY", "VALUE"])
        b = make_block(i, "LINE" if kind == "LINE" else "KEY_VALUE",
                       rng.choice(texts), 0, 0, rng.choice([None, 1.0, 2.0]),
                       reading_order=rng.choice([None, 0, 1, 1, 2]),
                       is_content=rng.random() < 0.8)
        if kind != "LINE":
            b["kv_role"] = kind
            b["kv_group_id"] = rng.choice([None, 1, 2])
        out.append(b)
    return out


def test_fallback_search_text_matches_catalyst_rules(spark):
    """The kernel's gated search text (core.fields.fallback_search_text)
    equals what the field rules' Catalyst expressions would feed the
    detector: array_sort'ed content minus its first line, joined with
    ' ', and '' whenever a KV date candidate exists."""
    import random

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from textract_demo_spark.core.fields import fallback_search_text
    from textract_demo_spark.engine import rules, schemas

    rng = random.Random(7)
    cases = [_random_blocks(rng) for _ in range(400)]
    df = spark.createDataFrame(
        list(enumerate(cases)),
        T.StructType([T.StructField("i", T.IntegerType()),
                      T.StructField("blocks",
                                    T.ArrayType(schemas.BLOCK_SCHEMA))]))
    got = dict(
        df.withColumn("content", F.expr(rules._CONTENT))
        .withColumn("kv_pairs", F.expr(rules._KV_PAIRS))
        .withColumn("date_kv_cands",
                    F.expr(rules._kv_candidates("date", False)))
        .select("i", F.expr("""
            if(size(date_kv_cands) = 0,
               array_join(transform(
                 slice(content, 2, greatest(size(content) - 1, 0)),
                 x -> x.text), ' '),
               '')""").alias("search"))
        .collect())
    bad = [(i, got[i], fallback_search_text(b))
           for i, b in enumerate(cases)
           if got[i] != fallback_search_text(b)]
    assert not bad, bad[:3]
