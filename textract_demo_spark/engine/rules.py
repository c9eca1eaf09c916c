"""Field-extraction rules as NATIVE Spark expressions.

Re-expresses ``source/ocr/postprocessing/fn-postprocess/main.py:34-150``
(see ``core.fields`` for the line-by-line semantics) as Catalyst
higher-order functions over the per-turn ``blocks`` array:

- The reference's per-document Python loops (blocks scan main.py:49-60,
  KV search main.py:64-100, candidate ranking main.py:119-123) become
  per-ROW array expressions — filter/transform/array_sort/slice — so
  the entire postprocess stage is a narrow map with ZERO shuffle.
  At 10^12 turns this is the difference between a pure pipelined scan
  and a multi-petabyte exchange: grouping is unnecessary because a
  turn's blocks never leave their row.
- There is no Python in this stage. The gated date-entity fallback
  (Comprehend analog, main.py:102-117) arrives as the extraction
  kernel's ``date_entities`` column, already empty for rows with KV
  date candidates (the reference's fallback short-circuit, SURVEY.md
  §4.1; ``core.fields.fallback_search_text`` mirrors the content
  ordering and gate below). Only the shape check and rescale run here,
  so a batch crosses the JVM<->Python boundary once.

Semantics cross-checked against the pure-Python ``core.fields`` on the
golden fixtures (tests/test_engine_pipeline.py). One documented
divergence: the numeric predicate uses try_cast, which accepts the
same decimal/scientific forms as Python float() on all fixture values
but differs on exotica like '1_000' (Python accepts, SQL rejects).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.blocks import STATUS_OK
from ..core.fields import REVIEW_THRESHOLD

# content lines sorted by reading order (A1/W1)
_CONTENT = """
array_sort(transform(
  filter(blocks, b -> b.block_type = 'LINE' AND b.is_content),
  b -> struct(b.reading_order AS ro, b.text AS text, b.conf AS conf)))
"""

# KV pairs assembled from KEY/VALUE roles by group id (J2 analog,
# done per-row: keys stay in generation order)
_KV_PAIRS = """
transform(
  filter(blocks, b -> b.kv_role = 'KEY'),
  k -> struct(
    lower(k.text) AS key_lower,
    k.conf AS key_conf,
    try_element_at(filter(blocks,
                      v -> v.kv_role = 'VALUE'
                           AND v.kv_group_id = k.kv_group_id), 1) AS v))
"""


def _kv_candidates(term: str, numeric: bool) -> str:
    """Candidates for one search term (J1 containment semantics:
    searchFieldsByKey = case-insensitive substring on the key)."""
    num_pred = (
        "AND try_cast(regexp_replace(p.v.text, '^\\\\$+', '') AS double)"
        " IS NOT NULL" if numeric else "")
    penalty = (
        " * if(contains(p.key_lower, 'sub'), 0.5d, 1.0d)" if numeric else "")
    return f"""
transform(
  filter(kv_pairs, p -> contains(p.key_lower, '{term}')
                        AND p.v IS NOT NULL {num_pred}),
  p -> struct(least(p.key_conf, p.v.conf){penalty} AS confidence,
              p.v.text AS value))
"""


# stable descending-confidence ranking: sort by (-conf, generation seq)
# — replicates Python's stable sorted(..., reverse=True)
# (fn-postprocess/main.py:119-123; SURVEY.md §7 watch-list #5)
def _ranked(cands: str) -> str:
    return f"""
array_sort(transform({cands},
  (x, i) -> struct(-x.confidence AS neg_conf, i AS seq,
                   x.confidence AS confidence, x.value AS value)))
"""


def _top_conf(ranked: str) -> str:
    return f"coalesce(try_element_at({ranked}, 1).confidence, 0.0d)"


def _top_value(ranked: str) -> str:
    return f"coalesce(try_element_at({ranked}, 1).value, '')"


def _alternatives(ranked: str) -> str:
    return f"""
transform(slice({ranked}, 2, greatest(size({ranked}) - 1, 0)),
          r -> struct(r.confidence AS confidence, r.value AS value))
"""


def model_results(extracted: DataFrame,
                  threshold: float = REVIEW_THRESHOLD) -> DataFrame:
    """Apply the reference field rules to extracted turns.

    Input: EXTRACTED_SCHEMA rows. Output adds ``model_result``
    (date/total/vendor structs + composite confidence) and
    ``needs_review``; rejected turns keep null model_result.
    """
    df = (
        extracted
        .withColumn("content", F.expr(_CONTENT))
        .withColumn("kv_pairs", F.expr(_KV_PAIRS))
        # Vendor: first content line (A1, fn-postprocess/main.py:49-56)
        .withColumn("vendor_conf",
                    F.expr("coalesce(try_element_at(content, 1).conf, 0.0d)"))
        .withColumn("vendor_value",
                    F.expr("coalesce(try_element_at(content, 1).text, '')"))
        .withColumn("total_cands", F.expr(
            f"concat({_kv_candidates('total', True)},"
            f" {_kv_candidates('amount', True)})"))
        .withColumn("date_kv_cands", F.expr(_kv_candidates("date", False)))
        # Fallback (A10): the kernel ran the entity detector over the
        # ordered concat of content lines 2.. (A2, main.py:57-60) only
        # where date_kv_cands is empty; shape validation '/', ':' or
        # '-' (P7, main.py:108-110) + x100 rescale (A9, main.py:115)
        .withColumn("fb_cands", F.expr("""
            transform(filter(date_entities, e -> e.text RLIKE '[/:-]'),
                      e -> struct(e.score * 100 AS confidence,
                                  e.text AS value))"""))
        .withColumn("date_cands",
                    F.expr("concat(date_kv_cands, fb_cands)"))
    )
    empty_alts = ("cast(array() as"
                  " array<struct<confidence:double,value:string>>)")
    df = (
        df
        # hoist each ranking into its own column: the sort runs once
        # per row instead of once per referencing subexpression (the
        # struct below reads each ranking four times; Catalyst does
        # not reliably CSE identical higher-order-function trees)
        .withColumn("total_ranked", F.expr(_ranked("total_cands")))
        .withColumn("date_ranked", F.expr(_ranked("date_cands")))
        .withColumn("model_result", F.expr(f"""
          if(status = '{STATUS_OK}',
            named_struct(
              'date', named_struct(
                 'confidence', {_top_conf('date_ranked')},
                 'value', {_top_value('date_ranked')},
                 'alternatives', {_alternatives('date_ranked')}),
              'total', named_struct(
                 'confidence', {_top_conf('total_ranked')},
                 'value', {_top_value('total_ranked')},
                 'alternatives', {_alternatives('total_ranked')}),
              'vendor', named_struct(
                 'confidence', vendor_conf,
                 'value', vendor_value,
                 'alternatives', {empty_alts}),
              'confidence', least({_top_conf('date_ranked')},
                                  {_top_conf('total_ranked')},
                                  vendor_conf)),
            null)"""))
        # Check Confidence routing (P9, StateMachine.asl.json:54-65)
        .withColumn("needs_review", F.expr(
            f"if(status = '{STATUS_OK}',"
            f" NOT (model_result.confidence >= {threshold}d), null)"))
        .drop("content", "kv_pairs", "vendor_conf", "vendor_value",
              "total_cands", "date_kv_cands", "date_entities", "fb_cands",
              "date_cands", "total_ranked", "date_ranked")
    )
    return df
