"""Vectorized UDFs wiring the pure-Python core into Spark.

All Python execution is Arrow-batched — no row-at-a-time Python UDFs
anywhere (BASELINE.json:15). The ``mapInArrow`` extraction kernel is
the pipeline's only Python stage: it also computes the gated
date-entity fallback, so each batch crosses the JVM<->Python boundary
once and everything downstream is native Catalyst expressions.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.blocks import STATUS_OK
from ..core.extract import extract_payload
from ..core.fields import fallback_date_entities
from . import schemas

# Arrow types mirroring schemas.BLOCK_SCHEMA / SPAN_SCHEMA — built
# column-flat (StructArray/ListArray.from_arrays) instead of per-row
# dicts through pandas: the nested conversion is ~8x cheaper, which
# matters because this is the single hot Python stage at 10^12 turns.
_SPAN_FIELDS = [pa.field("start", pa.int64(), False),
                pa.field("end", pa.int64(), False)]
# schemas.ENTITY_SCHEMA's element
_ENTITY_FIELDS = [pa.field("text", pa.string(), False),
                  pa.field("score", pa.float64(), False),
                  pa.field("start", pa.int64(), False)]
_BLOCK_FIELDS = [
    pa.field("block_id", pa.int64(), False),
    pa.field("page", pa.int32(), False),
    pa.field("block_type", pa.string(), False),
    pa.field("text", pa.string()),
    pa.field("char_start", pa.int64()),
    pa.field("char_end", pa.int64()),
    pa.field("conf", pa.float64()),
    pa.field("x0", pa.float64()),
    pa.field("y0", pa.float64()),
    pa.field("x1", pa.float64()),
    pa.field("y1", pa.float64()),
    pa.field("reading_order", pa.int32()),
    pa.field("kv_role", pa.string()),
    pa.field("kv_group_id", pa.int64()),
    pa.field("is_content", pa.bool_(), False),
    pa.field("row_idx", pa.int32()),
    pa.field("col_idx", pa.int32()),
    pa.field("selection_status", pa.string()),
]
_BLOCK_KEYS = [f.name for f in _BLOCK_FIELDS]

# The hot loop reads block dicts positionally via .values() — valid
# because make_block builds its dict in exactly this field order
# (python dicts preserve insertion order). Guarded here so a schema
# edit that breaks the correspondence fails at import, not silently.
from ..core.blocks import make_block as _mb  # noqa: E402

assert list(_mb(0, "LINE", "", 0, 0, 0.0).keys()) == _BLOCK_KEYS, \
    "make_block field order must match _BLOCK_FIELDS"
del _mb


def _extract_arrow(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """mapInArrow kernel: (conv_id, turn_idx, role, tool, ts, text)
    -> EXTRACTED_SCHEMA rows. Replaces the reference's per-document
    Textract Lambda (fn-call-textract/main.py:52-61) with a columnar
    batch stage. Passthrough columns stay zero-copy Arrow; result
    columns are built as flat child arrays + offsets.

    ``date_entities`` is the Comprehend-fallback analog
    (fn-postprocess/main.py:102-117) over each ok turn's blocks, gated
    on the absence of a KV date candidate (``core.fields.
    fallback_search_text``); the field rules only shape-check and rank
    it."""
    for batch in batches:
        texts = batch.column("text").to_pylist()
        status, kind, main_text, span_domain = [], [], [], []
        sp_start, sp_end, sp_off = [], [], [0]
        b_cols: list[list] = [[] for _ in _BLOCK_KEYS]
        b_off = [0]
        e_text, e_score, e_start, e_off = [], [], [], [0]
        for text in texts:
            res = extract_payload(text if isinstance(text, str) else "")
            status.append(res.status)
            kind.append(res.kind)
            main_text.append(res.main_text)
            span_domain.append(res.span_domain)
            for a, b in res.spans:
                sp_start.append(a)
                sp_end.append(b)
            sp_off.append(len(sp_start))
            for blk in res.blocks:
                for col, v in zip(b_cols, blk.values()):
                    col.append(v)
            b_off.append(len(b_cols[0]))
            if res.status == STATUS_OK:
                for e in fallback_date_entities(res.blocks):
                    e_text.append(e["text"])
                    e_score.append(e["score"])
                    e_start.append(e["start"])
            e_off.append(len(e_text))

        spans_arr = pa.ListArray.from_arrays(
            pa.array(sp_off, pa.int32()),
            pa.StructArray.from_arrays(
                [pa.array(sp_start, pa.int64()),
                 pa.array(sp_end, pa.int64())], fields=_SPAN_FIELDS))
        blocks_arr = pa.ListArray.from_arrays(
            pa.array(b_off, pa.int32()),
            pa.StructArray.from_arrays(
                [pa.array(vals, f.type)
                 for vals, f in zip(b_cols, _BLOCK_FIELDS)],
                fields=_BLOCK_FIELDS))
        entities_arr = pa.ListArray.from_arrays(
            pa.array(e_off, pa.int32()),
            pa.StructArray.from_arrays(
                [pa.array(e_text, pa.string()),
                 pa.array(e_score, pa.float64()),
                 pa.array(e_start, pa.int64())], fields=_ENTITY_FIELDS))
        yield pa.RecordBatch.from_arrays(
            [batch.column("conv_id"), batch.column("turn_idx"),
             batch.column("role"), batch.column("tool"),
             batch.column("ts"),
             pa.array(status, pa.string()),
             pa.array(kind, pa.string()),
             pa.array(main_text, pa.string()),
             spans_arr,
             pa.array(span_domain, pa.string()),
             blocks_arr,
             entities_arr],
            names=[f.name for f in schemas.EXTRACTED_SCHEMA.fields])


def extract_turns(transcripts: DataFrame, salt: int = 16,
                  partitions: int | None = None) -> DataFrame:
    """Quality-gate + extract every turn.

    Explicit salted repartition on (conv_id, salt(turn_idx)) first so
    a single hot conversation (10^6-turn agent transcripts) spreads
    over ``salt`` tasks instead of one straggler (north rule skew
    handling; SURVEY.md §4.3). The extraction itself is a narrow
    map — after this exchange the whole extract->rules path is
    shuffle-free.
    """
    df = transcripts.select("conv_id", "turn_idx", "role", "tool",
                            "ts", "text")
    if partitions:
        df = df.repartition(
            partitions, F.col("conv_id"),
            F.pmod(F.xxhash64("turn_idx"), F.lit(salt)))
    else:
        df = df.repartition(
            F.col("conv_id"), F.pmod(F.xxhash64("turn_idx"), F.lit(salt)))
    return df.mapInArrow(_extract_arrow, schema=schemas.EXTRACTED_SCHEMA)


def words_table(extracted: DataFrame) -> DataFrame:
    """Derived WORD blocks (SURVEY.md §1.2 Block-model parity), the
    Spark-first form: rather than materializing ~8x more block rows in
    the extraction kernel, WORD rows are split out of LINE blocks with
    native expressions — split + a single aggregate() scan building
    the cumulative in-line offsets + posexplode. Offsets
    (word_start/word_end) index into the LINE's ``text``;
    word_abs_start/word_abs_end add the line's char_start, giving
    offsets in the LINE's span DOMAIN — for html/plain payloads that
    is the original payload string (north-rule "char spans into the
    original payload"), for pdf it is main_text (see
    ExtractResult.span_domain). Zero Python, zero shuffle."""
    lines = (blocks_table(extracted)
             .filter((F.col("block_type") == "LINE")
                     & (F.col("text") != "")))
    offs = F.expr("""
        aggregate(_words,
          struct(cast(array() AS array<int>) AS arr, 0 AS off),
          (acc, w) -> struct(concat(acc.arr, array(acc.off)),
                             acc.off + length(w) + 1),
          acc -> acc.arr)""")
    return (lines
            .withColumn("_words", F.split(F.col("text"), " "))
            .withColumn("_offs", offs)
            .select("conv_id", "turn_idx",
                    F.col("block_id").alias("line_block_id"), "page",
                    "char_start", "char_end", "is_content",
                    F.posexplode(F.arrays_zip("_words", "_offs"))
                     .alias("word_idx", "wz"))
            .select("conv_id", "turn_idx", "line_block_id", "page",
                    "char_start", "char_end", "is_content", "word_idx",
                    F.col("wz._words").alias("word"),
                    F.col("wz._offs").alias("word_start"),
                    (F.col("wz._offs")
                     + F.length("wz._words")).alias("word_end"),
                    (F.col("char_start") + F.col("wz._offs"))
                    .alias("word_abs_start"),
                    (F.col("char_start") + F.col("wz._offs")
                     + F.length("wz._words")).alias("word_abs_end")))


def blocks_table(extracted: DataFrame) -> DataFrame:
    """Exploded, columnar blocks DataFrame (SURVEY.md §1.2) — used for
    checkpointed materialization + metrics; the field rules consume
    the nested array directly (no shuffle)."""
    return (
        extracted
        .filter(F.col("status") == STATUS_OK)
        .select("conv_id", "turn_idx",
                F.explode("blocks").alias("b"))
        .select("conv_id", "turn_idx", "b.*")
    )
