"""Vectorized UDFs wiring the pure-Python core into Spark.

All Python execution is Arrow-batched — no row-at-a-time Python UDFs
anywhere (BASELINE.json:15). The ``mapInArrow`` extraction kernel is
the pipeline's only Python stage: it runs the quality gate, the
per-kind extractor and the reference field rules
(``core.fields.postprocess_blocks``) over each turn, so each batch
crosses the JVM<->Python boundary once and the rules the goldens are
built from are the rules the job runs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type

from ..core.blocks import STATUS_OK, make_block
from ..core.extract import extract_payload
from ..core.fields import needs_review, postprocess_blocks
from . import schemas

# Arrow types of the nested result columns, derived from the Spark
# schemas. spans/blocks are built column-flat (StructArray/ListArray.
# from_arrays) instead of per-row dicts through pandas: the nested
# conversion is ~8x cheaper, which matters because this is the single
# hot Python stage at 10^12 turns.
_SPAN_FIELDS = list(to_arrow_type(schemas.SPAN_SCHEMA))
_BLOCK_FIELDS = list(to_arrow_type(schemas.BLOCK_SCHEMA))
_MODEL_RESULT_TYPE = to_arrow_type(schemas.MODEL_RESULT_SCHEMA)

# The hot loop reads block dicts positionally via .values() — valid
# because make_block builds its dict in exactly the schema's field
# order (python dicts preserve insertion order). Guarded here so a
# schema edit that breaks the correspondence fails at import, not
# silently.
assert list(make_block(0, "LINE", "", 0, 0, 0.0).keys()) == \
    schemas.BLOCK_SCHEMA.names, \
    "make_block field order must match schemas.BLOCK_SCHEMA"


def _field(f: dict) -> dict:
    return {"confidence": f["Confidence"], "value": f["Value"],
            "alternatives": [{"confidence": a["Confidence"],
                              "value": a["Value"]}
                             for a in f["Alternatives"]]}


def _model_result(result: dict) -> dict:
    """``postprocess_blocks``' result in MODEL_RESULT_SCHEMA's shape."""
    return {"date": _field(result["Date"]),
            "total": _field(result["Total"]),
            "vendor": _field(result["Vendor"]),
            "confidence": result["Confidence"]}


def _extract_arrow(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """mapInArrow kernel: (conv_id, turn_idx, role, tool, ts, text)
    -> EXTRACTED_SCHEMA rows. Replaces the reference's per-document
    Textract Lambda (fn-call-textract/main.py:52-61) and its
    post-processing Lambda (fn-postprocess/main.py:34-150) with one
    columnar batch stage. Passthrough columns stay zero-copy Arrow;
    spans and blocks are built as flat child arrays + offsets.

    ``model_result``/``needs_review`` come from the reference field
    rules over each ok turn's blocks and the Check Confidence routing
    (StateMachine.asl.json:54-65); they are null for every other
    status."""
    for batch in batches:
        texts = batch.column("text").to_pylist()
        status, kind, main_text, span_domain = [], [], [], []
        sp_start, sp_end, sp_off = [], [], [0]
        b_cols: list[list] = [[] for _ in _BLOCK_FIELDS]
        b_off = [0]
        results, review = [], []
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
                mr = postprocess_blocks(res.blocks)
                results.append(_model_result(mr))
                review.append(needs_review(mr))
            else:
                results.append(None)
                review.append(None)

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
        yield pa.RecordBatch.from_arrays(
            [batch.column("conv_id"), batch.column("turn_idx"),
             batch.column("role"), batch.column("tool"),
             batch.column("ts"),
             pa.array(status, pa.string()),
             pa.array(kind, pa.string()),
             pa.array(main_text, pa.string()),
             spans_arr,
             pa.array(span_domain, pa.string()),
             pa.array(results, _MODEL_RESULT_TYPE),
             pa.array(review, pa.bool_()),
             blocks_arr],
            names=schemas.EXTRACTED_SCHEMA.names)


def extract_turns(transcripts: DataFrame, salt: int = 16,
                  partitions: int | None = None) -> DataFrame:
    """Quality-gate + extract every turn.

    Explicit salted repartition on (conv_id, salt(turn_idx)) first so
    a single hot conversation (10^6-turn agent transcripts) spreads
    over ``salt`` tasks instead of one straggler (north rule skew
    handling; SURVEY.md §4.3). The extraction itself, field rules
    included, is a narrow map — after this exchange the path is
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
    return extract_in_place(df)


def extract_in_place(transcripts: DataFrame) -> DataFrame:
    """Quality-gate + extract every turn in the partition it is in: the
    narrow kernel of ``extract_turns`` without its exchange, for a
    caller that distributes the rows itself (the extract job
    rebalances its input on the table partition key)."""
    return (transcripts
            .select("conv_id", "turn_idx", "role", "tool", "ts", "text")
            .mapInArrow(_extract_arrow, schema=schemas.EXTRACTED_SCHEMA))


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
    the nested array inside the kernel (no shuffle)."""
    return (
        extracted
        .filter(F.col("status") == STATUS_OK)
        .select("conv_id", "turn_idx",
                F.explode("blocks").alias("b"))
        .select("conv_id", "turn_idx", "b.*")
    )
