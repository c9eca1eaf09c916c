"""Explicit StructTypes — the engine is fixed-schema everywhere
(SURVEY.md §1.4; the reference's implicit duck-typed payloads become
enforced schemas, malformed data becomes a status column).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Input table shape — fixed by BASELINE.json:15.
TRANSCRIPTS_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("role", T.StringType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("tool", T.StringType(), True),
    T.StructField("ts", T.TimestampType(), True),
])

# One block — the Textract Block analog (SURVEY.md §1.2).
BLOCK_SCHEMA = T.StructType([
    T.StructField("block_id", T.LongType(), False),
    T.StructField("page", T.IntegerType(), False),
    T.StructField("block_type", T.StringType(), False),
    T.StructField("text", T.StringType(), True),
    T.StructField("char_start", T.LongType(), True),
    T.StructField("char_end", T.LongType(), True),
    T.StructField("conf", T.DoubleType(), True),
    T.StructField("x0", T.DoubleType(), True),
    T.StructField("y0", T.DoubleType(), True),
    T.StructField("x1", T.DoubleType(), True),
    T.StructField("y1", T.DoubleType(), True),
    T.StructField("reading_order", T.IntegerType(), True),
    T.StructField("kv_role", T.StringType(), True),
    T.StructField("kv_group_id", T.LongType(), True),
    T.StructField("is_content", T.BooleanType(), False),
    # TABLE/CELL grid position (on CELL: the cell's 0-based row/col;
    # on TABLE: the row/column counts) and SELECTION_ELEMENT state
    # (SELECTED | NOT_SELECTED) — SURVEY.md §1.2 Block model parity
    T.StructField("row_idx", T.IntegerType(), True),
    T.StructField("col_idx", T.IntegerType(), True),
    T.StructField("selection_status", T.StringType(), True),
])

SPAN_SCHEMA = T.StructType([
    T.StructField("start", T.LongType(), False),
    T.StructField("end", T.LongType(), False),
])

# Alternative candidates of one field: the tail of its ranking.
_ALTERNATIVE = T.StructType([
    T.StructField("confidence", T.DoubleType(), True),
    T.StructField("value", T.StringType(), True),
])


def _field_result(alternatives: T.ArrayType,
                  alternatives_nullable: bool) -> T.StructType:
    return T.StructType([
        T.StructField("confidence", T.DoubleType(), False),
        T.StructField("value", T.StringType(), False),
        T.StructField("alternatives", alternatives, alternatives_nullable),
    ])


# The reference field rules' result (core.fields.postprocess_blocks,
# fn-postprocess/main.py:125-142) with lower-case names: top-1 per
# field + its alternatives, and the composite (min) confidence. Null
# for turns whose status is not ok.
#
# The nullability flags are the committed table schema's and must not
# drift; they differ between the ranked fields (date/total) and vendor,
# which has exactly one candidate and so always an empty tail.
_RANKED = _field_result(T.ArrayType(_ALTERNATIVE, containsNull=False), True)
MODEL_RESULT_SCHEMA = T.StructType([
    T.StructField("date", _RANKED, False),
    T.StructField("total", _RANKED, False),
    T.StructField("vendor",
                  _field_result(T.ArrayType(_ALTERNATIVE), False), False),
    T.StructField("confidence", T.DoubleType(), False),
])

# Output of the extraction kernel: one row per turn, blocks as a
# nested array (a turn's blocks never leave its row, so the field
# rules run inside the kernel with NO shuffle). ``model_result`` and
# ``needs_review`` are null unless status is ok.
EXTRACTED_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("role", T.StringType(), True),
    T.StructField("tool", T.StringType(), True),
    T.StructField("ts", T.TimestampType(), True),
    T.StructField("status", T.StringType(), False),
    T.StructField("kind", T.StringType(), False),
    T.StructField("main_text", T.StringType(), True),
    T.StructField("spans", T.ArrayType(SPAN_SCHEMA), True),
    T.StructField("span_domain", T.StringType(), True),
    T.StructField("model_result", MODEL_RESULT_SCHEMA, True),
    T.StructField("needs_review", T.BooleanType(), True),
    T.StructField("blocks", T.ArrayType(BLOCK_SCHEMA), True),
])

REVIEWS_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("vendor", T.StringType(), True),
    T.StructField("date", T.StringType(), True),
    T.StructField("total", T.StringType(), True),
    # optional tax answer — the review form collects vendor, date,
    # total AND an optional tax field
    # (a2i-text-with-checkboxes.liquid.html, tax row)
    T.StructField("tax", T.StringType(), True),
    T.StructField("worker_id", T.StringType(), True),
    T.StructField("review_ts", T.TimestampType(), True),
])

# Raw review-ingestion shape (pre-hygiene): carries the source object
# key and task token so the suffix filter (P10) and token guard (P11)
# are real code paths, mirroring fn-human-review-callback/main.py:41-59.
RAW_REVIEWS_SCHEMA = T.StructType(
    [T.StructField("source_key", T.StringType(), True),
     T.StructField("task_token", T.StringType(), True)]
    + REVIEWS_SCHEMA.fields)
