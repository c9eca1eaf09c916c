"""Named operator queries + DuckDB oracle SQL — the driver-facing
correctness surface (``__spark_entry__.queries()/oracle_sql()``).

Two families:

1. Extraction-path queries: payloads are CONSTRUCTED IN SQL from the
   driver's ``documents`` table (constant HTML wrapping, printf-built
   dates/amounts), the REAL Spark pipeline extracts them, and the
   oracle predicts the output in pure SQL — an end-to-end DuckDB-
   checkable gate on the extraction engine itself.
2. Generic operator queries over the TPC-H-ish tables, one per
   operator family in SURVEY.md §2 (filters, containment join,
   override join, ordered concat, top-1 ranking, union-fallback,
   windows, histograms, string/cast algebra).

Aliasing rule: every computed column is aliased identically in the
Spark plan and the oracle SQL (driver hash-compares by sorted column
name). Numeric columns are cast so Spark and DuckDB agree on type
(BIGINT for counts/sizes, DOUBLE for confidences).
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable, Iterator
from contextlib import contextmanager

import pandas as pd  # module-level: pandas_udf resolves pd.Series
                     # hints via module globals under future-annotations
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def reg(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return reg


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# Queries that stage files, drain a stream or commit a table work in a
# scratch dir and collect their (small) result before it is removed.

@contextmanager
def _scratch(prefix: str) -> Iterator[str]:
    """A fresh temp dir, removed on exit even when the body raises."""
    base = tempfile.mkdtemp(prefix=prefix)
    try:
        yield base
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _stage_waves(spark: SparkSession, base: str, waves, schema,
                 max_files: int | None = None) -> DataFrame:
    """Write each ``(name, df)`` of ``waves`` as one parquet file into
    ``base/in`` (``name-i.parquet``, in wave order, so each wave lands
    after the one before it) and return the file-source stream over
    that dir. ``max_files`` is maxFilesPerTrigger: 1 makes each wave
    its own micro-batch; None leaves Spark's default."""
    in_dir = os.path.join(base, "in")
    os.makedirs(in_dir)
    stage = os.path.join(base, "stage")
    for name, df in waves:
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        for i, f in enumerate(sorted(os.listdir(stage))):
            if f.endswith(".parquet"):
                shutil.move(os.path.join(stage, f),
                            os.path.join(in_dir, f"{name}-{i}.parquet"))
    reader = spark.readStream.schema(schema)
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", max_files)
    return reader.parquet(in_dir)


def _drain(q) -> None:
    """Wait for an availableNow query to finish. One that does not
    finish in 600 s is stopped and raises: reading its partial sink
    would be a silent truncation."""
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError("stream drain did not finish in 600 s")


def _docs_as_turns(docs: DataFrame, payload_col) -> DataFrame:
    return docs.select(
        F.concat(F.lit("doc-"), F.lpad(F.col("doc_id").cast("string"),
                                       10, "0")).alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("tool").alias("role"),
        payload_col.alias("text"),
        F.lit("").alias("tool"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
        F.col("doc_id"),
    )


def _run_extraction(docs_turns: DataFrame) -> DataFrame:
    """Real pipeline over constructed payloads; keeps doc_id."""
    from .pipeline import run_pipeline
    ids = docs_turns.select("conv_id", "doc_id")
    out = run_pipeline(docs_turns.drop("doc_id"), reviews=None, salt=4)
    return out.join(F.broadcast(ids), "conv_id")


# ---------------------------------------------------------------------------
# 1. Extraction-path queries (oracle predicts the engine's output)

# constant HTML chrome for the boilerplate-strip check — the oracle
# knows the exact span offsets because the prefix is a constant
_PRE = ('<!DOCTYPE html>\n<html><head><title>Portal</title></head><body>'
        '<nav class="nav"><a href="/">Home</a> <a href="/b">Blog</a> '
        '<a href="/c">Help</a></nav><div class="content"><p>')
_POST = ('</p></div><footer class="footer"><a href="/t">Terms</a>'
         '</footer></body></html>')


@query(
    "extract_plain_identity",
    oracle="""
    SELECT doc_id, 'ok' AS status, 'plain' AS kind, text AS main_text,
           1::BIGINT AS n_spans, 0::BIGINT AS span_start,
           length(text)::BIGINT AS span_end
    FROM documents
    """)
def extract_plain_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain-payload identity extraction (FIXTURES.md §1.3): the whole
    text is main content with one span. End-to-end through the real
    pipeline (quality gate + extractor)."""
    docs = _t(spark, sf_dir, "documents")
    out = _run_extraction(_docs_as_turns(docs, F.col("text")))
    return out.select(
        "doc_id", "status", "kind", "main_text",
        F.size("spans").cast("long").alias("n_spans"),
        F.expr("spans[0].start").alias("span_start"),
        F.expr("spans[0].end").alias("span_end"))


@query(
    "extract_html_boilerplate_strip",
    oracle=f"""
    SELECT doc_id, 'ok' AS status, text AS main_text,
           {len(_PRE)}::BIGINT AS span_start,
           ({len(_PRE)} + length(text))::BIGINT AS span_end,
           text AS vendor_value
    FROM documents
    """)
def extract_html_boilerplate_strip(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """HTML path end-to-end: wrap each document in constant nav/footer
    chrome; the engine must strip the boilerplate and return exactly
    the document text with spans pointing at it inside the payload
    (U-2 HTML analyzer; north-rule text+span equality)."""
    docs = _t(spark, sf_dir, "documents")
    payload = F.concat(F.lit(_PRE), F.col("text"), F.lit(_POST))
    out = _run_extraction(_docs_as_turns(docs, payload))
    return out.select(
        "doc_id", "status", "main_text",
        F.expr("spans[0].start").alias("span_start"),
        F.expr("spans[0].end").alias("span_end"),
        F.col("model_result.vendor.value").alias("vendor_value"))


@query(
    "extract_pdf_success",
    oracle="""
    WITH f AS (
      SELECT doc_id,
        'Vendor ' || CAST(doc_id % 97 AS VARCHAR) AS v,
        printf('%02d/%02d/2021', doc_id % 28 + 1, doc_id % 12 + 1) AS d,
        '$' || printf('%d.%02d', doc_id % 450 + 10, doc_id % 100) AS t
      FROM documents),
    g AS (
      SELECT doc_id, v, d, t,
        'Vendor: ' || v AS l0, 'Date: ' || d AS l1, 'Total: ' || t AS l2
      FROM f),
    h AS (
      SELECT doc_id, v, d, t, l0, l1, l2,
        length(l0) AS e0,
        length(l0) + 1 AS s1, length(l0) + 1 + length(l1) AS e1,
        length(l0) + length(l1) + 2 AS s2,
        length(l0) + length(l1) + 2 + length(l2) AS e2,
        l0 || chr(10) || l1 || chr(10) || l2 AS mt
      FROM g),
    b AS (
      SELECT doc_id, mt, 0 AS block_id, 'LINE' AS block_type,
             '' AS kv_role, -1 AS kv_group_id, 0 AS reading_order,
             l0 AS btext, 0 AS cs, e0 AS ce FROM h
      UNION ALL SELECT doc_id, mt, 1, 'KEY_VALUE', 'KEY', 0, -1,
             'Vendor', 0, 6 FROM h
      UNION ALL SELECT doc_id, mt, 2, 'KEY_VALUE', 'VALUE', 0, -1,
             v, 8, e0 FROM h
      UNION ALL SELECT doc_id, mt, 3, 'LINE', '', -1, 1,
             l1, s1, e1 FROM h
      UNION ALL SELECT doc_id, mt, 4, 'KEY_VALUE', 'KEY', 1, -1,
             'Date', s1, s1 + 4 FROM h
      UNION ALL SELECT doc_id, mt, 5, 'KEY_VALUE', 'VALUE', 1, -1,
             d, s1 + 6, e1 FROM h
      UNION ALL SELECT doc_id, mt, 6, 'LINE', '', -1, 2,
             l2, s2, e2 FROM h
      UNION ALL SELECT doc_id, mt, 7, 'KEY_VALUE', 'KEY', 2, -1,
             'Total', s2, s2 + 5 FROM h
      UNION ALL SELECT doc_id, mt, 8, 'KEY_VALUE', 'VALUE', 2, -1,
             t, s2 + 7, e2 FROM h
      UNION ALL SELECT doc_id, mt, 9, 'PAGE', '', -1, -1,
             '', 0, e2 FROM h)
    SELECT doc_id, 'ok' AS status, 'pdf' AS kind,
           'main_text' AS span_domain, mt AS main_text,
           block_id::BIGINT AS block_id, block_type, kv_role,
           kv_group_id::BIGINT AS kv_group_id,
           reading_order::BIGINT AS reading_order, btext,
           cs::BIGINT AS char_start, ce::BIGINT AS char_end
    FROM b
    """)
def extract_pdf_success(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF SUCCESS path end-to-end under the driver oracle (the
    reference's main artifact — Textract FORMS extraction over PDFs,
    fn-call-textract/main.py:53-61; rounds 1-2 exercised only the
    PDF failure mode via error_taxonomy_routing).

    A complete single-page PDF is CONSTRUCTED IN SQL per document —
    a fixed object-graph template whose one content stream printf's
    the vendor/date/total fields into three Tj text runs (with the
    real /Length) — then base64'd into the data-URI envelope the
    quality gate sniffs. The real pipeline must: accept the payload,
    decode it, object-scan the graph, interpret BT/Tf/Td/Tj, cluster
    runs into 3 lines in reading order (y 720/700/680), detect the
    same-line ``key: value`` pairs, and emit main_text-domain char
    spans. The oracle predicts every block (3 LINE + 3 KEY + 3 VALUE
    + 1 PAGE per doc) and every span from string arithmetic alone."""
    docs = _t(spark, sf_dir, "documents")
    vendor = F.concat(F.lit("Vendor "),
                      (F.col("doc_id") % 97).cast("string"))
    date = F.format_string("%02d/%02d/2021", F.col("doc_id") % 28 + 1,
                           F.col("doc_id") % 12 + 1)
    total = F.concat(F.lit("$"), F.format_string(
        "%d.%02d", F.col("doc_id") % 450 + 10, F.col("doc_id") % 100))
    stream = F.concat(
        F.lit("BT\n/F1 12 Tf\n72 720 Td\n(Vendor: "), vendor,
        F.lit(") Tj\n0 -20 Td\n(Date: "), date,
        F.lit(") Tj\n0 -20 Td\n(Total: "), total,
        F.lit(") Tj\nET"))
    pdf = F.concat(
        F.lit("%PDF-1.4\n"
              "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
              "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\n"
              "endobj\n"
              "3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\n"
              "endobj\n"
              "4 0 obj\n<< /Length "),
        F.length(stream).cast("string"),
        F.lit(" >>\nstream\n"), stream,
        F.lit("\nendstream\nendobj\n%%EOF\n"))
    # this Spark build emits MIME-chunked base64 (newline every 76
    # chars); the data-URI envelope needs the unchunked form
    payload = F.concat(F.lit("data:application/pdf;base64,"),
                       F.regexp_replace(F.base64(pdf.cast("binary")),
                                        "[\\r\\n]", ""))
    out = _run_extraction(_docs_as_turns(docs, payload))
    b = out.select("doc_id", "status", "kind", "span_domain",
                   "main_text", F.explode("blocks").alias("b"))
    return b.select(
        "doc_id", "status", "kind", "span_domain", "main_text",
        F.col("b.block_id").cast("long").alias("block_id"),
        F.col("b.block_type").alias("block_type"),
        F.coalesce(F.col("b.kv_role"), F.lit("")).alias("kv_role"),
        F.coalesce(F.col("b.kv_group_id"), F.lit(-1)).cast("long")
         .alias("kv_group_id"),
        F.col("b.reading_order").cast("long").alias("reading_order"),
        F.col("b.text").alias("btext"),
        F.col("b.char_start").cast("long").alias("char_start"),
        F.col("b.char_end").cast("long").alias("char_end"))


@query(
    "quality_gate_routing",
    oracle="""
    SELECT CASE WHEN doc_id % 7 IN (0, 1) THEN 'rejected' ELSE 'ok' END
             AS status,
           CASE WHEN doc_id % 7 IN (0, 1) THEN 'bad' ELSE 'plain' END
             AS kind,
           count(*)::BIGINT AS n
    FROM documents GROUP BY 1, 2
    """)
def quality_gate_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate predicate + early-reject routing (P1/P2,
    fn-preprocess/main.py:117-146 + StateMachine.asl.json:14-25):
    empty and truncated payloads are rejected before extraction."""
    docs = _t(spark, sf_dir, "documents")
    payload = (
        F.when(F.col("doc_id") % 7 == 0, F.lit(""))
        .when(F.col("doc_id") % 7 == 1, F.lit("<html><p>truncated"))
        .otherwise(F.col("text")))
    out = _run_extraction(_docs_as_turns(docs, payload))
    return out.groupBy("status", "kind").agg(
        F.count("*").cast("long").alias("n"))


@query(
    "date_entity_fallback",
    oracle="""
    SELECT doc_id,
           printf('%02d/%02d/20%02d', 1 + doc_id % 28, 1 + doc_id % 12,
                  18 + doc_id % 9) AS date_value,
           'Vendor Shop' AS vendor_value
    FROM documents
    """)
def date_entity_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comprehend-fallback analog (U1/A10/P7/P8, fn-postprocess/
    main.py:102-117): no Date KV pair exists, so the date comes from
    the entity detector over the body text, shape-validated."""
    docs = _t(spark, sf_dir, "documents")
    dstr = F.format_string(
        "%02d/%02d/20%02d", 1 + F.col("doc_id") % 28,
        1 + F.col("doc_id") % 12, 18 + F.col("doc_id") % 9)
    payload = F.concat(
        F.lit('<html><body><div class="content"><p>Vendor Shop</p>'
              '<p>Visited on '),
        dstr, F.lit("</p></div></body></html>"))
    out = _run_extraction(_docs_as_turns(docs, payload))
    return out.select(
        "doc_id",
        F.col("model_result.date.value").alias("date_value"),
        F.col("model_result.vendor.value").alias("vendor_value"))


@query(
    "subtotal_penalty_ranking",
    oracle="""
    SELECT doc_id,
           '$' || printf('%d.%02d', 1 + doc_id % 99, doc_id % 100)
             AS total_value,
           '$' || printf('%d.%02d', 1 + doc_id % 77, doc_id % 100)
             AS alt_value,
           1::BIGINT AS n_alternatives
    FROM documents
    """)
def subtotal_penalty_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtotal x0.5 penalty + stable top-1 ranking (A4/A5/A8,
    fn-postprocess/main.py:83-87,119-123,143-148): the Subtotal
    candidate's halved confidence always loses to TOTAL and lands in
    Alternatives."""
    docs = _t(spark, sf_dir, "documents")
    tot = F.format_string("%d.%02d", 1 + F.col("doc_id") % 99,
                          F.col("doc_id") % 100)
    sub = F.format_string("%d.%02d", 1 + F.col("doc_id") % 77,
                          F.col("doc_id") % 100)
    payload = F.concat(
        F.lit('<html><body><div class="content"><p>Corner Store</p>'
              '<p>Subtotal: $'), sub,
        F.lit("</p><p>TOTAL: $"), tot,
        F.lit("</p></div></body></html>"))
    out = _run_extraction(_docs_as_turns(docs, payload))
    return out.select(
        "doc_id",
        F.col("model_result.total.value").alias("total_value"),
        F.expr("model_result.total.alternatives[0].value").alias("alt_value"),
        F.size("model_result.total.alternatives").cast("long")
         .alias("n_alternatives"))


@query(
    "extract_table_cells",
    oracle="""
    WITH g AS (
      SELECT doc_id, r.r AS row_idx, c.c AS col_idx
      FROM documents, (VALUES (0), (1)) r(r), (VALUES (0), (1)) c(c))
    SELECT doc_id, row_idx, col_idx,
           CASE WHEN row_idx = 0 AND col_idx = 0 THEN 'Item'
                WHEN row_idx = 0 AND col_idx = 1 THEN 'Price'
                WHEN row_idx = 1 AND col_idx = 0
                  THEN 'Widget ' || CAST(doc_id % 50 AS VARCHAR)
                ELSE '$' || printf('%d.%02d', 1 + doc_id % 30,
                                   doc_id % 100) END AS cell_text
    FROM g
    """)
def extract_table_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TABLE/CELL block extraction (SURVEY.md §1.2; the reference
    requests FeatureTypes=["FORMS","TABLES"],
    fn-call-textract/main.py:53-61): a constructed 2x2 HTML table per
    document must come back as CELL blocks with the exact
    (row_idx, col_idx) grid and cell texts."""
    docs = _t(spark, sf_dir, "documents")
    name = F.concat(F.lit("Widget "), (F.col("doc_id") % 50).cast("string"))
    price = F.concat(F.lit("$"), F.format_string(
        "%d.%02d", 1 + F.col("doc_id") % 30, F.col("doc_id") % 100))
    payload = F.concat(
        F.lit('<html><body><div class="content"><p>Corner Store</p>'
              '<table><tr><td>Item</td><td>Price</td></tr><tr><td>'),
        name, F.lit("</td><td>"), price,
        F.lit("</td></tr></table></div></body></html>"))
    out = _run_extraction(_docs_as_turns(docs, payload))
    cells = out.select(
        "doc_id", F.explode("blocks").alias("b")).filter(
        F.col("b.block_type") == "CELL")
    return cells.select(
        "doc_id",
        F.col("b.row_idx").alias("row_idx"),
        F.col("b.col_idx").alias("col_idx"),
        F.col("b.text").alias("cell_text"))


@query(
    "selection_elements",
    oracle="""
    SELECT doc_id,
           (CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END)::BIGINT
             AS n_selected,
           (CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END)::BIGINT
             AS n_not_selected
    FROM documents
    """)
def selection_elements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECTION_ELEMENT (checkbox) blocks — the review template's
    '-present' toggles (a2i-text-with-checkboxes.liquid.html:40-69)
    become SELECTED/NOT_SELECTED blocks: one box always checked, the
    second checked for even doc_ids only."""
    docs = _t(spark, sf_dir, "documents")
    second = F.when(F.col("doc_id") % 2 == 0, F.lit("[x]")) \
              .otherwise(F.lit("[ ]"))
    payload = F.concat(
        F.lit('<html><body><div class="content"><p>Corner Store</p>'
              '<p>[x] Tax present</p><p>'),
        second, F.lit(" Gift receipt</p></div></body></html>"))
    out = _run_extraction(_docs_as_turns(docs, payload))
    sels = out.select(
        "doc_id", F.explode("blocks").alias("b")).filter(
        F.col("b.block_type") == "SELECTION_ELEMENT")
    return sels.groupBy("doc_id").agg(
        F.sum(F.when(F.col("b.selection_status") == "SELECTED", 1)
              .otherwise(0)).cast("long").alias("n_selected"),
        F.sum(F.when(F.col("b.selection_status") == "NOT_SELECTED", 1)
              .otherwise(0)).cast("long").alias("n_not_selected"))


@query(
    "words_from_lines",
    oracle="""
    WITH t AS (SELECT doc_id,
                      string_split(text, ' ') AS toks FROM documents),
    w AS (
      SELECT doc_id,
             CAST(u.s.i AS INT) AS word_idx,
             u.s.w AS word,
             CAST(CASE WHEN u.s.i = 0 THEN 0
                  ELSE length(array_to_string(toks[1:CAST(u.s.i AS INT)],
                                              ' ')) + 1
                  END AS INT) AS word_start
      FROM t, unnest(list_transform(toks, (w, i) -> {'w': w, 'i': i - 1}))
             AS u(s))
    SELECT doc_id, word_idx, word, word_start,
           CAST(word_start + length(word) AS INT) AS word_end,
           CAST(word_start + """ + str(len(_PRE)) + """ AS INT)
             AS word_abs_start,
           CAST(word_start + length(word) + """ + str(len(_PRE)) + """
                AS INT) AS word_abs_end
    FROM w
    """)
def words_from_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived WORD blocks (Block-model parity, SURVEY.md §1.2): LINE
    text split into per-word rows with cumulative in-line char offsets
    — native split + aggregate + posexplode, no Python, no shuffle
    (engine.udfs.words_table). Payloads are HTML-wrapped (the constant
    chrome of extract_html_boilerplate_strip), so the content LINE's
    char_start is len(_PRE) and the word_abs_start/word_abs_end
    columns are exercised non-trivially: they must index into the
    ORIGINAL payload (payload[abs_start:abs_end] == word), which the
    oracle states as rel + len(_PRE)."""
    from .udfs import extract_turns, words_table
    docs = _t(spark, sf_dir, "documents")
    payload = F.concat(F.lit(_PRE), F.col("text"), F.lit(_POST))
    turns = _docs_as_turns(docs, payload)
    ids = turns.select("conv_id", "doc_id")
    words = (words_table(extract_turns(turns.drop("doc_id"), salt=4))
             .filter(F.col("is_content")))
    return (words.join(F.broadcast(ids), "conv_id")
            .select("doc_id", "word_idx", "word",
                    F.col("word_start").cast("int").alias("word_start"),
                    F.col("word_end").cast("int").alias("word_end"),
                    F.col("word_abs_start").cast("int")
                     .alias("word_abs_start"),
                    F.col("word_abs_end").cast("int")
                     .alias("word_abs_end")))


# A data-URI PDF that passes the quality sniff (%PDF header + endobj)
# but whose /FlateDecode stream is not zlib data => the extractor
# raises PdfParseError past the gate => status 'model_error'.
_BAD_FLATE_PDF = ("data:application/pdf;base64,"
                  "JVBERi0xLjQKMSAwIG9iaiA8PCAvRmlsdGVyIC9GbGF0ZURlY29k"
                  "ZSAvTGVuZ3RoIDggPj4gc3RyZWFtCk5PVFpMSUIhCmVuZHN0cmVh"
                  "bSBlbmRvYmoKdHJhaWxlcgolJUVPRgo=")


@query(
    "error_taxonomy_routing",
    oracle="""
    SELECT CASE doc_id % 5
             WHEN 0 THEN 'rejected' WHEN 1 THEN 'rejected'
             WHEN 2 THEN 'malformed' WHEN 3 THEN 'model_error'
             ELSE 'ok' END AS status,
           CASE doc_id % 5
             WHEN 3 THEN 'pdf' WHEN 4 THEN 'plain'
             ELSE 'bad' END AS kind,
           count(*)::BIGINT AS n
    FROM documents GROUP BY 1, 2
    """)
def error_taxonomy_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed error taxonomy (SURVEY.md §1.4, core.blocks): empty and
    truncated payloads are 'rejected' (PoorQualityImage analog,
    fn-preprocess/main.py:22-25), a broken base64 envelope is
    'malformed' (MalformedRequest, main.py:26-29), and a PDF that
    decodes and sniffs fine but dies mid-parse is 'model_error' —
    distinguishable from a rejected upload."""
    docs = _t(spark, sf_dir, "documents")
    payload = (
        F.when(F.col("doc_id") % 5 == 0, F.lit(""))
        .when(F.col("doc_id") % 5 == 1, F.lit("<html><p>truncated"))
        .when(F.col("doc_id") % 5 == 2,
              F.lit("data:application/pdf;base64,!!!not-base64"))
        .when(F.col("doc_id") % 5 == 3, F.lit(_BAD_FLATE_PDF))
        .otherwise(F.col("text")))
    out = _run_extraction(_docs_as_turns(docs, payload))
    return out.groupBy("status", "kind").agg(
        F.count("*").cast("long").alias("n"))


@query(
    "review_failed_ingestion",
    oracle="""
    SELECT CASE WHEN doc_id % 4 = 2 THEN 'review_failed'
                ELSE 'ok' END AS status,
           (doc_id % 4 = 3) AS reviewed,
           count(*)::BIGINT AS n
    FROM documents GROUP BY 1, 2
    """)
def review_failed_ingestion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Review-ingestion hygiene as real code paths (P10/P11 +
    ReviewFailed, fn-human-review-callback/main.py:24-30,46-59,81-96):
    non-.json feed rows are dropped, token-less rows are dropped (both
    leave the turn unreviewed), answer-less rows fail the turn with
    status 'review_failed', and clean rows override as usual."""
    from .review import apply_reviews, ingest_reviews
    docs = _t(spark, sf_dir, "documents")
    turns = _docs_as_turns(docs, F.col("text"))
    m = F.col("doc_id") % 4
    raw = turns.select(
        "conv_id", "turn_idx",
        F.when(m == 0, F.lit("export.txt")).otherwise(F.lit("review.json"))
         .alias("source_key"),
        F.when(m == 1, F.lit(None).cast("string"))
         .otherwise(F.concat(F.lit("tok-"), F.col("conv_id")))
         .alias("task_token"),
        F.lit("Reviewed Vendor").alias("vendor"),
        F.lit("2020-07-07").alias("date"),
        F.lit("64.30").alias("total"),
        F.lit(None).cast("string").alias("tax"),
        F.when(m == 2, F.lit(None).cast("string"))
         .otherwise(F.lit("worker-0001")).alias("worker_id"),
        F.col("ts").alias("review_ts"))
    valid, failed = ingest_reviews(raw)
    results = turns.select(
        "conv_id", "turn_idx", F.lit("ok").alias("status"),
        F.expr("""cast(null AS struct<
            date:struct<confidence:double,value:string>,
            total:struct<confidence:double,value:string>,
            vendor:struct<confidence:double,value:string>,
            confidence:double>)""").alias("model_result"))
    out = apply_reviews(results, valid, failed_reviews=failed)
    return out.groupBy("status", "reviewed").agg(
        F.count("*").cast("long").alias("n"))


@query(
    "j3_tax_override",
    oracle="""
    SELECT doc_id,
           (doc_id % 3 = 0) AS reviewed,
           CASE WHEN doc_id % 3 = 0 THEN
             CASE WHEN doc_id % 2 = 0
                  THEN printf('%d.%02d', 1 + doc_id % 20, doc_id % 100)
                  ELSE '' END
           END AS tax_value,
           CASE WHEN doc_id % 3 = 0 THEN
             CASE WHEN doc_id % 2 = 0 THEN 100.0 ELSE 0.0 END
           END AS tax_conf
    FROM documents
    """)
def j3_tax_override(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optional review ``tax`` answer through the override join (the
    form's tax row, a2i-text-with-checkboxes.liquid.html): answered
    tax => confidence 100 + verbatim value; reviewed-but-unanswered =>
    confidence 0 + empty value (the unchecked '-present' box
    semantics); unreviewed turns carry no final_result here (null
    model_result input)."""
    from .review import apply_reviews
    docs = _t(spark, sf_dir, "documents")
    turns = _docs_as_turns(docs, F.col("text"))
    reviews = (turns.filter(F.col("doc_id") % 3 == 0).select(
        "conv_id", "turn_idx",
        F.lit("Vendor Co").alias("vendor"),
        F.lit("2020-07-07").alias("date"),
        F.lit("64.30").alias("total"),
        F.when(F.col("doc_id") % 2 == 0,
               F.format_string("%d.%02d", 1 + F.col("doc_id") % 20,
                               F.col("doc_id") % 100))
         .otherwise(F.lit(None).cast("string")).alias("tax"),
        F.lit("worker-0001").alias("worker_id"),
        F.col("ts").alias("review_ts")))
    results = turns.select(
        "conv_id", "turn_idx", "doc_id", F.lit("ok").alias("status"),
        F.expr("""cast(null AS struct<
            date:struct<confidence:double,value:string>,
            total:struct<confidence:double,value:string>,
            vendor:struct<confidence:double,value:string>,
            confidence:double>)""").alias("model_result"))
    out = apply_reviews(results, reviews)
    return out.select(
        "doc_id", "reviewed",
        F.col("final_result.tax.value").alias("tax_value"),
        F.col("final_result.tax.confidence").alias("tax_conf"))


# ---------------------------------------------------------------------------
# 2. Generic operator queries over the TPC-H-ish tables

@query(
    "p_filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 25
    """)
def p_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + predicate pushdown (P3-P6 family; pushed to the
    parquet scan — .explain shows PushedFilters)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li
            .filter((F.col("l_shipdate") >= "1995-01-01")
                    & F.col("l_discount").between(0.02, 0.06)
                    & (F.col("l_quantity") < 25))
            .select("l_orderkey", "l_linenumber",
                    (F.col("l_extendedprice")
                     * (1 - F.col("l_discount"))).alias("revenue")))


@query(
    "j1_containment_join",
    oracle="""
    SELECT p.p_partkey, t.term
    FROM part p
    JOIN (VALUES ('eco'), ('small'), ('med')) AS t(term)
      ON position(t.term IN lower(p.p_type)) > 0
    """)
def j1_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-text containment theta join (J1): the searchFieldsByKey
    analog — tiny terms dim broadcast, non-equi contains predicate
    => BroadcastNestedLoopJoin (fn-postprocess/main.py:65-66). Terms
    are strict substrings of real p_type values ('eco' in 'economy')
    so the match set is non-empty and the containment (not equality)
    semantics are what the oracle checks."""
    part = _t(spark, sf_dir, "part")
    # JVM-native tiny dim (no Python RDD round-trip): VALUES-style
    terms = spark.range(1).select(F.explode(F.array(
        F.lit("eco"), F.lit("small"), F.lit("med"))).alias("term"))
    return (part.join(F.broadcast(terms),
                      F.expr("contains(lower(p_type), term)"))
            .select("p_partkey", "term"))


@query(
    "j3_override_left_join",
    oracle="""
    SELECT o.o_orderkey,
           coalesce(c.c_name, 'unreviewed') AS final_name,
           (c.c_name IS NOT NULL) AS reviewed
    FROM orders o
    LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 5000) c
      ON o.o_custkey = c.c_custkey
    """)
def j3_override_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Human-review override join (J3): left outer equi-join against a
    small dimension + coalesce override (SmartOCR.vue:190-211);
    broadcast-hash on the review side."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    return (orders.join(F.broadcast(cust),
                        orders.o_custkey == cust.c_custkey, "left")
            .select("o_orderkey",
                    F.coalesce("c_name", F.lit("unreviewed"))
                     .alias("final_name"),
                    F.col("c_name").isNotNull().alias("reviewed")))


@query(
    "a1_first_line_vendor",
    oracle="""
    SELECT l_orderkey,
           min_by(l_partkey,
                  l_linenumber * 1e9 + l_partkey) AS first_part,
           min_by(l_extendedprice,
                  l_linenumber * 1e9 + l_extendedprice) AS first_price
    FROM lineitem GROUP BY l_orderkey
    """)
def a1_first_line_vendor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-by-order aggregation (A1: first LINE = vendor,
    fn-postprocess/main.py:49-56) as a hash agg min_by — no window
    shuffle-and-sort needed."""
    li = _t(spark, sf_dir, "lineitem")
    # composite tie-break key: l_linenumber is not unique per order in
    # the synthetic data, so 'first' is (linenumber, then value)
    return li.groupBy("l_orderkey").agg(
        F.min_by("l_partkey",
                 F.col("l_linenumber") * 1e9 + F.col("l_partkey"))
         .alias("first_part"),
        F.min_by("l_extendedprice",
                 F.col("l_linenumber") * 1e9 + F.col("l_extendedprice"))
         .alias("first_price"))


@query(
    "a2_ordered_concat",
    oracle="""
    SELECT l_orderkey,
           string_agg(l_returnflag, ' '
                      ORDER BY l_linenumber, l_returnflag) AS flags
    FROM lineitem GROUP BY l_orderkey
    """)
def a2_ordered_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive string concat (A2: the reference's text
    accumulation fn-postprocess/main.py:57-60) via
    collect_list+array_sort — partial/final hash agg, no sort
    exchange."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(F.expr("""
        array_join(transform(
          array_sort(collect_list(struct(l_linenumber, l_returnflag))),
          x -> x.l_returnflag), ' ')""").alias("flags"))


@query(
    "w2_top1_ranking",
    oracle="""
    SELECT user_id, event_id AS top_event, value AS top_value
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                 ORDER BY value DESC, ts ASC, event_id ASC) AS rn
          FROM events) WHERE rn = 1
    """)
def w2_top1_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1-by-confidence ranking with stable tie-break (W2/A4,
    fn-postprocess/main.py:119-123)."""
    from pyspark.sql.window import Window
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("value"), F.asc("ts"), F.asc("event_id"))
    return (ev.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", F.col("event_id").alias("top_event"),
                    F.col("value").alias("top_value")))


@query(
    "a6_composite_min",
    oracle="""
    SELECT l_orderkey,
           least(min(l_quantity), min(l_discount * 100),
                 min(l_tax * 100)) AS composite_conf
    FROM lineitem GROUP BY l_orderkey
    """)
def a6_composite_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite confidence = row-wise min across fields (A6/A7,
    fn-postprocess/main.py:140-142)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.least(F.min("l_quantity"), F.min(F.col("l_discount") * 100),
                F.min(F.col("l_tax") * 100)).alias("composite_conf"))


@query(
    "a8_conditional_penalty",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice *
             (CASE WHEN contains(lower(l_returnflag), 'r')
                   THEN 0.5 ELSE 1.0 END) AS penalized
    FROM lineitem
    """)
def a8_conditional_penalty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional confidence penalty (A8: x0.5 when 'sub' in key,
    fn-postprocess/main.py:83-87)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber",
        (F.col("l_extendedprice")
         * F.when(F.lower("l_returnflag").contains("r"), 0.5)
            .otherwise(1.0)).alias("penalized"))


@query(
    "w4_latest_event_wins",
    oracle="""
    SELECT user_id, event_id AS last_event, event_type AS last_type,
           strftime(ts, '%Y-%m-%d-%H-%M-%S') AS last_ts_str
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                 ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) WHERE rn = 1
    """)
def w4_latest_event_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-event-wins dedup (W4/P13, SmartOCR.vue:188-189) + the
    reference's timestamp formatting (F10)."""
    from pyspark.sql.window import Window
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id"))
    return (ev.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", F.col("event_id").alias("last_event"),
                    F.col("event_type").alias("last_type"),
                    F.date_format("ts", "yyyy-MM-dd-HH-mm-ss")
                     .alias("last_ts_str")))


@query(
    "a12_confidence_histogram",
    oracle="""
    SELECT cast(floor(value / 10) AS BIGINT) AS bucket,
           count(*)::BIGINT AS n
    FROM events GROUP BY 1
    """)
def a12_confidence_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition metrics histogram shape (A12, north rule:
    confidence histograms in lineage manifests)."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy(F.floor(F.col("value") / 10).cast("long")
                       .alias("bucket"))
            .agg(F.count("*").cast("long").alias("n")))


@query(
    "u1_union_fallback",
    oracle="""
    WITH prim AS (
      SELECT o_custkey, o_orderkey FROM orders WHERE o_orderstatus = 'O')
    SELECT o_custkey AS custkey, 'primary' AS source, o_orderkey
    FROM prim
    UNION ALL
    SELECT o.o_custkey, 'fallback', o.o_orderkey
    FROM orders o
    WHERE o.o_orderstatus = 'F'
      AND NOT EXISTS (SELECT 1 FROM prim p
                      WHERE p.o_custkey = o.o_custkey)
    """)
def u1_union_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-source union with count-gated fallback (U1/A10,
    fn-postprocess/main.py:93-117): fallback rows only for keys with
    zero primary candidates — anti-join gate, not a per-row branch."""
    orders = _t(spark, sf_dir, "orders")
    prim = (orders.filter(F.col("o_orderstatus") == "O")
            .select("o_custkey", "o_orderkey"))
    fb = (orders.filter(F.col("o_orderstatus") == "F")
          .join(prim.select("o_custkey").distinct(), "o_custkey",
                "left_anti")
          .select("o_custkey", "o_orderkey"))
    return (prim.select(F.col("o_custkey").alias("custkey"),
                        F.lit("primary").alias("source"), "o_orderkey")
            .unionByName(
                fb.select(F.col("o_custkey").alias("custkey"),
                          F.lit("fallback").alias("source"),
                          "o_orderkey")))


@query(
    "f_string_functions",
    oracle=r"""
    SELECT p_partkey, lower(p_name) AS name_lower,
           (position('steel' IN lower(p_type)) > 0) AS is_steel,
           regexp_replace(p_name, '[aeiou]', '', 'g') AS consonants,
           regexp_extract(p_name, '([^ ]+)$', 1) AS last_word,
           regexp_replace(p_brand, '^Brand#', '') AS brand_num
    FROM part
    """)
def f_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string-function surface (F1-F8: lower, containment,
    regex sanitize chain, filename-tail split, $-strip)."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey", F.lower("p_name").alias("name_lower"),
        F.lower("p_type").contains("steel").alias("is_steel"),
        F.regexp_replace("p_name", "[aeiou]", "").alias("consonants"),
        F.regexp_extract("p_name", "([^ ]+)$", 1).alias("last_word"),
        F.regexp_replace("p_brand", "^Brand#", "").alias("brand_num"))


@query(
    "p5_numeric_predicate",
    oracle=r"""
    SELECT doc_id,
           CASE WHEN doc_id % 4 = 0
                  THEN '$' || printf('%d.%02d', doc_id % 50, doc_id % 100)
                WHEN doc_id % 4 = 1 THEN '  7.25 '
                WHEN doc_id % 4 = 2 THEN 'n/a'
                ELSE printf('%de2', doc_id % 9) END AS raw_value,
           try_cast(regexp_replace(
             CASE WHEN doc_id % 4 = 0
                    THEN '$' || printf('%d.%02d', doc_id % 50, doc_id % 100)
                  WHEN doc_id % 4 = 1 THEN '  7.25 '
                  WHEN doc_id % 4 = 2 THEN 'n/a'
                  ELSE printf('%de2', doc_id % 9) END,
             '^\$+', '') AS DOUBLE) AS parsed
    FROM documents
    """)
def p5_numeric_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric-value predicate (P5/F3/F4: float(value.lstrip('$'))
    with failure => null/drop, fn-postprocess/main.py:74-91)."""
    docs = _t(spark, sf_dir, "documents")
    raw = (F.when(F.col("doc_id") % 4 == 0,
                  F.concat(F.lit("$"),
                           F.format_string("%d.%02d", F.col("doc_id") % 50,
                                           F.col("doc_id") % 100)))
           .when(F.col("doc_id") % 4 == 1, F.lit("  7.25 "))
           .when(F.col("doc_id") % 4 == 2, F.lit("n/a"))
           .otherwise(F.format_string("%de2", F.col("doc_id") % 9)))
    return (docs.select("doc_id", raw.alias("raw_value"))
            .withColumn("parsed",
                        F.expr("try_cast(regexp_replace(raw_value,"
                               " '^\\\\$+', '') AS DOUBLE)")))


@query(
    "a3_candidates_alternatives",
    oracle="""
    WITH c AS (
      SELECT l_orderkey,
             list(l_partkey ORDER BY l_extendedprice DESC,
                  l_partkey DESC) AS pks
      FROM lineitem GROUP BY l_orderkey)
    SELECT l_orderkey, pks[1] AS top_pk,
           coalesce(array_to_string(pks[2:4], ','), '') AS alt_pks,
           len(pks)::BIGINT AS n_cands
    FROM c
    """)
def a3_candidates_alternatives(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Candidate collection + top-1 + alternatives = rest of ranking
    (A3/A4/A5, fn-postprocess/main.py:119-148): collect_list ->
    order-sensitive sort (desc conf, stable tiebreak) -> rank 1 is
    the result, ranks 2..4 the Alternatives list."""
    li = _t(spark, sf_dir, "lineitem")
    cands = li.groupBy("l_orderkey").agg(
        F.reverse(F.array_sort(F.collect_list(F.struct(
            F.col("l_extendedprice").alias("conf"),
            F.col("l_partkey").alias("pk"))))).alias("cands"))
    return cands.select(
        "l_orderkey",
        F.expr("cands[0].pk").alias("top_pk"),
        F.expr("array_join(transform(slice(cands, 2, 3),"
               " x -> string(x.pk)), ',')").alias("alt_pks"),
        F.size("cands").cast("long").alias("n_cands"))


@query(
    "j4_broadcast_dim_join",
    oracle="""
    SELECT e.event_id, n.n_name AS owner_nation
    FROM events e JOIN nation n
      ON n.n_nationkey = e.user_id % 25
    """)
def j4_broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ownership-lookup dimension join (J4/S8: ExecutionId ->
    identity via cached DynamoDB lookup, fn-notify-progress/
    main.py:82-131): a stream of events equi-joined to a broadcast
    dimension — BroadcastHashJoin, no shuffle of the fact side."""
    e = _t(spark, sf_dir, "events")
    n = _t(spark, sf_dir, "nation")
    return (e.join(F.broadcast(n),
                   n.n_nationkey == e.user_id % 25)
            .select("event_id", F.col("n_name").alias("owner_nation")))


@query(
    "a11_first_answer_reduce",
    oracle="""
    SELECT user_id, event_id AS first_event_id,
           event_type AS first_type
    FROM (SELECT user_id, event_id, event_type,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS rn
          FROM events) WHERE rn = 1
    """)
def a11_first_answer_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Review-answer reduce: first of N answers taken
    (humanAnswers[0], fn-human-review-callback/main.py:61-69) —
    row_number over (key, event-time) = 1, deterministic tiebreak."""
    from pyspark.sql.window import Window
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (e.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", F.col("event_id").alias("first_event_id"),
                    F.col("event_type").alias("first_type")))


@query(
    "streaming_extract_availablenow",
    oracle="""
    SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 10, '0') AS conv_id,
           0::INTEGER AS turn_idx, 'ok' AS status, 'plain' AS kind,
           text AS main_text
    FROM documents WHERE doc_id < 200
    """)
def streaming_extract_availablenow(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Structured Streaming mode end-to-end (SURVEY.md §2.9): the
    documents table becomes a file-source stream (two parquet chunks
    = two arrival waves), drained with trigger(availableNow) through
    the same extraction stages as the batch path into a checkpointed
    exactly-once parquet sink; returns the sink contents. The output
    over plain-text docs is exactly predictable (identity extraction,
    like ``extract_plain_identity``), so the oracle is a plain SELECT.
    Checkpoint-resume + batch-equality semantics are asserted in
    tests/test_streaming.py."""
    from ..streaming.stream import start_to_parquet, streaming_pipeline
    from .schemas import TRANSCRIPTS_SCHEMA
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    turns = _docs_as_turns(docs, F.col("text")).drop("doc_id")
    last = F.col("conv_id").substr(-1, 1)
    with _scratch("stream_q_") as base:
        stream = _stage_waves(spark, base,
                              [("a", turns.filter(last < "5")),
                               ("b", turns.filter(last >= "5"))],
                              TRANSCRIPTS_SCHEMA, max_files=32)
        results = streaming_pipeline(stream, salt=4, watermark="3650 days")
        _drain(start_to_parquet(results, os.path.join(base, "out"),
                                os.path.join(base, "ckpt")))
        rows = (spark.read.schema(results.schema)
                .parquet(os.path.join(base, "out"))
                .select("conv_id", "turn_idx", "status", "kind",
                        "main_text").collect())
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, status string,"
              " kind string, main_text string")


def _drain_stream_to_rows(spark: SparkSession, input_df: DataFrame,
                          op, out_schema: str) -> DataFrame:
    """Stage ``input_df`` as a one-file stream, drain it through the
    stateful operator ``op`` into a checkpointed parquet sink, and
    return the collected rows. Used by ``streaming_ttl_cache`` and
    ``streaming_review_wait``."""
    from ..streaming.stream import start_to_parquet
    with _scratch("stateful_q_") as base:
        stream = _stage_waves(spark, base, [("in", input_df)],
                              input_df.schema)
        _drain(start_to_parquet(op(stream), os.path.join(base, "out"),
                                os.path.join(base, "ckpt")))
        rows = (spark.read.schema(out_schema)
                .parquet(os.path.join(base, "out")).collect())
    return spark.createDataFrame(rows, schema=out_schema)


_TTL_EPOCH = 1767225600  # 2026-01-01 00:00:00 UTC


@query(
    "streaming_ttl_cache",
    oracle=f"""
    WITH ev AS (
      SELECT 'e' || CAST(doc_id % 12 AS VARCHAR) AS exec_id,
             {_TTL_EPOCH} + (doc_id // 12) * 172800
                          + (doc_id % 12) * 60 AS ts_sec,
             CASE WHEN (doc_id // 12) % 3 = 0
                  THEN 'o' || CAST(doc_id % 12 AS VARCHAR) || '-'
                           || CAST(doc_id // 12 AS VARCHAR) END AS owner_in
      FROM documents WHERE doc_id < 120),
    w AS (
      SELECT exec_id, ts_sec, owner_in,
        last_value(CASE WHEN owner_in IS NOT NULL THEN ts_sec END
                   IGNORE NULLS)
          OVER (PARTITION BY exec_id ORDER BY ts_sec
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS lr_ts,
        last_value(owner_in IGNORE NULLS)
          OVER (PARTITION BY exec_id ORDER BY ts_sec
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS lr_owner
      FROM ev)
    SELECT exec_id, ts_sec::BIGINT AS ts_sec,
           coalesce(CASE WHEN ts_sec - lr_ts <= 259200
                         THEN lr_owner END, '') AS owner,
           CASE WHEN owner_in IS NULL AND lr_ts IS NOT NULL
                     AND ts_sec - lr_ts <= 259200
                THEN true ELSE false END AS owner_from_cache
    FROM w
    """)
def streaming_ttl_cache(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed TTL cache (T4) as a DRIVER-ORACLED streaming query: a
    deterministic event stream (12 keys x 10 events, learns every 3rd
    event = every 6 days, TTL 3 days — so lookups alternate warm hit /
    expired miss) drains through the real applyInPandasWithState
    operator (streaming/state.py enrich_with_keyed_ttl_cache); the
    oracle replays the event-time TTL semantics in plain SQL (owner =
    last learn within TTL). Timestamps surface as epoch seconds so
    the comparison is timezone-free."""
    from ..streaming.state import enrich_with_keyed_ttl_cache
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    seq = (F.col("doc_id") / 12).cast("long")
    key = F.col("doc_id") % 12
    events = docs.select(
        F.concat(F.lit("e"), key.cast("string")).alias("exec_id"),
        F.timestamp_seconds(F.lit(_TTL_EPOCH) + seq * 172800
                            + key * 60).alias("ts"),
        F.when(seq % 3 == 0,
               F.concat(F.lit("o"), key.cast("string"), F.lit("-"),
                        seq.cast("string"))).alias("owner"))
    out = _drain_stream_to_rows(
        spark, events,
        lambda s: enrich_with_keyed_ttl_cache(s, ttl_seconds=259200),
        "exec_id string, ts timestamp, owner string,"
        " owner_from_cache boolean")
    return out.select(
        "exec_id", F.col("ts").cast("long").alias("ts_sec"),
        F.coalesce("owner", F.lit("")).alias("owner"),
        "owner_from_cache")


@query(
    "streaming_review_wait",
    oracle="""
    SELECT 'c' || CAST(doc_id AS VARCHAR) AS conv_id,
           0::INTEGER AS turn_idx,
           (doc_id % 4) IN (0, 3) AS reviewed,
           (doc_id % 4) IN (1, 2) AS timed_out,
           CASE WHEN doc_id % 4 IN (0, 3)
                THEN 'V' || CAST(doc_id AS VARCHAR) ELSE '' END AS vendor,
           CASE WHEN doc_id % 4 IN (0, 3)
                THEN '2021-03-04' ELSE '' END AS date,
           CASE WHEN doc_id % 4 IN (0, 3)
                THEN '$9.99' ELSE '' END AS total,
           CASE WHEN doc_id % 4 IN (0, 3)
                THEN 'w' || CAST(doc_id AS VARCHAR) ELSE '' END
             AS worker_id
    FROM documents WHERE doc_id < 60
    """)
def streaming_review_wait(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed wait-for-review with timeout (T3) as a DRIVER-ORACLED
    streaming query — the waitForTaskToken park
    (StateMachine.asl.json:66-82, TimeoutSeconds 3600). 60 turns
    enter the wait; by doc_id % 4 the review (a) arrives 600s after
    the result => matched, (b) arrives 7200s after => past the
    event-time deadline, expired => timed_out, (c) never arrives =>
    timed_out, (d) arrives 300s BEFORE the result (out-of-order token
    round-trip) => held and matched. A far-future sentinel result
    pushes the watermark past every deadline so the timeouts fire in
    the drain (the sentinel itself stays parked and emits nothing).
    The oracle states the event-time semantics in plain SQL."""
    from ..streaming.state import (WAIT_OUTPUT_SCHEMA,
                                   review_wait_with_timeout)
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    conv = F.concat(F.lit("c"), F.col("doc_id").cast("string"))
    r_ts = F.lit(_TTL_EPOCH) + F.col("doc_id") * 60
    mode = F.col("doc_id") % 4
    results = docs.select(
        conv.alias("conv_id"), F.lit(0).cast("int").alias("turn_idx"),
        F.timestamp_seconds(r_ts).alias("ts"),
        F.lit("result").alias("kind"),
        F.lit(None).cast("string").alias("vendor"),
        F.lit(None).cast("string").alias("date"),
        F.lit(None).cast("string").alias("total"),
        F.lit(None).cast("string").alias("worker_id"))
    rev_ts = (F.when(mode == 0, r_ts + 600)
              .when(mode == 1, r_ts + 7200)
              .otherwise(r_ts - 300))
    reviews = docs.filter(mode != 2).select(
        conv.alias("conv_id"), F.lit(0).cast("int").alias("turn_idx"),
        F.timestamp_seconds(rev_ts).alias("ts"),
        F.lit("review").alias("kind"),
        F.concat(F.lit("V"), F.col("doc_id").cast("string"))
         .alias("vendor"),
        F.lit("2021-03-04").alias("date"),
        F.lit("$9.99").alias("total"),
        F.concat(F.lit("w"), F.col("doc_id").cast("string"))
         .alias("worker_id"))
    sentinel = spark.range(1).select(
        F.lit("c-sentinel").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.timestamp_seconds(F.lit(_TTL_EPOCH + 100000)).alias("ts"),
        F.lit("result").alias("kind"),
        F.lit(None).cast("string").alias("vendor"),
        F.lit(None).cast("string").alias("date"),
        F.lit(None).cast("string").alias("total"),
        F.lit(None).cast("string").alias("worker_id"))
    tagged = results.unionByName(reviews).unionByName(sentinel)
    out = _drain_stream_to_rows(
        spark, tagged,
        lambda s: review_wait_with_timeout(s, timeout_seconds=3600),
        WAIT_OUTPUT_SCHEMA)
    return out.select(
        "conv_id", "turn_idx", "reviewed", "timed_out",
        F.coalesce("vendor", F.lit("")).alias("vendor"),
        F.coalesce("date", F.lit("")).alias("date"),
        F.coalesce("total", F.lit("")).alias("total"),
        F.coalesce("worker_id", F.lit("")).alias("worker_id"))


# ---------------------------------------------------------------------------
# 3. Training-data pipeline operators (datapipe) — dedup, similarity,
#    text analysis, multimodal plumbing

@query(
    "dedup_exact",
    oracle=r"""
    SELECT md5(lower(regexp_replace(trim(
             CASE WHEN doc_id % 5 = 0
                  THEN 'shared duplicate content block'
                  ELSE text END), '\s+', ' ', 'g'))) AS content_hash,
           min(doc_id) AS keep_id, count(*)::BIGINT AS n_dups
    FROM documents GROUP BY 1
    """)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on normalized content (one shuffle on
    a 16-byte digest). Duplicates are planted so the grouping is
    exercised."""
    from ..datapipe.dedup import exact_dedup
    docs = _t(spark, sf_dir, "documents").withColumn(
        "text", F.when(F.col("doc_id") % 5 == 0,
                       F.lit("shared duplicate content block"))
                 .otherwise(F.col("text")))
    return exact_dedup(docs)


@query(
    "dedup_minhash_lsh",
    oracle=r"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text || ' extra trailing words appended'
      FROM documents WHERE doc_id % 3 = 0),
    t AS (SELECT doc_id,
        string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                     ' ') AS toks FROM corpus),
    s AS (SELECT doc_id,
        list_distinct(list_transform(
          range(0, greatest(len(toks) - 3, 0) + 1),
          i -> array_to_string(toks[(i + 1):(i + 3)], ' '))) AS sh
      FROM t)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(floor(1000000 * len(list_intersect(a.sh, b.sh))
                / CAST(len(list_distinct(list_concat(a.sh, b.sh)))
                       AS DOUBLE)) AS BIGINT) AS jaccard_bp
    FROM s a, s b
    WHERE a.doc_id < b.doc_id
      AND len(list_intersect(a.sh, b.sh))
          / CAST(len(list_distinct(list_concat(a.sh, b.sh)))
                 AS DOUBLE) >= 0.5
    """)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs with planted near-duplicates
    (doc k+1000000 = doc k's text + a few extra words, k % 3 == 0).
    Banded signatures, bucket join, exact-Jaccard verification within
    candidates only — so precision is exact by construction and the
    oracle question is pure recall. The oracle is DuckDB's brute-force
    3-gram Jaccard >= 0.5 pair set over the same corpus: banded recall
    is total here (verified: min Jaccard in the >= 0.5 set is 0.733 at
    sf0.01; with 32 bands x 2 rows the per-pair miss probability at
    J=0.733 is ~2e-11, and the xxhash64 pipeline is deterministic so
    the measured 100% recall is reproducible, not sampled). Brute
    recall cross-check also in tests/test_datapipe.py."""
    from ..datapipe.dedup import minhash_dedup_pairs
    docs = _t(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text")
    near = (docs.filter(F.col("doc_id") % 3 == 0)
            .select((F.col("doc_id") + 1000000).alias("doc_id"),
                    F.concat(F.col("text"),
                             F.lit(" extra trailing words appended"))
                     .alias("text")))
    # 32 hashes x 16 bands keeps rows-per-band = 2 (same recall knee
    # as 64x32) at half the signature cost; recall on this corpus
    # stays total (deterministic, re-checked by the oracle itself)
    pairs = minhash_dedup_pairs(base.unionByName(near), threshold=0.5,
                                num_hashes=32, bands=16)
    return pairs.select(
        "id_a", "id_b",
        F.floor(F.lit(1000000) * F.col("jaccard")).cast("long")
         .alias("jaccard_bp"))


@query(
    "dedup_incremental",
    oracle=r"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 4 != 0),
    batch AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0
      UNION ALL
      SELECT doc_id + 1000000, text || ' extra trailing words appended'
      FROM documents WHERE doc_id % 8 = 1
      UNION ALL
      SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 8 = 4),
    cs AS (SELECT doc_id, list_distinct(list_transform(
          range(0, greatest(len(toks) - 3, 0) + 1),
          i -> array_to_string(toks[(i + 1):(i + 3)], ' '))) AS sh
      FROM (SELECT doc_id, string_split(lower(regexp_replace(trim(text),
            '\s+', ' ', 'g')), ' ') AS toks FROM corpus)),
    bs AS (SELECT doc_id, list_distinct(list_transform(
          range(0, greatest(len(toks) - 3, 0) + 1),
          i -> array_to_string(toks[(i + 1):(i + 3)], ' '))) AS sh
      FROM (SELECT doc_id, string_split(lower(regexp_replace(trim(text),
            '\s+', ' ', 'g')), ' ') AS toks FROM batch)),
    rel AS (
      SELECT b.doc_id, c.doc_id AS match_id,
             len(list_intersect(b.sh, c.sh))
             / CAST(len(list_distinct(list_concat(b.sh, c.sh)))
                    AS DOUBLE) AS jac,
             'corpus' AS match_src
      FROM bs b, cs c WHERE c.doc_id != b.doc_id
      UNION ALL
      SELECT b.doc_id, a.doc_id AS match_id,
             len(list_intersect(b.sh, a.sh))
             / CAST(len(list_distinct(list_concat(b.sh, a.sh)))
                    AS DOUBLE) AS jac,
             'batch' AS match_src
      FROM bs b, bs a WHERE a.doc_id < b.doc_id)
    SELECT doc_id, match_id,
           CAST(floor(1000000 * jac) AS BIGINT) AS jaccard_bp, match_src
    FROM rel WHERE jac >= 0.5
    """)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental snapshot dedup (datapipe/dedup.py
    build_minhash_index + incremental_dedup_pairs): 75% of documents
    form the frozen corpus whose signature index is built once; the
    batch is the remaining 25% plus planted corpus near-dups
    (doc k+1000000 = corpus doc k's text + extra words, k % 8 == 1)
    and planted within-batch exact dups (doc k+2000000 = batch doc
    k's text, k % 8 == 4). The batch probes the index via banded LSH
    (batch side broadcast — the corpus never shuffles) and verifies
    exact Jaccard within candidates, so precision is exact and the
    oracle question is recall: DuckDB brute-forces 3-gram Jaccard
    >= 0.5 for batch x corpus and batch x smaller-batch-id; banded
    recall is total on this corpus (same 16-band x 2-row knee as
    dedup_minhash_lsh, whose minimum true-pair Jaccard is 0.733)."""
    from ..datapipe.dedup import (build_minhash_index,
                                  incremental_dedup_pairs)
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 4 != 0).select("doc_id", "text")
    batch = (docs.filter(F.col("doc_id") % 4 == 0)
             .select("doc_id", "text")
             .unionByName(
                 docs.filter(F.col("doc_id") % 8 == 1)
                 .select((F.col("doc_id") + 1000000).alias("doc_id"),
                         F.concat(F.col("text"),
                                  F.lit(" extra trailing words appended"))
                          .alias("text")))
             .unionByName(
                 docs.filter(F.col("doc_id") % 8 == 4)
                 .select((F.col("doc_id") + 2000000).alias("doc_id"),
                         "text")))
    # the index stands in for a STORED snapshot table (at scale it is
    # parquet written once per corpus version); persist so its two
    # consumers (band probe + Jaccard verify) don't re-run the corpus
    # signature pipeline — measured 10.1 s -> ~2 s at sf0.1
    idx = build_minhash_index(corpus, num_hashes=32).persist()
    pairs = incremental_dedup_pairs(batch, idx, threshold=0.5,
                                    num_hashes=32, bands=16)
    return pairs.select(
        "doc_id", "match_id",
        F.floor(F.lit(1000000) * F.col("jaccard")).cast("long")
         .alias("jaccard_bp"),
        "match_src")


@query(
    "streaming_dedup_incremental",
    oracle=r"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 4 != 0),
    batch AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0
      UNION ALL
      SELECT doc_id + 1000000, text || ' extra trailing words appended'
      FROM documents WHERE doc_id % 8 = 1
      UNION ALL
      SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 8 = 4),
    cs AS (SELECT doc_id, list_distinct(list_transform(
          range(0, greatest(len(toks) - 3, 0) + 1),
          i -> array_to_string(toks[(i + 1):(i + 3)], ' '))) AS sh
      FROM (SELECT doc_id, string_split(lower(regexp_replace(trim(text),
            '\s+', ' ', 'g')), ' ') AS toks FROM corpus)),
    bs AS (SELECT doc_id, list_distinct(list_transform(
          range(0, greatest(len(toks) - 3, 0) + 1),
          i -> array_to_string(toks[(i + 1):(i + 3)], ' '))) AS sh
      FROM (SELECT doc_id, string_split(lower(regexp_replace(trim(text),
            '\s+', ' ', 'g')), ' ') AS toks FROM batch)),
    rel AS (
      SELECT b.doc_id, c.doc_id AS match_id,
             len(list_intersect(b.sh, c.sh))
             / CAST(len(list_distinct(list_concat(b.sh, c.sh)))
                    AS DOUBLE) AS jac,
             'corpus' AS match_src
      FROM bs b, cs c WHERE c.doc_id != b.doc_id
      UNION ALL
      SELECT b.doc_id, a.doc_id AS match_id,
             len(list_intersect(b.sh, a.sh))
             / CAST(len(list_distinct(list_concat(b.sh, a.sh)))
                    AS DOUBLE) AS jac,
             'batch' AS match_src
      FROM bs b, bs a
      WHERE a.doc_id < b.doc_id AND a.doc_id % 2 = b.doc_id % 2)
    SELECT doc_id, match_id,
           CAST(floor(1000000 * jac) AS BIGINT) AS jaccard_bp, match_src
    FROM rel WHERE jac >= 0.5
    """)
def streaming_dedup_incremental(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Incremental snapshot dedup as a STREAM
    (streaming/stream.py start_incremental_dedup): the same corpus /
    batch construction as ``dedup_incremental``, but the batch
    arrives as a file-source stream in two single-file waves split by
    doc_id parity (maxFilesPerTrigger=1 => one micro-batch per wave),
    drained with trigger(availableNow) through a foreachBatch probe
    of the frozen signature index into idempotent per-batch-id
    parquet. vs-corpus relations are wave-independent (every
    micro-batch probes the same frozen index); within-batch relations
    are scoped to a micro-batch, so the oracle adds the parity
    condition — the only semantic difference between the batch and
    streaming forms, stated exactly."""
    from ..datapipe.dedup import build_minhash_index
    from ..streaming.stream import start_incremental_dedup
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 4 != 0).select("doc_id", "text")
    batch = (docs.filter(F.col("doc_id") % 4 == 0)
             .select("doc_id", "text")
             .unionByName(
                 docs.filter(F.col("doc_id") % 8 == 1)
                 .select((F.col("doc_id") + 1000000).alias("doc_id"),
                         F.concat(F.col("text"),
                                  F.lit(" extra trailing words appended"))
                          .alias("text")))
             .unionByName(
                 docs.filter(F.col("doc_id") % 8 == 4)
                 .select((F.col("doc_id") + 2000000).alias("doc_id"),
                         "text")))
    idx = build_minhash_index(corpus, num_hashes=32).persist()
    try:
        with _scratch("stream_dedup_q_") as base:
            stream = _stage_waves(
                spark, base,
                [(name, batch.filter(F.col("doc_id") % 2 == parity))
                 for name, parity in (("a", 0), ("b", 1))],
                batch.schema, max_files=1)
            _drain(start_incremental_dedup(
                stream, idx, os.path.join(base, "out"),
                os.path.join(base, "ckpt"),
                num_hashes=32, bands=16, threshold=0.5))
            rows = (spark.read.parquet(os.path.join(base, "out"))
                    .select("doc_id", "match_id",
                            F.floor(F.lit(1000000) * F.col("jaccard"))
                             .cast("long").alias("jaccard_bp"),
                            "match_src").collect())
    finally:
        idx.unpersist()
    return spark.createDataFrame(
        rows, schema="doc_id long, match_id long, jaccard_bp long,"
                     " match_src string")


_SIMHASH_MD5_SQL = r"""
    t AS (SELECT doc_id,
        string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                     ' ') AS toks FROM {src}),
    h AS (SELECT doc_id,
        list_transform(toks, tk ->
          CAST(('0x' || substr(md5(tk), 1, 15)) AS BIGINT)) AS hs FROM t),
    fp AS (SELECT doc_id,
        CAST(coalesce(list_sum(list_transform(range(0, 60), b ->
          CASE WHEN coalesce(list_sum(list_transform(hs, hh ->
                 CASE WHEN ((hh >> b) & 1) = 1 THEN 1 ELSE -1 END)), 0) > 0
               THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)), 0) AS BIGINT)
          AS simhash
      FROM h)
"""


@query(
    "dedup_simhash",
    oracle="WITH " + _SIMHASH_MD5_SQL.format(src="documents")
           + "SELECT doc_id, simhash FROM fp")
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprints in the cross-engine hash family
    (``hash64`` md5 mode: per-token 60-bit hashes from the md5 hex
    prefix, sign-summed per bit) — DuckDB recomputes the identical
    integers, so the fingerprint VALUES are fully oracled (this row
    was rows-only in rounds 1-2 when the family was xxhash64-only).
    The xxhash64 family stays the fast default in the operator; the
    Hamming-separation semantics of that path are gated in
    tests/test_datapipe.py."""
    from ..datapipe.dedup import with_shingles, with_simhash
    docs = _t(spark, sf_dir, "documents")
    return (with_simhash(with_shingles(docs), hash_mode="md5")
            .select("doc_id", "simhash"))


@query(
    "dedup_simhash_pairs",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text || ' extra trailing words appended'
      FROM documents WHERE doc_id % 3 = 0),
    """ + _SIMHASH_MD5_SQL.format(src="corpus") + """
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM fp a, fp b
    WHERE a.doc_id < b.doc_id
      AND bit_count(xor(a.simhash, b.simhash)) <= 3
    """)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-banded SimHash near-dup PAIR GENERATION (the operator
    the dedup module's scale path promises): fingerprints in the
    cross-engine md5 family, 4 exact 16-bit bands -> bucket join ->
    bit_count verification within buckets. Recall vs brute force is
    total by pigeonhole (Hamming <= 3 < bands), so the oracle is
    DuckDB's brute-force Hamming <= 3 pair set over identical
    fingerprints — every banded candidate either verifies or is
    dropped, and every true pair shares a band."""
    from ..datapipe.dedup import simhash_pairs, with_shingles, with_simhash
    docs = _t(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text")
    near = (docs.filter(F.col("doc_id") % 3 == 0)
            .select((F.col("doc_id") + 1000000).alias("doc_id"),
                    F.concat(F.col("text"),
                             F.lit(" extra trailing words appended"))
                     .alias("text")))
    fp = with_simhash(with_shingles(base.unionByName(near)),
                      hash_mode="md5")
    return simhash_pairs(fp, bands=4, max_hamming=3)


@query(
    "dedup_clusters",
    oracle=r"""
    WITH RECURSIVE corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 250
      UNION ALL
      SELECT doc_id + 1000000, text || ' extra trailing words appended'
      FROM documents WHERE doc_id % 3 = 0 AND doc_id < 250
      UNION ALL
      SELECT doc_id + 2000000,
             text || ' extra trailing words appended more'
      FROM documents WHERE doc_id % 3 = 0 AND doc_id < 250),
    t AS (SELECT doc_id,
        string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                     ' ') AS toks FROM corpus),
    s AS (SELECT doc_id,
        list_distinct(list_transform(
          range(0, greatest(len(toks) - 3, 0) + 1),
          i -> array_to_string(toks[(i + 1):(i + 3)], ' '))) AS sh
      FROM t),
    e AS (SELECT a.doc_id AS src, b.doc_id AS dst
          FROM s a, s b
          WHERE a.doc_id != b.doc_id
            AND len(list_intersect(a.sh, b.sh))
                / CAST(len(list_distinct(list_concat(a.sh, b.sh)))
                       AS DOUBLE) >= 0.5),
    comp AS (
      SELECT doc_id AS v, doc_id AS r FROM corpus
      UNION
      SELECT e.dst, c.r FROM comp c JOIN e ON e.src = c.v)
    SELECT v AS doc_id, min(r) AS cluster_id FROM comp GROUP BY v
    """)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER formation — the keep-one-per-cluster step of
    a dedup pipeline: MinHash-LSH pairs (total recall on this corpus,
    see dedup_minhash_lsh) become edges; iterative min-label
    propagation assigns every doc the min doc id of its connected
    component. Two planted variants per source doc (k+1000000,
    k+2000000) form 3-cliques, so clusters must transitively merge.
    The oracle computes the same components as a DuckDB recursive CTE
    over brute-force Jaccard >= 0.5 edges."""
    from ..datapipe.dedup import minhash_dedup_pairs, neardup_clusters
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 250)
    base = docs.select("doc_id", "text")
    thirds = docs.filter(F.col("doc_id") % 3 == 0)
    near1 = thirds.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"),
                 F.lit(" extra trailing words appended")).alias("text"))
    near2 = thirds.select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"),
                 F.lit(" extra trailing words appended more"))
         .alias("text"))
    corpus = base.unionByName(near1).unionByName(near2)
    pairs = minhash_dedup_pairs(corpus, threshold=0.5,
                                num_hashes=32, bands=16)
    return neardup_clusters(corpus.select("doc_id"), pairs)


@query(
    "dedup_ngram_jaccard",
    oracle=r"""
    WITH t AS (SELECT doc_id,
        string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                     ' ') AS toks FROM documents),
    s AS (SELECT doc_id,
        list_distinct(list_transform(
          range(0, greatest(len(toks) - 3, 0) + 1),
          i -> array_to_string(toks[(i + 1):(i + 3)], ' '))) AS sh
      FROM t)
    SELECT p.doc_id AS probe_id, d.doc_id AS doc_id,
           CAST(floor(1000000 * len(list_intersect(d.sh, p.sh))
                / CAST(len(list_distinct(list_concat(d.sh, p.sh)))
                       AS DOUBLE)) AS BIGINT) AS jaccard_bp
    FROM s d, s p
    WHERE p.doc_id < 3 AND d.doc_id != p.doc_id
    """)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard of probe docs vs the corpus (brute
    verification path of the dedup family; broadcast probes, one
    corpus scan, JVM array algebra — no Python). Basis-point floor
    keeps the value hash engine-stable."""
    from ..datapipe.dedup import ngram_jaccard_pairs
    docs = _t(spark, sf_dir, "documents")
    out = ngram_jaccard_pairs(docs, other_ids=[0, 1, 2])
    return out.select(
        "probe_id", "doc_id",
        F.floor(F.lit(1000000) * F.col("jaccard")).cast("long")
         .alias("jaccard_bp"))


@query(
    "dedup_substring_spans",
    oracle=r"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000,
             'planted prefix ' || doc_id || ' ' ||
             array_to_string((string_split(lower(regexp_replace(
               trim(text), '\s+', ' ', 'g')), ' '))[3:38], ' ')
             || ' planted suffix ' || doc_id
      FROM documents
      WHERE doc_id % 5 = 0
        AND len(string_split(lower(regexp_replace(trim(text), '\s+',
              ' ', 'g')), ' ')) >= 38),
    t AS (SELECT doc_id, string_split(lower(regexp_replace(trim(text),
            '\s+', ' ', 'g')), ' ') AS toks FROM corpus),
    ti AS (SELECT doc_id, toks, unnest(range(0, len(toks) - 16 + 1)) AS i
           FROM t WHERE len(toks) >= 16),
    w AS (SELECT doc_id, i AS pos,
            ('0x' || substr(md5(array_to_string(toks[i+1:i+16], ' ')),
                            1, 15))::BIGINT AS h0,
            ('0x' || substr(md5(array_to_string(toks[i+1:i+16], ' ')),
                            17, 15))::BIGINT AS h1
          FROM ti),
    d AS (SELECT doc_id, pos FROM
            (SELECT doc_id, pos,
                    count(*) OVER (PARTITION BY h0, h1) AS n_occ FROM w)
          WHERE n_occ >= 2),
    fl AS (SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER
                    (PARTITION BY doc_id ORDER BY pos) > 16
                  THEN 1 ELSE 0 END AS brk FROM d),
    isl AS (SELECT doc_id, pos,
              sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
            FROM fl),
    sp AS (SELECT doc_id, min(pos)::BIGINT AS tok_start,
             (max(pos) + 15)::BIGINT AS tok_end,
             count(*)::BIGINT AS n_windows
           FROM isl GROUP BY doc_id, island)
    SELECT sp.doc_id, tok_start, tok_end,
           (CASE WHEN tok_start = 0 THEN 0
                 ELSE length(array_to_string(toks[1:tok_start], ' ')) + 1
            END)::BIGINT AS char_start,
           (CASE WHEN tok_start = 0 THEN 0
                 ELSE length(array_to_string(toks[1:tok_start], ' ')) + 1
            END
            + length(array_to_string(toks[tok_start+1:tok_end+1], ' ')))
           ::BIGINT AS char_end,
           n_windows,
           array_to_string(toks[tok_start+1:tok_end+1], ' ') AS span_text
    FROM sp JOIN t USING (doc_id)
    """)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span dedup (datapipe/dedup.py duplicated_spans,
    after Lee et al. 2021): maximal duplicated 16-token runs per doc
    with token + char offsets into the normalized text. The corpus is
    ``documents`` plus planted cross-doc spans (doc k+1000000 embeds
    tokens 3..38 of doc k between unique sentinels, k % 5 == 0 with
    >= 38 tokens), and the generator's natural chunk reuse contributes
    real duplicated runs too. md5 hash mode so DuckDB replays the
    identical (h0, h1) window keys; the oracle re-derives windows,
    occurrence counts, island merge and offsets in pure SQL — every
    span, boundary and char offset must agree."""
    from ..datapipe.dedup import duplicated_spans, normalize_text
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(normalize_text("text"), " ")
    planted = (docs
               .withColumn("_toks", toks)
               .filter((F.col("doc_id") % 5 == 0)
                       & (F.size("_toks") >= 38))
               .select((F.col("doc_id") + 1000000).alias("doc_id"),
                       F.concat(F.lit("planted prefix "),
                                F.col("doc_id").cast("string"),
                                F.lit(" "),
                                F.array_join(F.slice("_toks", 3, 36),
                                             " "),
                                F.lit(" planted suffix "),
                                F.col("doc_id").cast("string"))
                        .alias("text")))
    corpus = docs.select("doc_id", "text").unionByName(planted)
    return duplicated_spans(corpus, window=16, hash_mode="md5")


@query(
    "dedup_substring_stats",
    oracle=r"""
    WITH t AS (SELECT doc_id, string_split(lower(regexp_replace(
            trim(text), '\s+', ' ', 'g')), ' ') AS toks FROM documents),
    ti AS (SELECT doc_id, toks, unnest(range(0, len(toks) - 12 + 1)) AS i
           FROM t WHERE len(toks) >= 12),
    w AS (SELECT doc_id, i AS pos,
            ('0x' || substr(md5(array_to_string(toks[i+1:i+12], ' ')),
                            1, 15))::BIGINT AS h0,
            ('0x' || substr(md5(array_to_string(toks[i+1:i+12], ' ')),
                            17, 15))::BIGINT AS h1
          FROM ti),
    d AS (SELECT doc_id, pos FROM
            (SELECT doc_id, pos,
                    count(*) OVER (PARTITION BY h0, h1) AS n_occ FROM w)
          WHERE n_occ >= 2),
    fl AS (SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER
                    (PARTITION BY doc_id ORDER BY pos) > 12
                  THEN 1 ELSE 0 END AS brk FROM d),
    isl AS (SELECT doc_id, pos,
              sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
            FROM fl),
    sp AS (SELECT doc_id, min(pos) AS tok_start, max(pos) + 11 AS tok_end
           FROM isl GROUP BY doc_id, island),
    cov AS (SELECT doc_id,
              sum(tok_end - tok_start + 1)::BIGINT AS dup_tokens,
              count(*)::BIGINT AS n_spans
            FROM sp GROUP BY doc_id)
    SELECT t.doc_id, len(t.toks)::BIGINT AS n_tokens,
           coalesce(dup_tokens, 0)::BIGINT AS dup_tokens,
           coalesce(n_spans, 0)::BIGINT AS n_spans,
           ((1000 * coalesce(dup_tokens, 0)) // len(t.toks))::BIGINT
             AS dup_frac_milli
    FROM t LEFT JOIN cov USING (doc_id)
    """)
def dedup_substring_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-token coverage (datapipe/dedup.py
    duplication_stats) at 12-token granularity over the raw
    ``documents`` table — the generator's natural chunk reuse makes
    coverage nonzero without planting. Exact integer milli fraction
    (``div``) so the value hash is engine-stable; every doc appears,
    zero-covered docs included."""
    from ..datapipe.dedup import duplication_stats
    docs = _t(spark, sf_dir, "documents")
    return duplication_stats(docs, window=12, hash_mode="md5")


@query(
    "dedup_substring_rewrite",
    oracle=r"""
    WITH t AS (SELECT doc_id, string_split(lower(regexp_replace(
            trim(text), '\s+', ' ', 'g')), ' ') AS toks FROM documents),
    ti AS (SELECT doc_id, toks, unnest(range(0, len(toks) - 12 + 1)) AS i
           FROM t WHERE len(toks) >= 12),
    w AS (SELECT doc_id, i AS pos,
            ('0x' || substr(md5(array_to_string(toks[i+1:i+12], ' ')),
                            1, 15))::BIGINT AS h0,
            ('0x' || substr(md5(array_to_string(toks[i+1:i+12], ' ')),
                            17, 15))::BIGINT AS h1
          FROM ti),
    r AS (SELECT doc_id, pos,
            count(*) OVER (PARTITION BY h0, h1) AS n_occ,
            row_number() OVER (PARTITION BY h0, h1
                               ORDER BY doc_id, pos) AS rn FROM w),
    d AS (SELECT doc_id, pos FROM r WHERE n_occ >= 2 AND rn > 1),
    fl AS (SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER
                    (PARTITION BY doc_id ORDER BY pos) > 12
                  THEN 1 ELSE 0 END AS brk FROM d),
    isl AS (SELECT doc_id, pos,
              sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
            FROM fl),
    sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 11 AS e
           FROM isl GROUP BY doc_id, island),
    agg AS (SELECT doc_id, sum(e - s + 1)::BIGINT AS n_removed,
                   count(*)::BIGINT AS n_spans FROM sp GROUP BY doc_id),
    tok_rows AS (SELECT doc_id, toks,
                        unnest(range(0, len(toks))) AS i FROM t
                 WHERE doc_id IN (SELECT doc_id FROM sp)),
    kept AS (SELECT tr.doc_id, tr.i, tr.toks[tr.i + 1] AS tok
             FROM tok_rows tr
             WHERE NOT EXISTS (SELECT 1 FROM sp
                               WHERE sp.doc_id = tr.doc_id
                                 AND tr.i BETWEEN sp.s AND sp.e)),
    rebuilt AS (SELECT doc_id,
                       coalesce(string_agg(tok, ' ' ORDER BY i), '')
                         AS clean_text
                FROM kept GROUP BY doc_id)
    SELECT t.doc_id,
           CASE WHEN a.doc_id IS NOT NULL
                THEN coalesce(rb.clean_text, '')
                ELSE array_to_string(t.toks, ' ') END AS clean_text,
           len(t.toks)::BIGINT AS n_tokens,
           coalesce(a.n_removed, 0)::BIGINT AS n_removed_tokens,
           coalesce(a.n_spans, 0)::BIGINT AS n_spans_removed
    FROM t LEFT JOIN agg a USING (doc_id)
           LEFT JOIN rebuilt rb USING (doc_id)
    """)
def dedup_substring_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVE step of exact-substring dedup (datapipe/dedup.py
    remove_duplicated_spans, after Lee et al. 2021): keep only the
    globally-first occurrence of every duplicated 12-token sequence
    and excise the rest, returning the cleaned corpus text per doc
    plus removal stats. md5 hash mode; the oracle replays occurrence
    counts, first-occurrence ranking, island merge and token excision
    in pure SQL — clean text must agree byte-for-byte."""
    from ..datapipe.dedup import remove_duplicated_spans
    docs = _t(spark, sf_dir, "documents")
    return remove_duplicated_spans(docs, window=12, hash_mode="md5")


@query(
    "embedding_cosine_neardup",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           CAST(floor(1000 * list_cosine_similarity(a.embedding,
                                                    b.embedding) + 0.5)
                AS BIGINT) AS cos_milli
    FROM embeddings a, embeddings b
    WHERE a.vec_id < b.vec_id
      AND list_cosine_similarity(a.embedding, b.embedding) >= 0.47
    """)
def embedding_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos >= 0.47, chosen at a
    wide score gap so the pair set is cross-engine stable). Brute
    pair scan here; the LSH-banded scale path of the same operator is
    covered by tests/test_datapipe.py (recall vs this baseline)."""
    from ..datapipe.dedup import embedding_neardup_pairs
    emb = _t(spark, sf_dir, "embeddings")
    out = embedding_neardup_pairs(emb, threshold=0.47)
    return out.select(
        "id_a", "id_b",
        F.floor(F.lit(1000) * F.col("cos") + F.lit(0.5)).cast("long")
         .alias("cos_milli"))


@query(
    "text_token_stats",
    oracle=r"""
    WITH t AS (SELECT doc_id,
        string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                     ' ') AS toks FROM documents)
    SELECT doc_id,
           len(toks)::BIGINT AS n_tokens,
           len(list_distinct(toks))::BIGINT AS n_distinct_tokens,
           list_sum(list_transform(toks, w ->
             1 + CAST(floor(greatest(length(w) - 1, 0) / 4) AS BIGINT)))
             ::BIGINT AS n_subword_est
    FROM t
    """)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, distinct tokens, BPE-ish
    subword estimate — all JVM-side array expressions."""
    from ..datapipe.textstats import with_token_stats
    docs = _t(spark, sf_dir, "documents")
    return with_token_stats(docs).select(
        "doc_id", "n_tokens", "n_distinct_tokens",
        F.col("n_subword_est").cast("long").alias("n_subword_est"))


@query(
    "text_quality_score",
    oracle=r"""
    WITH t AS (SELECT doc_id, text,
        string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                     ' ') AS toks FROM documents),
    s AS (SELECT doc_id,
        len(toks)::BIGINT AS n_tokens,
        CAST(floor(1000000 * len(list_filter(toks, w -> w = 'the'
              OR w = 'and' OR w = 'of' OR w = 'to' OR w = 'a'
              OR w = 'is' OR w = 'in' OR w = 'that' OR w = 'it'
              OR w = 'for' OR w = 'on' OR w = 'with' OR w = 'as'))
              / CAST(greatest(len(toks), 1) AS DOUBLE)) AS BIGINT)
          AS stopword_ratio_bp,
        CAST(floor(1000000 * length(regexp_replace(text, '[^a-zA-Z]',
                                                   '', 'g'))
              / CAST(greatest(length(text), 1) AS DOUBLE)) AS BIGINT)
          AS alpha_ratio_bp
      FROM t)
    SELECT doc_id, n_tokens, stopword_ratio_bp, alpha_ratio_bp,
           CAST(floor(1000 * least(1.0,
             0.3 * least(n_tokens / 50.0, 1.0)
             + 0.4 * least((stopword_ratio_bp / 1000000.0) * 5.0, 1.0)
             + 0.3 * (alpha_ratio_bp / 1000000.0))) AS BIGINT)
             AS quality_score_bp
    FROM s
    """)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality score (length band + stopword ratio
    + alpha ratio)."""
    from ..datapipe.textstats import with_quality_score, with_token_stats
    docs = _t(spark, sf_dir, "documents")
    return with_quality_score(with_token_stats(docs)).select(
        "doc_id", "n_tokens", "stopword_ratio_bp", "alpha_ratio_bp",
        "quality_score_bp")


# deterministic per-doc perturbation for the Gopher-rules query: the
# synthetic corpus has no symbols, digit-words or long words, so
# without it the symbol/alpha/mean-word-length rules would be
# uniformly true and the oracle would never exercise their false
# branches. Valid Spark SQL AND DuckDB SQL (CASE + || concat).
_GOPHER_PERTURB = """
    CASE CAST(doc_id % 4 AS INT)
      WHEN 0 THEN text || ' ##### #### ... ... #'
      WHEN 1 THEN text || ' 0 1 2 3 4 5 6 7 8 9 10 11 12 13 14 15'
      WHEN 2 THEN 'incomprehensibilities interdenominational'
                  || ' electroencephalographically characteristically'
      ELSE text || ' the words be of and that have with'
    END"""


@query(
    "gopher_quality_rules",
    oracle=r"""
    WITH src AS (SELECT doc_id, """ + _GOPHER_PERTURB + r""" AS text
                 FROM documents),
    t AS (SELECT doc_id, text,
        string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                     ' ') AS toks FROM src),
    s AS (SELECT doc_id,
        len(toks)::BIGINT AS n_words,
        list_sum(list_transform(toks, w -> length(w)))::BIGINT AS sum_wl,
        (length(text) - length(replace(text, '#', ''))
         + (length(text) - length(replace(text, '...', ''))) // 3
        )::BIGINT AS n_symbols,
        len(list_filter(toks, w -> regexp_matches(w, '[a-z]')))::BIGINT
          AS n_alpha_words,
        (CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END
         + CASE WHEN list_contains(toks, 'be') THEN 1 ELSE 0 END
         + CASE WHEN list_contains(toks, 'to') THEN 1 ELSE 0 END
         + CASE WHEN list_contains(toks, 'of') THEN 1 ELSE 0 END
         + CASE WHEN list_contains(toks, 'and') THEN 1 ELSE 0 END
         + CASE WHEN list_contains(toks, 'that') THEN 1 ELSE 0 END
         + CASE WHEN list_contains(toks, 'have') THEN 1 ELSE 0 END
         + CASE WHEN list_contains(toks, 'with') THEN 1 ELSE 0 END
        )::BIGINT AS n_stopword_hits
      FROM t),
    m AS (SELECT *, ((1000 * sum_wl) // greatest(n_words, 1))::BIGINT
                      AS mean_wl_milli FROM s),
    r AS (SELECT *,
        (n_words BETWEEN 50 AND 100000) AS word_count_ok,
        (mean_wl_milli BETWEEN 3000 AND 10000) AS mean_wl_ok,
        (1000 * n_symbols <= 100 * n_words) AS symbol_ok,
        (1000 * n_alpha_words >= 800 * n_words) AS alpha_ok,
        (n_stopword_hits >= 2) AS stopword_ok
      FROM m)
    SELECT doc_id, n_words, mean_wl_milli, n_symbols, n_alpha_words,
           n_stopword_hits, word_count_ok, mean_wl_ok, symbol_ok,
           alpha_ok, stopword_ok,
           (word_count_ok AND mean_wl_ok AND symbol_ok AND alpha_ok
            AND stopword_ok) AS gopher_keep
    FROM r
    """)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style named quality rules (datapipe/textstats.py
    with_gopher_rules, after Rae et al. 2021 Table A1): per-rule raw
    statistic + boolean + the overall keep conjunction, one row per
    document. The corpus is deterministically perturbed in SQL
    (``_GOPHER_PERTURB``, identical text on both engines) so every
    rule — symbols, alpha words, mean word length, stop words, word
    count — takes BOTH truth values under the oracle. All-integer
    statistics (milli fractions via div, counts as BIGINT) so the
    value hash is engine-stable."""
    from ..datapipe.textstats import with_gopher_rules
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_GOPHER_PERTURB).alias("text"))
    return with_gopher_rules(docs).select(
        "doc_id", "n_words", "mean_wl_milli", "n_symbols",
        "n_alpha_words", "n_stopword_hits", "word_count_ok",
        "mean_wl_ok", "symbol_ok", "alpha_ok", "stopword_ok",
        "gopher_keep")


@query(
    "text_langid",
    oracle=r"""
    WITH t AS (SELECT doc_id,
        string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                     ' ') AS toks FROM documents),
    h AS (SELECT doc_id,
        len(list_filter(toks, w -> w = 'the' OR w = 'and' OR w = 'of'
            OR w = 'to' OR w = 'a' OR w = 'is' OR w = 'in'
            OR w = 'that')) AS en,
        len(list_filter(toks, w -> w = 'el' OR w = 'la' OR w = 'de'
            OR w = 'que' OR w = 'y' OR w = 'los' OR w = 'es'
            OR w = 'una')) AS es,
        len(list_filter(toks, w -> w = 'der' OR w = 'die' OR w = 'und'
            OR w = 'das' OR w = 'ist' OR w = 'nicht' OR w = 'ein'
            OR w = 'zu')) AS de,
        len(list_filter(toks, w -> w = 'le' OR w = 'la' OR w = 'les'
            OR w = 'et' OR w = 'des' OR w = 'est' OR w = 'une'
            OR w = 'dans')) AS fr
      FROM t)
    SELECT doc_id,
           CASE WHEN greatest(en, es, de, fr) = 0 THEN 'und'
                WHEN en = greatest(en, es, de, fr) THEN 'en'
                WHEN es = greatest(en, es, de, fr) THEN 'es'
                WHEN de = greatest(en, es, de, fr) THEN 'de'
                WHEN fr = greatest(en, es, de, fr) THEN 'fr'
           END AS lang_pred
    FROM h
    """)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language ID heuristic (argmax of marker-set
    hits, fixed tie order)."""
    from ..datapipe.textstats import with_langid
    docs = _t(spark, sf_dir, "documents")
    return with_langid(docs).select("doc_id", "lang_pred")


@query(
    "text_fingerprint",
    oracle=r"""
    SELECT doc_id,
           substr(md5(lower(regexp_replace(trim(text), '\s+', ' ',
                                           'g'))), 1, 16) AS fingerprint
    FROM documents
    """)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine-deterministic content fingerprint (md5 prefix of
    normalized text)."""
    from ..datapipe.textstats import with_fingerprint
    docs = _t(spark, sf_dir, "documents")
    return with_fingerprint(docs).select("doc_id", "fingerprint")


@query(
    "ann_cosine_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
               WHERE vec_id < 5),
    scored AS (
      SELECT q.qid, e.vec_id,
             list_cosine_similarity(e.embedding, q.qv) AS cos
      FROM embeddings e, q WHERE e.vec_id != q.qid)
    SELECT qid, rank, vec_id FROM (
      SELECT qid, vec_id,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cos DESC, vec_id) AS rank
      FROM scored) WHERE rank <= 10
    """)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 per query vector (exact ANN
    baseline): broadcast queries, one corpus scan, JVM-side
    aggregate/zip_with arithmetic, row_number top-k. Scores agree
    with DuckDB to ~1e-7 and gaps are >=1e-4, so the rank list is the
    cross-engine-stable output."""
    from ..datapipe.similarity import cosine_topk
    emb = _t(spark, sf_dir, "embeddings")
    q = (emb.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qv")))
    return cosine_topk(emb, q, k=10).select("qid", "rank", "vec_id")


@query(
    "ann_lsh_topk",
    oracle="""
    WITH sigs AS (
      SELECT vec_id, embedding,
        list_transform(range(0, 16), p ->
          CASE WHEN coalesce(list_sum(list_transform(range(0, 64), d ->
            CAST(round(CAST(embedding[d + 1] AS DOUBLE) *
              (CASE WHEN substr(md5(CAST(p * 4096 + d AS VARCHAR)), 1, 1)
                      < '8'
                    THEN 1000000.0 ELSE -1000000.0 END)) AS BIGINT))), 0)
                 > 0
          THEN 1 ELSE 0 END) AS sig
      FROM embeddings),
    bands AS (SELECT unnest(range(0, 4)) AS band),
    cb AS (SELECT s.vec_id, s.embedding, b.band,
                  array_to_string(s.sig[(b.band * 4 + 1):(b.band * 4 + 4)],
                                  '') AS key
           FROM sigs s, bands b),
    qb AS (SELECT vec_id AS qid, embedding AS qv, band, key
           FROM cb WHERE vec_id < 5),
    cand AS (SELECT DISTINCT c.vec_id, c.embedding, q.qid, q.qv
             FROM cb c JOIN qb q ON c.band = q.band AND c.key = q.key
             WHERE c.vec_id != q.qid),
    scored AS (SELECT qid, vec_id,
                 list_cosine_similarity(embedding, qv) AS cos FROM cand)
    SELECT qid, rank, vec_id FROM (
      SELECT qid, vec_id,
        row_number() OVER (PARTITION BY qid
                           ORDER BY cos DESC, vec_id) AS rank
      FROM scored) WHERE rank <= 10
    """)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH banded ANN (the scale path): candidates from shared
    signature bands, exact cosine re-rank within candidates, in the
    cross-engine md5 hyperplane family — DuckDB replays the signature
    bits (fixed-point dot products, so the sign is independent of
    float summation order), the band join, and the re-rank, making
    the full approximate RESULT oracled (rows-only in rounds 1-2).
    Recall vs brute force for the fast xxhash64 family stays asserted
    in tests/test_datapipe.py."""
    from ..datapipe.similarity import lsh_topk
    emb = _t(spark, sf_dir, "embeddings")
    q = (emb.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qv")))
    return lsh_topk(emb, q, k=10, hash_mode="md5", dim=64).select(
        "qid", "rank", "vec_id")


# Shared oracle CTE prefix replaying the deterministic IVF
# construction (md5-seeded centroids -> one grid-snapped Lloyd step ->
# final assignment) over a parameterizable corpus — used by
# ann_ivf_topk and semantic_dedup (corpus = the whole embeddings
# table) and semantic_dedup_incremental (corpus = the frozen subset
# the snapshot was built from).
_IVF_ASSIGN_TMPL = """
    WITH corp AS (SELECT vec_id, embedding FROM {src}),
    seeds AS (
      SELECT vec_id, embedding,
             CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS h
      FROM corp ORDER BY h LIMIT 16),
    cents0 AS (
      SELECT row_number() OVER (ORDER BY h) - 1 AS cid, embedding AS cvec
      FROM seeds),
    assign0 AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY list_cosine_similarity(e.embedding, c.cvec) DESC,
                     c.cid DESC) AS rn
        FROM corp e, cents0 c) WHERE rn = 1),
    dims AS (SELECT unnest(range(0, 64)) AS d),
    upd AS (
      SELECT a.cid, dm.d,
             CAST(round(avg(CAST(e.embedding[dm.d + 1] AS DOUBLE))
                        * 65536) / 65536 AS FLOAT) AS m
      FROM assign0 a JOIN corp e USING (vec_id), dims dm
      GROUP BY a.cid, dm.d),
    cents1 AS (SELECT cid, list(m ORDER BY d) AS cvec FROM upd
               GROUP BY cid),
    assign1 AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY list_cosine_similarity(e.embedding, c.cvec) DESC,
                     c.cid DESC) AS rn
        FROM corp e, cents1 c) WHERE rn = 1)"""
_IVF_ASSIGN_CTES = _IVF_ASSIGN_TMPL.format(src="embeddings")


@query(
    "ann_ivf_topk",
    oracle=_IVF_ASSIGN_CTES + """,
    probes AS (
      SELECT qid, qv, cid FROM (
        SELECT e.vec_id AS qid, e.embedding AS qv, c.cid,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY list_cosine_similarity(e.embedding, c.cvec) DESC,
                     c.cid ASC) AS rn
        FROM embeddings e, cents1 c WHERE e.vec_id < 5) WHERE rn <= 4),
    cand AS (
      SELECT p.qid, p.qv, e.vec_id, e.embedding
      FROM probes p JOIN assign1 a USING (cid)
           JOIN embeddings e ON a.vec_id = e.vec_id
      WHERE e.vec_id != p.qid)
    SELECT qid, rank, vec_id FROM (
      SELECT qid, vec_id,
        row_number() OVER (PARTITION BY qid
          ORDER BY list_cosine_similarity(embedding, qv) DESC,
                   vec_id) AS rank
      FROM cand) WHERE rank <= 10
    """)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (inverted-file scale path): hash-seeded coarse
    centroids + one Lloyd refinement, corpus bucketed by nearest
    centroid, queries probe their n_probe nearest buckets and re-rank
    exactly within them — in the cross-engine md5 hash family, with
    the Lloyd means snapped to the 2^-16 grid, so DuckDB replays the
    ENTIRE construction (seeds -> assign -> update -> probes ->
    re-rank) and the approximate result is fully oracled (rows-only
    in rounds 1-2). Recall + determinism of the fast xxhash64 family
    stay asserted in tests/test_datapipe.py."""
    from ..datapipe.similarity import ivf_topk
    emb = _t(spark, sf_dir, "embeddings")
    q = (emb.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qv")))
    return ivf_topk(emb, q, k=10, n_centroids=16, n_probe=4, iters=1,
                    hash_mode="md5").select("qid", "rank", "vec_id")


@query(
    "multimodal_media_meta",
    oracle="""
    SELECT doc_id, 'application/octet-stream' AS media_type,
           octet_length(encode(text))::BIGINT AS n_bytes,
           md5(text) AS content_hash
    FROM documents
    """)
def multimodal_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column convention: opaque binary + typed metadata
    (size, content hash) — all JVM-side."""
    from ..datapipe.multimodal import attach_media
    docs = _t(spark, sf_dir, "documents")
    return attach_media(docs).select(
        "doc_id", "media_type", "n_bytes", "content_hash")


@query(
    "multimodal_frame_features",
    oracle="""
    WITH d AS (SELECT doc_id,
                      8 * (1 + doc_id % 40) AS n_bytes FROM documents),
    f AS (SELECT doc_id, n_bytes,
                 unnest(range(0, CAST(ceil(n_bytes / 256.0) AS BIGINT)))
                   AS frame_idx
          FROM d)
    SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx, n_bytes,
           380392::BIGINT AS f0_micros, 384314::BIGINT AS f1_micros,
           388235::BIGINT AS f2_micros, 392157::BIGINT AS f3_micros,
           396078::BIGINT AS f4_micros, 400000::BIGINT AS f5_micros,
           403922::BIGINT AS f6_micros, 407843::BIGINT AS f7_micros
    FROM f
    """)
def multimodal_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched media feature extraction over binary payloads
    (mapInPandas; decode kernel is the documented deterministic
    byte-statistics stand-in — datapipe/multimodal.py).

    The payload is constructed in SQL as ``repeat('abcdefgh', k)`` so
    the kernel's output is exactly predictable: every stride-8 slice
    of any frame window holds one repeated byte value 97+j, so
    feature[j] = round((97+j)/255, 6) for every frame, and the frame
    count is ceil(len/256). Features are projected to BIGINT micros
    (f0..f7) — scalar, hashable columns for the driver canonicalizer
    (an array column broke pandas factorize in round 1)."""
    from ..datapipe.multimodal import attach_media, extract_frames
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("repeat('abcdefgh', cast(1 + doc_id % 40 AS INT))")
         .alias("text"))
    frames = extract_frames(attach_media(docs))
    return frames.select(
        "doc_id", "frame_idx", "n_bytes",
        *[F.expr(f"cast(round(feature[{j}] * 1000000) AS BIGINT)")
           .alias(f"f{j}_micros") for j in range(8)])


@query(
    "text_repetition_stats",
    oracle=r"""
    WITH t AS (SELECT doc_id,
        string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                     ' ') AS toks FROM documents)
    SELECT doc_id,
           CAST(floor(1000000 * list_max(list_transform(
                  list_distinct(toks),
                  d -> len(list_filter(toks, w -> w = d))))
                / CAST(greatest(len(toks), 1) AS DOUBLE)) AS BIGINT)
             AS top_token_frac_bp,
           CAST(floor(1000000 * (1.0 -
                  len(list_distinct(list_transform(
                    range(0, greatest(len(toks) - 2, 0) + 1),
                    i -> array_to_string(toks[(i + 1):(i + 2)], ' '))))
                  / CAST(greatest(len(toks) - 2, 0) + 1 AS DOUBLE)))
                AS BIGINT) AS dup_2gram_frac_bp
    FROM t
    """)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition quality markers (Gopher/C4-style):
    most-frequent-token fraction + duplicate word-2-gram fraction —
    narrow JVM array expressions (datapipe/textstats.py)."""
    from ..datapipe.textstats import with_repetition_stats
    docs = _t(spark, sf_dir, "documents")
    return with_repetition_stats(docs).select(
        "doc_id", "top_token_frac_bp", "dup_2gram_frac_bp")


# ---------------------------------------------------------------------------
# 4. Dataset splitting / sampling / decontamination (datapipe.splits,
#    datapipe.dedup.contamination_overlap)


@query(
    "split_assign",
    oracle="""
    SELECT doc_id,
           ('0x' || substr(md5('v1-' || CAST(doc_id AS VARCHAR)), 1, 15))
             ::BIGINT % 10000 AS split_bucket,
           CASE WHEN ('0x' || substr(md5('v1-' || CAST(doc_id AS VARCHAR)),
                      1, 15))::BIGINT % 10000 < 8000 THEN 'train'
                WHEN ('0x' || substr(md5('v1-' || CAST(doc_id AS VARCHAR)),
                      1, 15))::BIGINT % 10000 < 9000 THEN 'val'
                ELSE 'test' END AS split,
           ('0x' || substr(md5('s1-' || CAST(doc_id AS VARCHAR)), 1, 15))
             ::BIGINT % 10000 < 1000 AS sampled
    FROM documents
    """)
def split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (80/10/10) plus an
    independent-salt 10% sample marker — pure per-row hash
    expressions, zero shuffles, reproducible across runs/partitioning
    (datapipe/splits.py). md5 hash mode so DuckDB replays the exact
    buckets; xxhash64 is the production default."""
    from ..datapipe.splits import with_hash_sample, with_split_assignment
    docs = _t(spark, sf_dir, "documents")
    out = with_hash_sample(
        with_split_assignment(docs, salt="v1", hash_mode="md5"),
        fraction=0.1, salt="s1", hash_mode="md5")
    return out.select("doc_id", "split_bucket", "split", "sampled")


@query(
    "shard_shuffle",
    oracle=r"""
    WITH t AS (SELECT doc_id,
        len(string_split(lower(regexp_replace(trim(text), '\s+', ' ',
            'g')), ' '))::BIGINT AS n_tokens,
        ('0x' || substr(md5('sh1-s-' || CAST(doc_id AS VARCHAR)), 1, 15))
          ::BIGINT % 8 AS shard,
        ('0x' || substr(md5('sh1-o-' || CAST(doc_id AS VARCHAR)), 1, 15))
          ::BIGINT AS ho
      FROM documents)
    SELECT doc_id, n_tokens, shard,
           (row_number() OVER (PARTITION BY shard ORDER BY ho, doc_id)
            - 1)::BIGINT AS shard_pos,
           coalesce(sum(n_tokens) OVER (PARTITION BY shard
              ORDER BY ho, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND
              1 PRECEDING), 0)::BIGINT AS tok_offset
    FROM t
    """)
def shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle + shard layout (datapipe/splits.py
    shuffle_shards): every doc gets (shard, shard_pos, tok_offset) as
    a pure function of (salt, doc_id) — reading shard ASC, pos ASC is
    a pseudo-random permutation, with the in-shard token prefix sums a
    shard writer lays docs out by. One exchange on shard, local sorts,
    NO global ordering. md5 hash mode so DuckDB replays placement,
    order and offsets exactly."""
    from ..datapipe.dedup import normalize_text
    from ..datapipe.splits import shuffle_shards
    docs = _t(spark, sf_dir, "documents").withColumn(
        "n_tokens",
        F.size(F.split(normalize_text("text"), " ")).cast("long"))
    out = shuffle_shards(docs, n_shards=8, salt="sh1",
                         tok_col="n_tokens", hash_mode="md5")
    return out.select("doc_id", "n_tokens", "shard", "shard_pos",
                      "tok_offset")


_MIX_TARGETS = {f"src{i}": (3 if i % 2 else 1) for i in range(20)}
_MIX_W_SQL = ("CASE " + " ".join(
    f"WHEN source = '{s}' THEN {w}" for s, w in _MIX_TARGETS.items())
    + " ELSE 0 END")


@query(
    "mix_resample",
    oracle=f"""
    WITH c AS (SELECT source, count(*) AS c FROM documents
               GROUP BY source),
    w AS (SELECT source, c, {_MIX_W_SQL} AS w FROM c),
    m AS (SELECT w AS wm, c AS cm FROM w WHERE w > 0
          ORDER BY w * 1.0 / c DESC, source LIMIT 1),
    thr AS (SELECT source, (10000 * w * (SELECT cm FROM m))
                            // (c * (SELECT wm FROM m)) AS keep_thr
            FROM w)
    SELECT d.doc_id, d.source, t.keep_thr,
           ('0x' || substr(md5('mx-' || CAST(d.doc_id AS VARCHAR)), 1,
                           15))::BIGINT % 10000 < t.keep_thr AS kept
    FROM documents d JOIN thr t ON d.source = t.source
    """)
def mix_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix resampling (datapipe/splits.py with_mix_resample):
    odd source domains get 3x the target weight of even ones, so the
    most under-represented (odd) domains keep everything and even
    domains deterministically down-sample toward the 3:1 mix.
    Integer-only threshold arithmetic; md5 hash mode for the
    oracle."""
    from ..datapipe.splits import with_mix_resample
    docs = _t(spark, sf_dir, "documents")
    out = with_mix_resample(docs, _MIX_TARGETS, salt="mx",
                            hash_mode="md5")
    return out.select("doc_id", "source", "keep_thr", "kept")


@query(
    "temperature_mix_targets",
    oracle="""
    WITH c AS (SELECT source, count(*)::BIGINT AS n_docs
               FROM documents GROUP BY source),
    s AS (SELECT source, n_docs,
                 floor(sqrt(n_docs))::BIGINT AS weight FROM c),
    t AS (SELECT sum(n_docs)::BIGINT AS n, sum(weight)::BIGINT AS tw
          FROM s)
    SELECT source, n_docs, weight,
           ((SELECT n FROM t) * weight) // (SELECT tw FROM t) AS target
    FROM s
    """)
def temperature_mix_targets_q(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Temperature-based mixing targets (datapipe/splits.py
    temperature_mix_targets): w_s = floor(sqrt(n_s)) — IEEE sqrt is
    correctly rounded in both engines, everything else is integer —
    and target_s = (N * w_s) div sum(w). The downstream keep/drop
    machinery these targets feed is oracled by ``mix_resample``."""
    from ..datapipe.splits import temperature_mix_targets
    docs = _t(spark, sf_dir, "documents")
    return temperature_mix_targets(docs)


@query(
    "decontam_ngram_overlap",
    oracle=r"""
    WITH tok AS (SELECT doc_id,
        string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                     ' ') AS toks FROM documents),
    sh AS (SELECT doc_id,
        list_distinct(list_transform(
          range(0, greatest(len(toks) - 3, 0) + 1),
          i -> array_to_string(toks[(i + 1):(i + 3)], ' '))) AS sh
      FROM tok),
    hashed AS (SELECT doc_id,
        list_distinct(list_transform(sh, s ->
          ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS hs
      FROM sh),
    ev AS (SELECT list_distinct(flatten(list(hs))) AS ehs
           FROM hashed WHERE doc_id < 20),
    c AS (SELECT h.doc_id,
                 len(list_intersect(h.hs, ev.ehs))::BIGINT AS n_overlap
          FROM hashed h, ev WHERE h.doc_id >= 20)
    SELECT doc_id, n_overlap, n_overlap >= 5 AS contaminated
    FROM c
    """)
def decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: docs 0-19 play the benchmark/eval
    set, the rest the training corpus; each corpus doc reports how
    many of its distinct word-3-gram shingles appear anywhere in the
    eval set (hashed-shingle broadcast probe join —
    dedup.contamination_overlap). md5 hash mode for the oracle;
    xxhash64 default in production."""
    from ..datapipe.dedup import contamination_overlap
    docs = _t(spark, sf_dir, "documents")
    out = contamination_overlap(
        docs.filter(F.col("doc_id") >= 20),
        docs.filter(F.col("doc_id") < 20),
        n=3, min_overlap=5, hash_mode="md5")
    return out.select("doc_id", "n_overlap", "contaminated")


@query(
    "token_topk_by_source",
    oracle=r"""
    WITH tok AS (SELECT source,
        unnest(string_split(lower(regexp_replace(trim(text), '\s+',
            ' ', 'g')), ' ')) AS token FROM documents),
    c AS (SELECT source, token, count(*)::BIGINT AS n
          FROM tok GROUP BY source, token),
    r AS (SELECT source, token, n,
                 row_number() OVER (PARTITION BY source
                     ORDER BY n DESC, token)::BIGINT AS rank
          FROM c)
    SELECT source, token, n, rank FROM r WHERE rank <= 10
    """)
def token_topk_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain token heavy hitters (datapipe/textstats.py
    token_topk): top-10 tokens per source with deterministic ties —
    map-side partial aggregation collapses occurrences before the
    shuffle, WindowGroupLimit bounds the rank stage."""
    from ..datapipe.textstats import token_topk
    docs = _t(spark, sf_dir, "documents")
    return token_topk(docs, k=10, group_col="source").select(
        "source", "token", "n", "rank")


@query(
    "length_percentiles_by_source",
    oracle=r"""
    WITH t AS (SELECT source,
        len(string_split(lower(regexp_replace(trim(text), '\s+', ' ',
                                              'g')), ' '))::BIGINT AS v
      FROM documents),
    r AS (SELECT source, v,
            row_number() OVER (PARTITION BY source ORDER BY v) AS rn,
            count(*) OVER (PARTITION BY source) AS n FROM t),
    q AS (SELECT unnest([50, 90, 99]) AS q)
    SELECT source, q::BIGINT AS q, n::BIGINT AS n_docs,
           v AS p_tokens
    FROM r, q WHERE rn = (q * n + 99) // 100
    """)
def length_percentiles_by_source(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Exact per-source token-length percentiles (datapipe/textstats
    length_percentiles): discrete all-integer rank ``(q*n+99) div
    100`` so the p50/p90/p99 values are cross-engine bit-exact; one
    group-key exchange shared by rank and count."""
    from ..datapipe.textstats import length_percentiles
    docs = _t(spark, sf_dir, "documents")
    return length_percentiles(docs, qs=(50, 90, 99), by="source")


# ---------------------------------------------------------------------------
# 5. PII scrubbing + sequence packing (datapipe.pii, datapipe.packing)

# The synthetic corpus has no PII, so the query INJECTS deterministic
# PII (derived from doc_id, identically in Spark and DuckDB) into a
# constructed column, then runs the real detect/redact operators over
# it — the same construct-in-SQL pattern as the extraction-path
# queries above.
_PII_TEXT_SPARK = """concat(
    substr(text, 1, 60),
    ' contact user', CAST(doc_id AS STRING), '@mail',
    CAST(doc_id % 7 AS STRING), '.example.com',
    CASE WHEN doc_id % 3 = 0 THEN concat(' call +1 555-',
      lpad(CAST((doc_id * 7) % 1000 AS STRING), 3, '0'), '-',
      lpad(CAST((doc_id * 31) % 10000 AS STRING), 4, '0'))
      ELSE '' END,
    CASE WHEN doc_id % 4 = 1 THEN concat(' from 10.',
      CAST(doc_id % 256 AS STRING), '.',
      CAST((doc_id * 3) % 256 AS STRING), '.',
      CAST((doc_id * 5) % 256 AS STRING)) ELSE '' END,
    CASE WHEN doc_id % 5 = 2 THEN concat(' ssn 123-45-',
      lpad(CAST(doc_id % 10000 AS STRING), 4, '0')) ELSE '' END,
    CASE WHEN doc_id % 6 = 3 THEN concat(' card 4111-',
      lpad(CAST(doc_id % 10000 AS STRING), 4, '0'), '-1111-',
      lpad(CAST((doc_id * 13) % 10000 AS STRING), 4, '0'))
      ELSE '' END)"""

_PII_TEXT_DUCK = _PII_TEXT_SPARK.replace("AS STRING", "AS VARCHAR")


def _pii_oracle() -> str:
    """Assemble the DuckDB oracle from PII_PATTERNS itself, so the
    pattern strings and the redaction ORDER can never drift between
    the operator and the oracle."""
    from ..datapipe.pii import PII_PATTERNS
    det = ",\n           ".join(
        f"len(regexp_extract_all(pii_text, '{p}'))::BIGINT AS n_{n}"
        for n, (p, _) in PII_PATTERNS.items())
    red = "pii_text"
    for _, (p, r) in PII_PATTERNS.items():
        red = f"regexp_replace({red}, '{p}', '{r}', 'g')"
    total = " + ".join(f"n_{n}" for n in PII_PATTERNS)
    names = ", ".join(f"n_{n}" for n in PII_PATTERNS)
    return f"""
    WITH p AS (SELECT doc_id, {_PII_TEXT_DUCK} AS pii_text
               FROM documents),
    d AS (SELECT doc_id,
           {det},
           {red} AS text_redacted FROM p)
    SELECT doc_id, {names}, ({total})::BIGINT AS n_pii,
           ({total}) > 0 AS has_pii, text_redacted
    FROM d
    """


@query("pii_detect_redact", oracle=_pii_oracle())
def pii_detect_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (datapipe/pii.py): typed per-doc match counts +
    placeholder redaction, pure JVM regex (RE2-compatible subset so
    DuckDB replays the identical matches). PII is injected
    deterministically from doc_id since the synthetic corpus has
    none."""
    from ..datapipe.pii import PII_PATTERNS, redact_pii, with_pii_stats
    docs = (_t(spark, sf_dir, "documents")
            .withColumn("pii_text", F.expr(_PII_TEXT_SPARK)))
    out = redact_pii(with_pii_stats(docs, "pii_text"), "pii_text")
    return out.select(
        "doc_id", *[f"n_{n}" for n in PII_PATTERNS],
        "n_pii", "has_pii", "text_redacted")


_PACK_BUDGET, _PACK_SHARDS = 256, 8


@query(
    "pack_fill_stats",
    oracle=rf"""
    WITH RECURSIVE t AS (
      SELECT doc_id,
             (('0x' || substr(md5('pk-' || CAST(doc_id AS VARCHAR)),
                              1, 15))::BIGINT % {_PACK_SHARDS}) AS shard,
             len(string_split(lower(regexp_replace(trim(text),
                 '\s+', ' ', 'g')), ' '))::BIGINT AS n_tok
      FROM documents),
    s AS (SELECT shard, doc_id, n_tok,
                 row_number() OVER (PARTITION BY shard
                                    ORDER BY doc_id) AS rn
          FROM t),
    packed AS (
      SELECT shard, doc_id, n_tok, rn,
             0::BIGINT AS pack_idx, n_tok AS acc
      FROM s WHERE rn = 1
      UNION ALL
      SELECT s.shard, s.doc_id, s.n_tok, s.rn,
             CASE WHEN p.acc + s.n_tok <= {_PACK_BUDGET}
                  THEN p.pack_idx ELSE p.pack_idx + 1 END,
             CASE WHEN p.acc + s.n_tok <= {_PACK_BUDGET}
                  THEN p.acc + s.n_tok ELSE s.n_tok END
      FROM packed p JOIN s ON s.shard = p.shard AND s.rn = p.rn + 1)
    SELECT shard::INT AS shard, pack_idx,
           count(*)::BIGINT AS n_docs,
           sum(n_tok)::BIGINT AS pack_tokens,
           CAST(floor(10000 * least(sum(n_tok), {_PACK_BUDGET})
                / {_PACK_BUDGET}.0) AS BIGINT) AS fill_bp
    FROM packed GROUP BY shard, pack_idx
    """)
def pack_fill_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pack utilization rollup over the greedy packing
    (datapipe/packing.py pack_stats): docs per pack, tokens per pack,
    fill fraction in basis points — the packing-efficiency audit a
    batch-construction pipeline reports."""
    from ..datapipe.packing import pack_greedy, pack_stats
    from ..datapipe.textstats import with_token_stats
    docs = with_token_stats(_t(spark, sf_dir, "documents"))
    packed = pack_greedy(docs, budget=_PACK_BUDGET,
                         n_shards=_PACK_SHARDS, tok_col="n_tokens",
                         salt="pk", hash_mode="md5")
    return pack_stats(packed, budget=_PACK_BUDGET).select(
        "shard", "pack_idx", "n_docs", "pack_tokens", "fill_bp")


@query(
    "pack_sequences",
    oracle=rf"""
    WITH RECURSIVE t AS (
      SELECT doc_id,
             (('0x' || substr(md5('pk-' || CAST(doc_id AS VARCHAR)),
                              1, 15))::BIGINT % {_PACK_SHARDS}) AS shard,
             len(string_split(lower(regexp_replace(trim(text),
                 '\s+', ' ', 'g')), ' '))::BIGINT AS n_tok
      FROM documents),
    s AS (SELECT shard, doc_id, n_tok,
                 row_number() OVER (PARTITION BY shard
                                    ORDER BY doc_id) AS rn
          FROM t),
    packed AS (
      SELECT shard, doc_id, n_tok, rn,
             0::BIGINT AS pack_idx, 0::BIGINT AS pack_pos,
             n_tok AS acc
      FROM s WHERE rn = 1
      UNION ALL
      SELECT s.shard, s.doc_id, s.n_tok, s.rn,
             CASE WHEN p.acc + s.n_tok <= {_PACK_BUDGET}
                  THEN p.pack_idx ELSE p.pack_idx + 1 END,
             CASE WHEN p.acc + s.n_tok <= {_PACK_BUDGET}
                  THEN p.pack_pos + 1 ELSE 0::BIGINT END,
             CASE WHEN p.acc + s.n_tok <= {_PACK_BUDGET}
                  THEN p.acc + s.n_tok ELSE s.n_tok END
      FROM packed p JOIN s ON s.shard = p.shard AND s.rn = p.rn + 1)
    SELECT shard::INT AS shard, doc_id, n_tok, pack_idx, pack_pos
    FROM packed
    """)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing (datapipe/packing.py): shard by pure
    (salt, id) hash, pack docs into 256-token bins within each shard
    via the applyInPandas searchsorted operator. The DuckDB oracle
    replays the greedy scan with a recursive CTE — the packing is a
    pure function of the input set, so the row-level (shard, pack,
    pos) assignment hash-matches exactly. md5 hash mode for the
    oracle; xxhash64 default in production."""
    from ..datapipe.packing import pack_greedy
    from ..datapipe.textstats import with_token_stats
    docs = with_token_stats(_t(spark, sf_dir, "documents"))
    return pack_greedy(docs, budget=_PACK_BUDGET,
                       n_shards=_PACK_SHARDS, tok_col="n_tokens",
                       salt="pk", hash_mode="md5")


@query(
    "semantic_dedup",
    oracle=_IVF_ASSIGN_CTES + """,
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM assign1 a JOIN assign1 b USING (cid)
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
      WHERE a.vec_id < b.vec_id
        AND list_cosine_similarity(ea.embedding, eb.embedding) >= 0.47)
    SELECT s.vec_id, s.cid::BIGINT AS cid, (d.id_b IS NULL) AS kept
    FROM assign1 s LEFT JOIN (SELECT DISTINCT id_b FROM pairs) d
      ON s.vec_id = d.id_b
    """)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication
    (datapipe/similarity.py semantic_dedup): IVF-cluster the
    embeddings (md5-seeded, one grid-snapped Lloyd step — the same
    deterministic construction ann_ivf_topk oracles), score cosine
    pairs ONLY within clusters, and drop every row with a lower-id
    neighbor at cos >= 0.47 (min-id-wins representative). The oracle
    replays clustering, pair set and drop rule end to end; the
    threshold sits at the corpus's wide score gap (same as
    embedding_cosine_neardup) so the pair set is cross-engine
    stable."""
    from ..datapipe.similarity import semantic_dedup as semdedup
    emb = _t(spark, sf_dir, "embeddings")
    return semdedup(emb, threshold=0.47, n_centroids=16, iters=1,
                    hash_mode="md5")


@query(
    "semantic_dedup_incremental",
    oracle=_IVF_ASSIGN_TMPL.format(
        src="(SELECT vec_id, embedding FROM embeddings"
            " WHERE vec_id % 4 != 0)") + """,
    batch AS (SELECT vec_id, embedding FROM embeddings
              WHERE vec_id % 4 = 0),
    bassign AS (
      SELECT vec_id, cid FROM (
        SELECT b.vec_id, c.cid,
          row_number() OVER (PARTITION BY b.vec_id
            ORDER BY list_cosine_similarity(b.embedding, c.cvec) DESC,
                     c.cid DESC) AS rn
        FROM batch b, cents1 c) WHERE rn = 1),
    rel AS (
      SELECT b.vec_id, a.vec_id AS match_id,
             list_cosine_similarity(be.embedding, ae.embedding) AS cos,
             'corpus' AS match_src
      FROM bassign b JOIN assign1 a USING (cid)
           JOIN embeddings be ON be.vec_id = b.vec_id
           JOIN embeddings ae ON ae.vec_id = a.vec_id
      WHERE a.vec_id != b.vec_id
      UNION ALL
      SELECT b.vec_id, a.vec_id AS match_id,
             list_cosine_similarity(be.embedding, ae.embedding) AS cos,
             'batch' AS match_src
      FROM bassign b JOIN bassign a USING (cid)
           JOIN embeddings be ON be.vec_id = b.vec_id
           JOIN embeddings ae ON ae.vec_id = a.vec_id
      WHERE a.vec_id < b.vec_id)
    SELECT vec_id, match_id,
           CAST(floor(1000 * cos) AS BIGINT) AS cos_milli, match_src
    FROM rel WHERE cos >= 0.47
    """)
def semantic_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup (datapipe/similarity.py
    incremental_semantic_dedup): 75% of embeddings form the frozen
    snapshot — md5-seeded grid-snapped IVF centroids plus the kept
    vectors with cluster ids; the other 25% arrive as a batch, are
    assigned to the FROZEN centroids (narrow broadcast map) and
    scored only against same-cluster kept vectors and smaller-id
    batch vectors. The oracle replays the snapshot construction over
    the corpus subset (the parameterized _IVF_ASSIGN_TMPL prefix),
    the batch assignment and the pair set end to end; threshold 0.47
    sits at the corpus's wide score gap (same as semantic_dedup)."""
    from ..datapipe.similarity import (assign_to_centroids,
                                       incremental_semantic_dedup,
                                       ivf_centroids)
    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 4 != 0)
    batch = emb.filter(F.col("vec_id") % 4 == 0)
    # the snapshot artifacts (at scale: stored tables — centroids
    # tiny, assignments bucketed by cid). BOTH are persisted to stand
    # in for their stored form: cents feeds the snapshot assignment
    # and the batch probe, and an unpersisted snap re-runs the whole
    # corpus assignment (crossJoin + max_by over interpreted cosines)
    # on every execution — the per-snapshot cost, not the per-batch
    # cost this query measures.
    cents = ivf_centroids(corpus, n_centroids=16, iters=1,
                          hash_mode="md5").persist()
    snap = (assign_to_centroids(corpus, cents)
            .join(corpus.select("vec_id", "embedding"), "vec_id")
            .persist())
    out = incremental_semantic_dedup(batch, cents, snap, threshold=0.47)
    return out.select(
        "vec_id", "match_id",
        F.floor(F.lit(1000) * F.col("cos")).cast("long")
         .alias("cos_milli"),
        "match_src")


@query(
    "lm_unigram_surprisal",
    oracle=r"""
    WITH t AS (SELECT doc_id,
        string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                     ' ') AS toks FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS token FROM t),
    vocab AS (SELECT token, length(bin(count(*)))::BIGINT - 1 AS bits
              FROM tok GROUP BY token HAVING count(*) >= 2),
    tot AS (SELECT length(bin(count(*)))::BIGINT - 1 AS total_bits
            FROM tok)
    SELECT doc_id, count(*)::BIGINT AS n_tokens,
           ((1000000 * sum(CASE WHEN v.bits IS NULL THEN 1 ELSE 0 END))
             // count(*))::BIGINT AS oov_bp,
           ((1000 * sum(tot.total_bits - coalesce(v.bits, 0)))
             // count(*))::BIGINT AS surprisal_milli_bits
    FROM tok LEFT JOIN vocab v USING (token), tot
    GROUP BY doc_id
    """)
def lm_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram LM scoring
    (datapipe/textstats.py with_unigram_surprisal): per-doc mean token
    surprisal under the corpus's own unigram distribution, in EXACT
    integer bits (floor(log2 count) via length(bin(count)) - 1 — no
    floating-point log, so the score is bit-identical across engines).
    The perplexity-filtering step of corpus curation: low = boilerplate,
    high = rare-token noise. Vocab cutoff min_count=2; OOV takes the
    rarest bucket (max surprisal)."""
    from ..datapipe.textstats import with_unigram_surprisal
    docs = _t(spark, sf_dir, "documents")
    return with_unigram_surprisal(docs)


@query(
    "extract_pdf_multipage",
    oracle="""
    WITH f AS (
      SELECT doc_id,
        'Vendor ' || CAST(doc_id % 97 AS VARCHAR) AS v,
        printf('%02d/%02d/2021', doc_id % 28 + 1, doc_id % 12 + 1) AS d,
        '$' || printf('%d.%02d', doc_id % 450 + 10, doc_id % 100) AS t
      FROM documents),
    g AS (
      SELECT doc_id, v, d, t,
        'Vendor: ' || v AS l0, 'Memo page one' AS l1,
        'Date: ' || d AS l2, 'Total: ' || t AS l3
      FROM f),
    h AS (
      SELECT doc_id, v, d, t, l0, l1, l2, l3,
        length(l0) AS e0,
        length(l0) + 1 AS s1, length(l0) + 1 + length(l1) AS e1,
        length(l0) + length(l1) + 2 AS s2,
        length(l0) + length(l1) + 2 + length(l2) AS e2,
        length(l0) + length(l1) + length(l2) + 3 AS s3,
        length(l0) + length(l1) + length(l2) + 3 + length(l3) AS e3,
        l0 || chr(10) || l1 || chr(10) || l2 || chr(10) || l3 AS mt
      FROM g),
    b AS (
      SELECT doc_id, mt, 0 AS block_id, 1 AS page, 'LINE' AS block_type,
             '' AS kv_role, -1 AS kv_group_id, 0 AS reading_order,
             l0 AS btext, 0 AS cs, e0 AS ce FROM h
      UNION ALL SELECT doc_id, mt, 1, 1, 'KEY_VALUE', 'KEY', 0, -1,
             'Vendor', 0, 6 FROM h
      UNION ALL SELECT doc_id, mt, 2, 1, 'KEY_VALUE', 'VALUE', 0, -1,
             v, 8, e0 FROM h
      UNION ALL SELECT doc_id, mt, 3, 1, 'LINE', '', -1, 1,
             l1, s1, e1 FROM h
      UNION ALL SELECT doc_id, mt, 4, 2, 'LINE', '', -1, 2,
             l2, s2, e2 FROM h
      UNION ALL SELECT doc_id, mt, 5, 2, 'KEY_VALUE', 'KEY', 1, -1,
             'Date', s2, s2 + 4 FROM h
      UNION ALL SELECT doc_id, mt, 6, 2, 'KEY_VALUE', 'VALUE', 1, -1,
             d, s2 + 6, e2 FROM h
      UNION ALL SELECT doc_id, mt, 7, 3, 'LINE', '', -1, 3,
             l3, s3, e3 FROM h
      UNION ALL SELECT doc_id, mt, 8, 3, 'KEY_VALUE', 'KEY', 2, -1,
             'Total', s3, s3 + 5 FROM h
      UNION ALL SELECT doc_id, mt, 9, 3, 'KEY_VALUE', 'VALUE', 2, -1,
             t, s3 + 7, e3 FROM h
      UNION ALL SELECT doc_id, mt, 10, 1, 'PAGE', '', -1, -1,
             '', 0, e1 FROM h
      UNION ALL SELECT doc_id, mt, 11, 2, 'PAGE', '', -1, -1,
             '', s2, e2 FROM h
      UNION ALL SELECT doc_id, mt, 12, 3, 'PAGE', '', -1, -1,
             '', s3, e3 FROM h)
    SELECT doc_id, 'ok' AS status, 'pdf' AS kind, mt AS main_text,
           block_id::BIGINT AS block_id, page::BIGINT AS page,
           block_type, kv_role, kv_group_id::BIGINT AS kv_group_id,
           reading_order::BIGINT AS reading_order, btext,
           cs::BIGINT AS char_start, ce::BIGINT AS char_end
    FROM b
    """)
def extract_pdf_multipage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-page PDF end-to-end (the async/multipage Textract analog —
    fn-call-textract/main.py:62-97 drafts StartDocumentAnalysis for
    multi-page documents; our engine handles them synchronously, one
    content stream per page, core/pdf_extract.py extract_pdf).

    A THREE-page PDF is constructed in SQL per document: page 1 has a
    Vendor KV line plus a plain memo line, pages 2/3 one KV line each.
    Page 2's content stream declares its length as an INDIRECT ref
    (``/Length 9 0 R``) — the spec-legal form _LENGTH_RE must reject —
    so the delimiter-fallback slice path is driver-verified too. The
    oracle predicts every block from string arithmetic: reading order
    is page-major across page boundaries (page asc, y desc), main_text
    joins lines across pages, block_ids interleave LINE/KEY/VALUE per
    cluster with the per-page PAGE blocks appended last, and each PAGE
    block spans exactly its page's lines in the main_text domain."""
    docs = _t(spark, sf_dir, "documents")
    vendor = F.concat(F.lit("Vendor "),
                      (F.col("doc_id") % 97).cast("string"))
    date = F.format_string("%02d/%02d/2021", F.col("doc_id") % 28 + 1,
                           F.col("doc_id") % 12 + 1)
    total = F.concat(F.lit("$"), F.format_string(
        "%d.%02d", F.col("doc_id") % 450 + 10, F.col("doc_id") % 100))
    s1 = F.concat(F.lit("BT\n/F1 12 Tf\n72 720 Td\n(Vendor: "), vendor,
                  F.lit(") Tj\n0 -20 Td\n(Memo page one) Tj\nET"))
    s2 = F.concat(F.lit("BT\n/F1 12 Tf\n72 720 Td\n(Date: "), date,
                  F.lit(") Tj\nET"))
    s3 = F.concat(F.lit("BT\n/F1 12 Tf\n72 720 Td\n(Total: "), total,
                  F.lit(") Tj\nET"))
    pdf = F.concat(
        F.lit("%PDF-1.4\n"
              "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
              "2 0 obj\n<< /Type /Pages /Kids [3 0 R 4 0 R 5 0 R]"
              " /Count 3 >>\nendobj\n"
              "3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>\n"
              "endobj\n"
              "4 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 7 0 R >>\n"
              "endobj\n"
              "5 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 8 0 R >>\n"
              "endobj\n"
              "6 0 obj\n<< /Length "),
        F.length(s1).cast("string"),
        F.lit(" >>\nstream\n"), s1,
        F.lit("\nendstream\nendobj\n"
              "7 0 obj\n<< /Length 9 0 R >>\nstream\n"), s2,
        F.lit("\nendstream\nendobj\n"
              "8 0 obj\n<< /Length "),
        F.length(s3).cast("string"),
        F.lit(" >>\nstream\n"), s3,
        F.lit("\nendstream\nendobj\n"
              "9 0 obj\n"),
        F.length(s2).cast("string"),
        F.lit("\nendobj\n%%EOF\n"))
    payload = F.concat(F.lit("data:application/pdf;base64,"),
                       F.regexp_replace(F.base64(pdf.cast("binary")),
                                        "[\\r\\n]", ""))
    out = _run_extraction(_docs_as_turns(docs, payload))
    b = out.select("doc_id", "status", "kind", "main_text",
                   F.explode("blocks").alias("b"))
    return b.select(
        "doc_id", "status", "kind", "main_text",
        F.col("b.block_id").cast("long").alias("block_id"),
        F.col("b.page").cast("long").alias("page"),
        F.col("b.block_type").alias("block_type"),
        F.coalesce(F.col("b.kv_role"), F.lit("")).alias("kv_role"),
        F.coalesce(F.col("b.kv_group_id"), F.lit(-1)).cast("long")
         .alias("kv_group_id"),
        F.col("b.reading_order").cast("long").alias("reading_order"),
        F.col("b.text").alias("btext"),
        F.col("b.char_start").cast("long").alias("char_start"),
        F.col("b.char_end").cast("long").alias("char_end"))


def _dq(s: str) -> str:
    """A Python string as a DuckDB concat expression (standard SQL
    literals don't interpret escapes, so newlines splice as chr(10))."""
    parts = []
    for i, seg in enumerate(s.split("\n")):
        if i:
            parts.append("chr(10)")
        if seg:
            parts.append("'" + seg.replace("'", "''") + "'")
    return " || ".join(parts) if parts else "''"


_LG_PDF_HEAD = ("%PDF-1.4\n"
                "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
                "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\n"
                "endobj\n"
                "3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\n"
                "endobj\n"
                "4 0 obj\n<< /Length ")
_LG_STREAM_PRE = "BT\n/F1 12 Tf\n72 720 Td\n(Invoice: INV-"
_LG_STREAM_POST = ") Tj\nET"
_LG_NOT_PDF = "data:application/pdf;base64,aGVsbG8gd29ybGQ="
_LG_MALFORMED = "data:application/pdf;base64,!!!notb64"


def _learned_gate_oracle() -> str:
    from ..core.quality_model import score_sql
    stream = (f"{_dq(_LG_STREAM_PRE)} || CAST(doc_id AS VARCHAR)"
              f" || {_dq(_LG_STREAM_POST)}")
    pdf = (f"{_dq(_LG_PDF_HEAD)} || CAST(length({stream}) AS VARCHAR)"
           f" || {_dq(' >>')} || chr(10) || {_dq('stream')} || chr(10)"
           f" || {stream} || chr(10)"
           f" || {_dq('endstream')} || chr(10) || {_dq('endobj')}"
           f" || chr(10) || {_dq('%%EOF')} || chr(10)")
    return f"""
    WITH p AS (
      SELECT doc_id,
        CASE doc_id % 7
          WHEN 0 THEN ''
          WHEN 1 THEN '<html><p>truncated'
          WHEN 2 THEN 'data:application/pdf;base64,'
                      || to_base64(({pdf})::BLOB)
          WHEN 3 THEN '{_LG_NOT_PDF}'
          WHEN 4 THEN '{_LG_MALFORMED}'
          ELSE text END AS payload
      FROM documents),
    s AS (
      SELECT doc_id,
        CASE doc_id % 7 WHEN 0 THEN 'rejected' WHEN 1 THEN 'rejected'
             WHEN 3 THEN 'rejected' WHEN 4 THEN 'malformed'
             ELSE 'ok' END AS status,
        CASE doc_id % 7 WHEN 2 THEN 'pdf'
             WHEN 5 THEN 'plain' WHEN 6 THEN 'plain'
             ELSE 'bad' END AS kind,
        CAST({score_sql('payload', 'duckdb')} AS BIGINT)
          AS learned_score_micro
      FROM p)
    SELECT doc_id, status, kind,
           CASE WHEN learned_score_micro >= 0 THEN 'good' ELSE 'bad' END
             AS learned_label,
           learned_score_micro,
           (status = 'ok')
             = (learned_score_micro >= 0) AS agree
    FROM s
    """


@query("quality_gate_learned", oracle=_learned_gate_oracle())
def quality_gate_learned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED quality gate vs the heuristic gate it distills (the
    Rekognition custom-labels training analog — the reference trains
    its gate on a labelled corpus, source/ocr/preprocessing/
    README.md:46-57 + groundtruth-labelling/, and routes on the
    model's top label, fn-preprocess/main.py:117-146).

    Payload arms per doc (empty / truncated HTML / real single-page
    PDF / non-PDF base64 / malformed base64 / plain text) run through
    BOTH gates: the heuristic one inside the real pipeline (status =
    its routing) and the learned one (core/quality_model.py frozen
    integer-quantized logistic, applied as pure narrow Spark SQL by
    engine/learned_gate.py — zero Python in the hot path). The oracle
    replays the payload construction AND the integer score arithmetic
    in DuckDB with the same frozen coefficients, and checks the two
    gates agree on every arm."""
    from .learned_gate import with_learned_quality
    docs = _t(spark, sf_dir, "documents")
    stream = F.concat(F.lit(_LG_STREAM_PRE),
                      F.col("doc_id").cast("string"),
                      F.lit(_LG_STREAM_POST))
    pdf = F.concat(F.lit(_LG_PDF_HEAD), F.length(stream).cast("string"),
                   F.lit(" >>\nstream\n"), stream,
                   F.lit("\nendstream\nendobj\n%%EOF\n"))
    good_pdf = F.concat(F.lit("data:application/pdf;base64,"),
                        F.regexp_replace(F.base64(pdf.cast("binary")),
                                         "[\\r\\n]", ""))
    payload = (
        F.when(F.col("doc_id") % 7 == 0, F.lit(""))
        .when(F.col("doc_id") % 7 == 1, F.lit("<html><p>truncated"))
        .when(F.col("doc_id") % 7 == 2, good_pdf)
        .when(F.col("doc_id") % 7 == 3, F.lit(_LG_NOT_PDF))
        .when(F.col("doc_id") % 7 == 4, F.lit(_LG_MALFORMED))
        .otherwise(F.col("text")))
    turns = _docs_as_turns(docs, payload)
    learned = with_learned_quality(
        turns.select("doc_id", "text")).select(
        "doc_id", "learned_label", "learned_score_micro")
    ext = _run_extraction(turns).select("doc_id", "status", "kind")
    return (ext.join(learned, "doc_id")
            .select("doc_id", "status", "kind", "learned_label",
                    "learned_score_micro",
                    ((F.col("status") == "ok")
                     == (F.col("learned_score_micro") >= 0))
                    .alias("agree")))


@query(
    "multimodal_real_decode",
    oracle="""
    WITH p AS (
      SELECT doc_id,
        2 + doc_id % 5 AS w, 1 + doc_id % 3 AS h,
        doc_id % 200 AS r0, (7 * doc_id) % 200 AS g0,
        (13 * doc_id) % 200 AS b0,
        16 + doc_id % 17 AS n, doc_id % 100 AS c
      FROM documents),
    q AS (
      SELECT doc_id, w, h, n,
        -- sum over pixels of (c0 + x + y), no mod wrap by design
        w*h*r0 + h*(w*(w-1)//2) + w*(h*(h-1)//2) AS sum_r,
        w*h*g0 + h*(w*(w-1)//2) + w*(h*(h-1)//2) AS sum_g,
        w*h*b0 + h*(w*(w-1)//2) + w*(h*(h-1)//2) AS sum_b,
        -- sum of |s_i| = c + i%8 over i < n
        n*c + 28*(n//8) + (n%8)*((n%8)-1)//2 AS sum_abs
      FROM p)
    SELECT doc_id,
      CASE WHEN doc_id % 2 = 0 THEN 'image/bmp' ELSE 'audio/wav' END
        AS media_type,
      CASE WHEN doc_id % 2 = 0 THEN w ELSE 0 END::BIGINT AS width,
      CASE WHEN doc_id % 2 = 0 THEN h ELSE 0 END::BIGINT AS height,
      CASE WHEN doc_id % 2 = 0 THEN 0 ELSE n END::BIGINT AS n_samples,
      CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 8000 END::BIGINT
        AS sample_rate,
      CASE WHEN doc_id % 2 = 0 THEN (1000*sum_r)//(w*h)
           ELSE (1000*sum_abs)//n END::BIGINT AS ch0_milli,
      CASE WHEN doc_id % 2 = 0 THEN (1000*sum_g)//(w*h)
           ELSE -1 END::BIGINT AS ch1_milli,
      CASE WHEN doc_id % 2 = 0 THEN (1000*sum_b)//(w*h)
           ELSE -1 END::BIGINT AS ch2_milli
    FROM q
    """)
def multimodal_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL multimodal decode end-to-end (datapipe/multimodal.py
    media_features): per-doc media blobs — even docs a 24-bit BMP
    with a +x+y gradient per channel (bottom-up rows, BGR order,
    4-byte stride padding all exercised; widths 2..6 include padded
    and unpadded strides), odd docs a PCM-16 WAV whose sample
    amplitudes ramp as c + i%8 with alternating sign — are
    synthesized in an Arrow-batched builder, then decoded by the
    stdlib decoders inside mapInPandas. The oracle predicts every
    feature from integer arithmetic (gradient sums in closed form;
    abs-sum of the ramp via its period). No fake kernel anywhere in
    this path."""
    from pyspark.sql.types import BinaryType

    from ..datapipe.multimodal import build_bmp, build_wav, media_features

    @F.pandas_udf(BinaryType())
    def synth(doc_ids: pd.Series) -> pd.Series:
        out = []
        for doc_id in doc_ids:
            d = int(doc_id)
            if d % 2 == 0:
                w, h = 2 + d % 5, 1 + d % 3
                base = (d % 200, (7 * d) % 200, (13 * d) % 200)
                px = [tuple(c0 + x + y for c0 in base)
                      for y in range(h) for x in range(w)]
                out.append(build_bmp(w, h, px))
            else:
                n, c = 16 + d % 17, d % 100
                samples = [(c + i % 8) * (1 if i % 2 == 0 else -1)
                           for i in range(n)]
                out.append(build_wav(1, 8000, samples))
        return pd.Series(out)

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        "doc_id",
        synth(F.col("doc_id")).alias("media"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("image/bmp"))
         .otherwise(F.lit("audio/wav")).alias("media_type"))
    return media_features(media)


@query(
    "skew_salted_extract",
    oracle="""
    WITH d AS (SELECT count(*) AS n_docs FROM documents)
    SELECT 'ok' AS status, 'plain' AS kind,
           (200 * n_docs + 50)::BIGINT AS total_rows,
           (200 * n_docs)::BIGINT AS hot_rows,
           true AS spread_wide, true AS straggler_shrunk
    FROM d
    """)
def skew_salted_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew robustness of the extraction exchange under the driver
    oracle (the north rule's explicit claim: 'explicit salted
    repartitioning on conv_id to defuse long-conversation skew'; the
    physical-plan side is gated in tests/test_plans.py and the
    distribution law in tests/test_skew.py — this query proves it on
    the REAL extract_turns path with a hard-signal row).

    Input: ONE zipf-hot conversation with 200 turns per document
    (10^5 turns at sf0.01) plus 50 single-turn cold conversations —
    the shape a 10^12-turn agent-transcript table produces when one
    agent loops. The query runs the real salted exchange +
    mapInArrow extraction (salt=16, partitions=32), observes which
    physical task processed each row BEFORE any further exchange
    (spark_partition_id over the narrow extraction output), and
    emits the skew claims as checkable facts:

    - ``spread_wide``: the hot conversation landed on >= partitions/2
      distinct tasks (salting spread it; unsalted it is ONE task);
    - ``straggler_shrunk``: the largest task carried <= hot/4 rows
      (the 4x straggler-shrink bound asserted since round 1). Salt is
      64 for 32 partitions: with salt == partitions, balls-in-bins
      collisions can stack ~4 of 16 buckets on one task (measured
      max/ideal 3.99 — BENCH/SKEW_SPREAD.json); 2x-oversalting keeps
      the worst task near ideal.

    The oracle pins both claims plus exact row counts; the raw
    per-task histogram is written to BENCH/SKEW_SPREAD.json by
    BENCH/run_skew_probe.py for the manifest."""
    from .udfs import extract_turns
    docs = _t(spark, sf_dir, "documents")
    hot = docs.select(
        F.lit("conv-hot").alias("conv_id"),
        F.explode(F.sequence(
            F.col("doc_id").cast("int") * 200,
            F.col("doc_id").cast("int") * 200 + 199)).alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
        F.lit("").alias("tool"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"))
    cold = docs.filter(F.col("doc_id") < 50).select(
        F.concat(F.lit("conv-"), F.col("doc_id").cast("string"))
         .alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
        F.lit("").alias("tool"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"))
    salt, partitions = 64, 32
    out = extract_turns(hot.unionByName(cold), salt=salt,
                        partitions=partitions)
    per_task = (out.withColumn("pid", F.spark_partition_id())
                .withColumn("is_hot", F.col("conv_id") == "conv-hot")
                .groupBy("pid")
                .agg(F.count("*").alias("n"),
                     F.sum(F.when(F.col("is_hot"), 1).otherwise(0))
                      .alias("n_hot"),
                     F.sum(F.when(F.col("status") == "ok", 1)
                           .otherwise(0)).alias("n_ok"),
                     F.sum(F.when(F.col("kind") == "plain", 1)
                           .otherwise(0)).alias("n_plain")))
    return per_task.agg(
        F.when(F.sum("n_ok") == F.sum("n"), F.lit("ok"))
         .otherwise(F.lit("mixed")).alias("status"),
        F.when(F.sum("n_plain") == F.sum("n"), F.lit("plain"))
         .otherwise(F.lit("mixed")).alias("kind"),
        F.sum("n").cast("long").alias("total_rows"),
        F.sum("n_hot").cast("long").alias("hot_rows"),
        (F.sum(F.when(F.col("n_hot") > 0, 1).otherwise(0))
         >= partitions // 2).alias("spread_wide"),
        (F.max("n_hot") <= F.sum("n_hot") / 4).alias("straggler_shrunk"))


@query(
    "c4_line_filter",
    oracle="""
    WITH p AS (
      SELECT doc_id,
        'Sentence one for doc ' || doc_id || '.' AS l1,
        'Is doc ' || doc_id || ' ready?' AS l5
      FROM documents)
    SELECT doc_id,
           l1 || chr(10) || l5 AS clean_text,
           2::BIGINT AS n_lines_kept, 4::BIGINT AS n_lines_dropped
    FROM p
    """)
def c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line hygiene (Raffel et al. 2020 §2.2;
    datapipe/lines.py c4_line_filter): terminal-punctuation,
    min-word-count, lorem-ipsum and curly-brace line drops as pure
    narrow higher-order array SQL. Per doc, six constructed lines
    exercise every predicate arm (kept sentence / too short / lorem
    ipsum / code brace / kept question / no terminal punctuation);
    the oracle predicts the surviving text and the exact counts."""
    from ..datapipe.lines import c4_line_filter as op
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    text = F.concat(
        F.lit("Sentence one for doc "), did, F.lit(".\n"),
        F.lit("short line.\n"),
        F.lit("This line mentions Lorem Ipsum filler.\n"),
        F.lit("var x = { y: "), did, F.lit(" };\n"),
        F.lit("Is doc "), did, F.lit(" ready?\n"),
        F.lit("no terminal punctuation here"))
    out = op(docs.select("doc_id", text.alias("text")))
    return out.select("doc_id", "clean_text", "n_lines_kept",
                      "n_lines_dropped")


@query(
    "line_dedup_rewrite",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id = 0
                THEN 'unique ' || doc_id || chr(10) || chr(10)
                     || 'Shared Boilerplate Line' || chr(10)
                     || 'tail ' || doc_id
                ELSE 'unique ' || doc_id || chr(10) || chr(10)
                     || 'tail ' || doc_id END AS clean_text,
           4::BIGINT AS n_lines,
           CASE WHEN doc_id = 0 THEN 0 ELSE 1 END::BIGINT
             AS n_lines_removed
    FROM documents
    """)
def line_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact line dedup, keep-first (datapipe/lines.py
    line_dedup — the C4-sibling line-granular scrubber): every doc
    carries a unique head line, a BLANK line (structure — never
    deduped), a shared boilerplate line whose case/whitespace varies
    per doc (the normalized dedup key is identical), and a unique
    tail line. Keep-first in global (doc_id, line_idx) order: only
    doc 0 keeps the boilerplate line, PRESERVING its original
    (un-normalized) text; every other doc loses exactly that line.
    The oracle predicts every rewritten doc by construction."""
    from ..datapipe.lines import line_dedup
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    shared = F.when(F.col("doc_id") % 2 == 0,
                    F.lit("Shared Boilerplate Line")) \
        .otherwise(F.lit("shared  boilerplate line"))
    text = F.concat(F.lit("unique "), did, F.lit("\n\n"),
                    shared, F.lit("\ntail "), did)
    out = line_dedup(docs.select("doc_id", text.alias("text")))
    return out.select("doc_id", "clean_text", "n_lines",
                      "n_lines_removed")


@query(
    "dsir_importance",
    oracle=r"""
    WITH t AS (SELECT doc_id,
        string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                     ' ') AS toks
      FROM documents),
    f AS (
      SELECT doc_id, unnest(toks) AS feat FROM t
      UNION ALL
      SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                            i -> toks[i] || ' ' || toks[i + 1])) AS feat
      FROM t),
    fb AS (SELECT doc_id,
                  ('0x' || substr(md5(feat), 1, 15))::BIGINT % 64
                    AS bucket
           FROM f),
    rm AS (SELECT bucket, count(*)::BIGINT AS n_r FROM fb
           GROUP BY bucket),
    tm AS (SELECT bucket, count(*)::BIGINT AS n_t FROM fb
           WHERE doc_id % 5 = 0 GROUP BY bucket),
    d AS (SELECT rm.bucket,
                 (length(bin(coalesce(tm.n_t, 0) + 1))::BIGINT - 1)
               - (length(bin(rm.n_r + 1))::BIGINT - 1) AS delta
          FROM rm LEFT JOIN tm ON rm.bucket = tm.bucket),
    nb AS (SELECT
        (length(bin((SELECT sum(n_r)::BIGINT FROM rm) + 64))::BIGINT - 1)
      - (length(bin((SELECT sum(n_t)::BIGINT FROM tm) + 64))::BIGINT - 1)
          AS norm_bits)
    SELECT fb.doc_id, count(*)::BIGINT AS n_feats,
           (sum(d.delta) + count(*) * nb.norm_bits)::BIGINT AS dsir_bits
    FROM fb JOIN d USING (bucket), nb
    GROUP BY fb.doc_id, nb.norm_bits
    """)
def dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance scoring (Xie et al. 2023; datapipe/dsir.py
    with_dsir_scores): hashed unigram+bigram bucket models (B=64
    here so the oracle replay is cheap) over a target slice
    (doc_id % 5 == 0) vs the whole corpus; every doc scored with its
    importance log-weight in EXACT integer bits (floor-log2 via
    length(bin(n)) - 1 — no floating-point log anywhere, so Spark and
    DuckDB agree bit-for-bit). md5 hash mode is the cross-engine
    family; xxhash64 is the production fast path (bench times it)."""
    from ..datapipe.dsir import with_dsir_scores
    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("doc_id") % 5 == 0)
    return with_dsir_scores(docs, target, num_buckets=64,
                            hash_mode="md5")


@query(
    "streaming_dsir_scoring",
    oracle=r"""
    WITH t AS (SELECT doc_id,
        string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                     ' ') AS toks
      FROM documents),
    f AS (
      SELECT doc_id, unnest(toks) AS feat FROM t
      UNION ALL
      SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                            i -> toks[i] || ' ' || toks[i + 1])) AS feat
      FROM t),
    fb AS (SELECT doc_id,
                  ('0x' || substr(md5(feat), 1, 15))::BIGINT % 64
                    AS bucket
           FROM f),
    rm AS (SELECT bucket, count(*)::BIGINT AS n_r FROM fb
           GROUP BY bucket),
    tm AS (SELECT bucket, count(*)::BIGINT AS n_t FROM fb
           WHERE doc_id % 5 = 0 GROUP BY bucket),
    d AS (SELECT rm.bucket,
                 (length(bin(coalesce(tm.n_t, 0) + 1))::BIGINT - 1)
               - (length(bin(rm.n_r + 1))::BIGINT - 1) AS delta
          FROM rm LEFT JOIN tm ON rm.bucket = tm.bucket),
    nb AS (SELECT
        (length(bin((SELECT sum(n_r)::BIGINT FROM rm) + 64))::BIGINT - 1)
      - (length(bin((SELECT sum(n_t)::BIGINT FROM tm) + 64))::BIGINT - 1)
          AS norm_bits),
    batch AS (
      SELECT doc_id + 1000000 AS doc_id,
             text || ' brand new tail tokens' AS text
      FROM documents WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 7 = 2),
    bt AS (SELECT doc_id,
        string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                     ' ') AS toks
      FROM batch),
    bf AS (
      SELECT doc_id, unnest(toks) AS feat FROM bt
      UNION ALL
      SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                            i -> toks[i] || ' ' || toks[i + 1])) AS feat
      FROM bt),
    bfb AS (SELECT doc_id,
                   ('0x' || substr(md5(feat), 1, 15))::BIGINT % 64
                     AS bucket
            FROM bf)
    SELECT bfb.doc_id, count(*)::BIGINT AS n_feats,
           (sum(coalesce(d.delta, 0))
            + count(*) * nb.norm_bits)::BIGINT AS dsir_bits
    FROM bfb LEFT JOIN d USING (bucket), nb
    GROUP BY bfb.doc_id, nb.norm_bits
    """)
def streaming_dsir_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR scoring as a STREAM (streaming/stream.py
    start_dsir_scoring): raw/target bucket models are fit ONCE from
    the documents corpus (raw = everything, target = the doc_id % 5
    slice — the same frozen pair as dsir_importance) and a batch of
    arriving docs (novel-tail rewrites + verbatim re-ingests under
    new ids) streams in as two single-file waves split by doc_id
    parity (maxFilesPerTrigger=1 => one micro-batch per wave),
    drained with trigger(availableNow) through a foreachBatch scorer
    into idempotent per-batch-id parquet. Scores are wave-independent
    (every micro-batch probes the same frozen broadcast-size models),
    so the oracle replays plain batch-mode scoring — including the
    frozen-model edge the batch form never exercises: batch features
    hashing to buckets the raw corpus never observed contribute
    delta 0 (only norm_bits)."""
    from ..datapipe.dsir import dsir_bucket_model
    from ..streaming.stream import start_dsir_scoring
    docs = _t(spark, sf_dir, "documents")
    # frozen model pair: at scale these are <= B-row parquet
    # artifacts written once per corpus snapshot; persist so the two
    # micro-batches don't re-run the corpus feature pipeline
    raw_model = dsir_bucket_model(docs, num_buckets=64,
                                  hash_mode="md5").persist()
    target_model = dsir_bucket_model(
        docs.filter(F.col("doc_id") % 5 == 0), num_buckets=64,
        hash_mode="md5").persist()
    batch = (docs.filter(F.col("doc_id") % 3 == 0)
             .select((F.col("doc_id") + 1000000).alias("doc_id"),
                     F.concat(F.col("text"),
                              F.lit(" brand new tail tokens"))
                      .alias("text"))
             .unionByName(
                 docs.filter(F.col("doc_id") % 7 == 2)
                 .select((F.col("doc_id") + 2000000).alias("doc_id"),
                         "text")))
    try:
        with _scratch("stream_dsir_q_") as base:
            stream = _stage_waves(
                spark, base,
                [(name, batch.filter(F.col("doc_id") % 2 == parity))
                 for name, parity in (("a", 0), ("b", 1))],
                batch.schema, max_files=1)
            _drain(start_dsir_scoring(
                stream, raw_model, target_model,
                os.path.join(base, "out"), os.path.join(base, "ckpt"),
                num_buckets=64, hash_mode="md5"))
            rows = (spark.read.parquet(os.path.join(base, "out"))
                    .select("doc_id", "n_feats", "dsir_bits")
                    .collect())
    finally:
        raw_model.unpersist()
        target_model.unpersist()
    return spark.createDataFrame(
        rows, "doc_id BIGINT, n_feats BIGINT, dsir_bits BIGINT")


_CLF_GOOD_DOC = ("The young man walked along the old road in the"
                 " morning while the light fell on the quiet stones"
                 " of the bridge and the people stayed near the"
                 " market.")
_CLF_JUNK_DOC = ("qk zv xw jj pq vb nm tr " * 6).strip()


def _clf_oracle() -> str:
    from ..datapipe.classifier import (TEXT_CLF_BIAS_MICRO,
                                       weights_sql_array)
    b = TEXT_CLF_BIAS_MICRO
    arr = weights_sql_array(dialect="duckdb")
    return rf"""
    WITH src AS (
      SELECT doc_id, text FROM documents
      UNION ALL SELECT 9000001, '{_CLF_GOOD_DOC}'
      UNION ALL SELECT 9000002, '{_CLF_JUNK_DOC}'),
    t AS (SELECT doc_id,
        string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                     ' ') AS toks
      FROM src),
    f AS (
      SELECT doc_id, unnest(toks) AS feat FROM t
      UNION ALL
      SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                            i -> toks[i] || ' ' || toks[i + 1])) AS feat
      FROM t),
    fb AS (SELECT doc_id,
                  ('0x' || substr(md5(feat), 1, 15))::BIGINT % 256
                    AS bucket
           FROM f),
    s AS (SELECT doc_id, count(*)::BIGINT AS n_feats,
                 (count(*) * ({b})
                  + sum(({arr})[bucket + 1]))::BIGINT
                   AS clf_score_micro
          FROM fb GROUP BY doc_id)
    SELECT doc_id, n_feats, clf_score_micro,
           CASE WHEN clf_score_micro >= 0 THEN 'good' ELSE 'junk' END
             AS clf_label
    FROM s
    """


@query("text_classifier_quality", oracle=_clf_oracle())
def text_classifier_quality(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Trained hashed-ngram quality classifier (GPT-3 Appendix A /
    fastText shape; datapipe/classifier.py): every document scored
    under the FROZEN integer logistic model — weights are a plan-time
    literal array indexed by bucket, so inference is zero joins, one
    narrow projection + one partial-aggregated groupBy(doc). Two
    planted arms (natural prose / consonant mash) prove both labels
    fire; the oracle replays featurize + literal-array lookup + the
    integer decision rule exactly."""
    from ..datapipe.classifier import with_text_classifier
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    extra = spark.createDataFrame(
        [(9000001, _CLF_GOOD_DOC), (9000002, _CLF_JUNK_DOC)],
        "doc_id BIGINT, text STRING")
    return with_text_classifier(docs.unionByName(extra))


@query(
    "dsir_topk",
    oracle=r"""
    WITH t AS (SELECT doc_id,
        string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                     ' ') AS toks
      FROM documents),
    f AS (
      SELECT doc_id, unnest(toks) AS feat FROM t
      UNION ALL
      SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                            i -> toks[i] || ' ' || toks[i + 1])) AS feat
      FROM t),
    fb AS (SELECT doc_id,
                  ('0x' || substr(md5(feat), 1, 15))::BIGINT % 64
                    AS bucket
           FROM f),
    rm AS (SELECT bucket, count(*)::BIGINT AS n_r FROM fb
           GROUP BY bucket),
    tm AS (SELECT bucket, count(*)::BIGINT AS n_t FROM fb
           WHERE doc_id % 5 = 0 GROUP BY bucket),
    d AS (SELECT rm.bucket,
                 (length(bin(coalesce(tm.n_t, 0) + 1))::BIGINT - 1)
               - (length(bin(rm.n_r + 1))::BIGINT - 1) AS delta
          FROM rm LEFT JOIN tm ON rm.bucket = tm.bucket),
    nb AS (SELECT
        (length(bin((SELECT sum(n_r)::BIGINT FROM rm) + 64))::BIGINT - 1)
      - (length(bin((SELECT sum(n_t)::BIGINT FROM tm) + 64))::BIGINT - 1)
          AS norm_bits),
    s AS (SELECT fb.doc_id, count(*)::BIGINT AS n_feats,
                 (sum(d.delta) + count(*) * nb.norm_bits)::BIGINT
                   AS dsir_bits
          FROM fb JOIN d USING (bucket), nb
          GROUP BY fb.doc_id, nb.norm_bits)
    SELECT doc_id, n_feats, dsir_bits, rank FROM (
      SELECT *, row_number() OVER (ORDER BY dsir_bits DESC, doc_id)
                  ::BIGINT AS rank
      FROM s) WHERE rank <= 25
    """)
def dsir_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR resampling as deterministic top-k (datapipe/dsir.py
    dsir_topk): the 25 most target-like docs, ties by id — the
    paper's Gumbel draw replaced by a stable order so engines agree.
    Spark executes the rank as WindowGroupLimit (each task forwards
    <= k rows to the single reducer; the corpus never reaches the
    global window)."""
    from ..datapipe.dsir import dsir_topk
    docs = _t(spark, sf_dir, "documents")
    return dsir_topk(docs, docs.filter(F.col("doc_id") % 5 == 0),
                     k=25, num_buckets=64, hash_mode="md5")


@query(
    "events_asof_join",
    oracle=r"""
    WITH err AS (SELECT * FROM events WHERE event_type = 'error'),
    clk AS (SELECT * FROM events WHERE event_type = 'click'),
    m AS (
      SELECT e.event_id AS error_id, e.user_id,
             epoch_us(e.ts) AS err_us,
             (SELECT c.event_id FROM clk c
              WHERE c.user_id = e.user_id AND c.ts < e.ts
              ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS click_id
      FROM err e)
    SELECT m.error_id, m.user_id, m.err_us, m.click_id,
           epoch_us(c.ts) AS click_us,
           m.err_us - epoch_us(c.ts) AS gap_us
    FROM m LEFT JOIN clk c ON c.event_id = m.click_id
    """)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (datapipe/temporal.py asof_join): every error event
    attributed to the latest STRICTLY-prior click by the same user
    (largest event_id breaks equal-ts ties), nulls when no click
    preceded. Spark lacks ASOF JOIN; the impl is the union-tag +
    keyed-window pattern — one exchange on user_id, no join node —
    while the oracle is an independent formulation (DuckDB correlated
    top-1 subquery), so the comparison is cross-algorithm, not a
    replay."""
    from ..datapipe.temporal import asof_join
    ev = _t(spark, sf_dir, "events")
    errors = (ev.filter(F.col("event_type") == "error")
              .select("user_id", "ts",
                      F.col("event_id").alias("error_id"),
                      F.unix_micros(F.col("ts").cast("timestamp"))
                       .alias("err_us")))
    clicks = (ev.filter(F.col("event_type") == "click")
              .select("user_id", "ts", "event_id",
                      F.unix_micros(F.col("ts").cast("timestamp"))
                       .alias("c_us")))
    out = asof_join(errors, clicks, on="user_id", ts="ts",
                    right_cols=["event_id", "c_us"],
                    tiebreak="event_id", allow_exact_matches=False)
    return out.select(
        "error_id", "user_id", "err_us",
        F.col("asof_event_id").alias("click_id"),
        F.col("asof_c_us").alias("click_us"),
        (F.col("err_us") - F.col("asof_c_us")).cast("long")
         .alias("gap_us"))


@query(
    "events_sessionize",
    oracle=r"""
    WITH o AS (
      SELECT user_id, epoch_us(ts) AS us,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                          > 1800000000
                  THEN 1 ELSE 0 END AS boundary
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT user_id, us,
             (sum(boundary) OVER (PARTITION BY user_id ORDER BY us
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - 1)::BIGINT AS session_idx
      FROM o)
    SELECT user_id, session_idx, count(*)::BIGINT AS n_events,
           min(us) AS sess_start_us, max(us) AS sess_end_us,
           (max(us) - min(us))::BIGINT AS duration_us
    FROM s GROUP BY user_id, session_idx
    """)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization (datapipe/temporal.py session_stats): per
    user, a new session when > 30 idle minutes; per-session count /
    bounds / duration in exact integer microseconds. ONE shuffle
    end-to-end — the (user, session_idx) aggregate reuses the keyed
    window's exchange (plan-gated)."""
    from ..datapipe.temporal import session_stats
    ev = _t(spark, sf_dir, "events")
    return session_stats(ev, key="user_id", ts="ts",
                         gap_us=1_800_000_000, order_tiebreak="event_id")


_BLOOM_M = 1 << 20
_BLOOM_K = 5


def _bloom_oracle() -> str:
    m, k = _BLOOM_M, _BLOOM_K
    def pos(src_norm_col: str) -> str:
        return (f"(('0x' || substr(md5({src_norm_col}), 1, 15))::BIGINT"
                f" % {m}"
                f" + i.i * (1 + ('0x' || substr(md5({src_norm_col}),"
                f" 17, 15))::BIGINT % {m - 1})) % {m}")
    return rf"""
    WITH corpus AS (
      SELECT text FROM documents WHERE doc_id % 4 != 0),
    batch AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 8 = 1
      UNION ALL
      SELECT doc_id + 2000000, text || ' extra trailing words appended'
      FROM documents WHERE doc_id % 8 = 5),
    cn AS (SELECT lower(regexp_replace(trim(text), '\s+', ' ', 'g'))
             AS t FROM corpus),
    cpos AS (SELECT DISTINCT {pos('t')} AS pos
             FROM cn, range(0, {k}) i(i)),
    bn AS (SELECT doc_id,
                  lower(regexp_replace(trim(text), '\s+', ' ', 'g'))
                    AS t FROM batch),
    bpos AS (SELECT doc_id, {pos('t')} AS pos
             FROM bn, range(0, {k}) i(i))
    SELECT b.doc_id,
           (min(CASE WHEN c.pos IS NOT NULL THEN 1 ELSE 0 END) = 1)
             AS maybe_seen
    FROM bpos b LEFT JOIN cpos c USING (pos)
    GROUP BY b.doc_id
    """


@query("dedup_bloom_probe", oracle=_bloom_oracle())
def dedup_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership probe (datapipe/bloom.py): 75% of
    documents form the seen corpus, compressed to a 2^20-bit bitmap
    built distributively (one partial bitmap per partition, OR-merged
    — no shuffle) and broadcast; the arriving batch (25% unseen docs
    + verbatim re-ingests under new ids, k % 8 == 1, which MUST flag
    — bloom has zero false negatives — + near-dup rewrites,
    k % 8 == 5, which must NOT: membership is exact) probes it with
    a vectorized numpy bit test, zero shuffle. The driver row
    exercises the REAL bitmap kernel in md5 hash mode; the oracle
    replays the equivalent position-set join in DuckDB (the bitmap is
    the set's dense representation — same function, different
    representation; equality of the two forms is also asserted
    in tests/test_bloom.py)."""
    from ..datapipe.bloom import build_bloom_bitmap, bloom_probe
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 4 != 0).select("text")
    batch = (docs.filter(F.col("doc_id") % 4 == 0)
             .select("doc_id", "text")
             .unionByName(
                 docs.filter(F.col("doc_id") % 8 == 1)
                 .select((F.col("doc_id") + 1000000).alias("doc_id"),
                         "text"))
             .unionByName(
                 docs.filter(F.col("doc_id") % 8 == 5)
                 .select((F.col("doc_id") + 2000000).alias("doc_id"),
                         F.concat(F.col("text"),
                                  F.lit(" extra trailing words appended"))
                          .alias("text"))))
    bitmap = build_bloom_bitmap(corpus, m_bits=_BLOOM_M, k=_BLOOM_K,
                                hash_mode="md5")
    return (bloom_probe(batch, bitmap, m_bits=_BLOOM_M, k=_BLOOM_K,
                        hash_mode="md5")
            .select("doc_id", "maybe_seen"))


_WARC_HTTP_HDR = ("HTTP/1.1 200 OK\r\n"
                  "Content-Type: text/html; charset=utf-8\r\n\r\n")
_WARC_SHARDS = 8


def _warc_stage_dir(sf_dir: str) -> str:
    import hashlib
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    return os.path.join(tempfile.gettempdir(), f"warc_stage_{tag}")


def _stage_warc_fixtures(spark: SparkSession, sf_dir: str) -> str:
    """Deterministic WARC shards built from the documents table: one
    warcinfo record then the shard's documents as HTTP response
    records in doc_id order. Shards 0-3 are plain WARC, shards 4-7
    member-gzip (.warc.gz) — both layouts must read back identically
    (the oracle cannot tell them apart). Idempotent overwrite per
    (sf_dir)."""
    from ..sources.warc import build_warc, build_warc_gz
    out_dir = _warc_stage_dir(sf_dir)
    shutil.rmtree(out_dir, ignore_errors=True)  # no stale shards
    os.makedirs(out_dir)
    rows = sorted(
        (r["doc_id"], r["text"]) for r in
        _t(spark, sf_dir, "documents").select("doc_id", "text").collect())
    shards: list[list[dict]] = [
        [{"warc_type": "warcinfo",
          "payload": b"software: textract-demo-spark\r\n",
          "content_type": "application/warc-fields"}]
        for _ in range(_WARC_SHARDS)]
    for doc_id, text in rows:
        shards[doc_id % _WARC_SHARDS].append({
            "warc_type": "response",
            "target_uri": f"https://example.org/doc/{doc_id}",
            "content_type": "application/http; msgtype=response",
            "payload": (_WARC_HTTP_HDR + _PRE + text + _POST
                        ).encode("utf-8"),
        })
    for i, recs in enumerate(shards):
        if i < _WARC_SHARDS // 2:
            path = os.path.join(out_dir, f"shard-{i}.warc")
            data = build_warc(recs)
        else:
            path = os.path.join(out_dir, f"shard-{i}.warc.gz")
            data = build_warc_gz(recs)
        with open(path, "wb") as fh:
            fh.write(data)
    return out_dir


@query(
    "warc_ingest_extract",
    oracle=f"""
    SELECT doc_id,
           row_number() OVER (PARTITION BY doc_id % {_WARC_SHARDS}
                              ORDER BY doc_id)::BIGINT AS rec_idx,
           200::INTEGER AS http_status,
           'https://example.org/doc/' || doc_id AS target_uri,
           text AS main_text,
           {len(_PRE)}::BIGINT AS span_start,
           ({len(_PRE)} + length(text))::BIGINT AS span_end,
           ({len(_PRE.encode()) + len(_POST.encode())}::BIGINT
            + strlen(text)) AS body_bytes
    FROM documents
    """)
def warc_ingest_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end web-archive ingestion (sources/warc.py): documents
    are serialized into 8 uncompressed WARC shard files (warcinfo
    record + one HTTP response record per doc), read back through
    binaryFile + the Content-Length-driven record splitter (file-
    granular parallelism, no shuffle), HTTP-split, and the HTML
    bodies run the REAL extraction pipeline. The oracle predicts
    every field from the documents table alone — record index within
    shard (warcinfo occupies index 0), status, URI, extracted main
    text, span offsets (chars) and body byte length — so the parser
    round-trip, the HTTP split, and the extractor are all on the
    hook at once."""
    from ..sources.warc import read_warc
    stage = _stage_warc_fixtures(spark, sf_dir)
    parsed = (read_warc(spark, f"{stage}/*.warc*")
              .filter(F.col("warc_type") == "response")
              .withColumn(
                  "doc_id",
                  F.element_at(F.split("target_uri", "/"), -1)
                   .cast("long")))
    meta = parsed.select("doc_id", "rec_idx", "http_status",
                         "target_uri",
                         F.octet_length("body").alias("body_bytes"))
    out = _run_extraction(_docs_as_turns(parsed, F.col("body")))
    return (out.join(F.broadcast(meta), "doc_id")
            .select("doc_id", "rec_idx", "http_status", "target_uri",
                    "main_text",
                    F.expr("spans[0].start").alias("span_start"),
                    F.expr("spans[0].end").alias("span_end"),
                    "body_bytes"))


@query(
    "streaming_sessionize",
    oracle=r"""
    WITH o AS (
      SELECT user_id, epoch_us(ts) AS us,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                          > 7200000000
                  THEN 1 ELSE 0 END AS boundary
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT user_id, us,
             sum(boundary) OVER (PARTITION BY user_id ORDER BY us
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_idx
      FROM o)
    SELECT user_id, min(us) AS sess_start_us, max(us) AS sess_end_us,
           count(*)::BIGINT AS n_events
    FROM s GROUP BY user_id, session_idx
    """)
def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization as a STREAM (streaming/stream.py
    start_session_rollup): the events table arrives as two
    CHRONOLOGICAL single-file waves (maxFilesPerTrigger=1 => one
    micro-batch each), sessionized by Spark's native session_window
    with a 2 h gap in append mode. Sessions spanning the wave
    boundary are merged by the state store across micro-batches
    (the chronological split makes the 0-delay watermark safe: a
    session continuing into wave B cannot have closed in wave A,
    since its next event would be within the gap and therefore in
    wave A). A far-future sentinel event in the last wave advances
    the watermark so every real session finalizes within one
    availableNow drain; the sentinel's own session never closes and
    is never emitted. The oracle is the BATCH gap-sessionization SQL
    — streaming and batch must agree row-for-row, including
    sess_end_us = session_window.end - gap (session_window pads the
    close by the gap)."""
    from ..streaming.stream import start_session_rollup
    gap_sec = 7200
    ev = (_t(spark, sf_dir, "events")
          .select("user_id", F.col("ts").cast("timestamp").alias("ts"),
                  "event_id"))
    mid = F.to_timestamp(F.lit("2024-01-16 00:00:00"))
    sentinel = spark.createDataFrame(
        [(-1, "2030-01-01 00:00:00", -1)],
        "user_id BIGINT, ts STRING, event_id BIGINT").select(
        "user_id", F.to_timestamp("ts").alias("ts"), "event_id")
    waves = [("a", ev.filter(F.col("ts") < mid)),
             ("b", ev.filter(F.col("ts") >= mid).unionByName(sentinel))]
    with _scratch("stream_sess_q_") as base:
        stream = _stage_waves(
            spark, base, waves,
            "user_id BIGINT, ts TIMESTAMP, event_id BIGINT", max_files=1)
        _drain(start_session_rollup(stream, os.path.join(base, "out"),
                                    os.path.join(base, "ckpt"),
                                    gap_sec=gap_sec))
        rows = (spark.read.parquet(os.path.join(base, "out"))
                .select("user_id", "sess_start_us", "sess_end_us",
                        "n_events")
                .collect())
    return spark.createDataFrame(
        rows, "user_id BIGINT, sess_start_us BIGINT,"
              " sess_end_us BIGINT, n_events BIGINT")


@query(
    "events_point_in_session",
    oracle=r"""
    WITH nonerr AS (
      SELECT user_id, ts, event_id FROM events
      WHERE event_type != 'error'),
    o AS (
      SELECT user_id, epoch_us(ts) AS us,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                          > 7200000000
                  THEN 1 ELSE 0 END AS boundary
      FROM nonerr
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT user_id, us,
             (sum(boundary) OVER (PARTITION BY user_id ORDER BY us
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - 1)::BIGINT AS session_idx
      FROM o),
    sess AS (
      SELECT user_id, session_idx, min(us) AS sess_start_us,
             max(us) AS sess_end_us
      FROM s GROUP BY user_id, session_idx)
    SELECT e.event_id AS error_id, e.user_id,
           epoch_us(e.ts) AS err_us,
           sess.session_idx, sess.sess_start_us, sess.sess_end_us
    FROM events e
    JOIN sess ON sess.user_id = e.user_id
             AND sess.sess_start_us <= epoch_us(e.ts)
             AND epoch_us(e.ts) <= sess.sess_end_us
    WHERE e.event_type = 'error'
    """)
def events_point_in_session(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Point-in-interval (range) join (datapipe/temporal.py
    point_in_interval_join): every error event attributed to the
    2 h-gap session (built from the NON-error events) whose span
    contains it. The Spark side is the binning rewrite — intervals
    explode to coarse time bins, points join their single bin by
    EQUALITY, containment is a residual filter (no BNLJ, no
    cartesian; plan-gated). The oracle is the naive theta join in
    DuckDB — an independent formulation, so bin-boundary bugs
    (session spanning bins, point on an inclusive bound) cannot
    cancel out."""
    from ..datapipe.temporal import point_in_interval_join, session_stats
    ev = _t(spark, sf_dir, "events")
    sessions = session_stats(
        ev.filter(F.col("event_type") != "error"),
        key="user_id", ts="ts", gap_us=7_200_000_000,
        order_tiebreak="event_id").drop("duration_us", "n_events")
    errors = (ev.filter(F.col("event_type") == "error")
              .select("user_id", "ts",
                      F.col("event_id").alias("error_id"),
                      F.unix_micros(F.col("ts").cast("timestamp"))
                       .alias("err_us")))
    out = point_in_interval_join(errors, sessions, on="user_id",
                                 ts="ts", bin_us=7_200_000_000)
    return out.select("error_id", "user_id", "err_us", "session_idx",
                      "sess_start_us", "sess_end_us")


@query(
    "multimodal_png_decode",
    oracle="""
    WITH p AS (
      SELECT doc_id,
        2 + doc_id % 5 AS w, 1 + doc_id % 3 AS h,
        doc_id % 200 AS r0, (7 * doc_id) % 200 AS g0,
        (13 * doc_id) % 200 AS b0
      FROM documents),
    q AS (
      SELECT doc_id, w, h,
        -- sum over pixels of (c0 + x + y); values stay < 256 by
        -- construction so no mod wrap
        w*h*r0 + h*(w*(w-1)//2) + w*(h*(h-1)//2) AS sum_r,
        w*h*g0 + h*(w*(w-1)//2) + w*(h*(h-1)//2) AS sum_g,
        w*h*b0 + h*(w*(w-1)//2) + w*(h*(h-1)//2) AS sum_b
      FROM p)
    SELECT doc_id, 'image/png' AS media_type,
           w::BIGINT AS width, h::BIGINT AS height,
           0::BIGINT AS n_samples, 0::BIGINT AS sample_rate,
           CASE WHEN doc_id % 3 = 0 THEN (1000*sum_g)//(w*h)
                ELSE (1000*sum_r)//(w*h) END::BIGINT AS ch0_milli,
           ((1000*sum_g)//(w*h))::BIGINT AS ch1_milli,
           CASE WHEN doc_id % 3 = 0 THEN (1000*sum_g)//(w*h)
                ELSE (1000*sum_b)//(w*h) END::BIGINT AS ch2_milli
    FROM q
    """)
def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-image decode end-to-end (datapipe/multimodal.py
    decode_png — zlib IS stdlib, so PNG needs no external codec): one
    gradient PNG per document, synthesized in an Arrow-batched
    builder with the scanline FILTER TYPE cycling doc_id % 5 — every
    reconstruction path (None/Sub/Up/Average/Paeth) sits under the
    driver oracle — and docs with doc_id % 3 == 0 written GRAYSCALE
    (color type 0; decode reports r=g=b). CRC-verified chunk walk,
    inflate, unfilter, exact integer channel sums; the oracle
    predicts every feature in closed form from doc_id alone."""
    from pyspark.sql.types import BinaryType

    from ..datapipe.multimodal import build_png, media_features

    @F.pandas_udf(BinaryType())
    def synth(doc_ids: pd.Series) -> pd.Series:
        out = []
        for doc_id in doc_ids:
            d = int(doc_id)
            w, h = 2 + d % 5, 1 + d % 3
            ft = d % 5
            if d % 3 == 0:
                g0 = (7 * d) % 200
                px = [g0 + x + y for y in range(h) for x in range(w)]
                out.append(build_png(w, h, px, color_type=0,
                                     filter_type=ft))
            else:
                base = (d % 200, (7 * d) % 200, (13 * d) % 200)
                px = [tuple(c0 + x + y for c0 in base)
                      for y in range(h) for x in range(w)]
                out.append(build_png(w, h, px, filter_type=ft))
        return pd.Series(out)

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        "doc_id", synth(F.col("doc_id")).alias("media"),
        F.lit("image/png").alias("media_type"))
    return media_features(media)


def _bpe_oracle() -> str:
    from ..datapipe.bpe import _BPE_FIXTURE, bpe_sql_expr
    expr = bpe_sql_expr("text", dialect="duckdb")
    return f"""
    WITH src AS (
      SELECT doc_id, text FROM documents
      UNION ALL SELECT 9000001, '{_BPE_FIXTURE}'
      UNION ALL SELECT 9000002, 'aaaa aaa a the lowest newer'),
    seg AS (SELECT doc_id, {expr} AS s FROM src)
    SELECT doc_id,
           CASE WHEN s = '' THEN 0
                ELSE len(string_split(s, ' ')) END::BIGINT AS n_bpe,
           md5(s) AS bpe_md5
    FROM seg
    """


@query("bpe_tokenize", oracle=_bpe_oracle())
def bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenization under the FROZEN merge table (datapipe/bpe.py;
    trained by the committed reference trainer on the fixture corpus,
    reproduced in tests): the Spark side runs the CANONICAL greedy
    per-word kernel (Arrow-batched pandas UDF with a word memo — the
    production path), the oracle runs the plan-time literal
    replace-chain form in DuckDB, and the md5 of the full space-
    joined segmentation must agree per document — so the two
    formulations certify each other cross-engine, including the
    self-chaining-run arm ('aaaa aaa a') where naive single-pass
    replace semantics diverge from canonical BPE, and the fixture
    arm where every frozen merge fires."""
    from ..datapipe.bpe import _BPE_FIXTURE, apply_bpe
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    extra = spark.createDataFrame(
        [(9000001, _BPE_FIXTURE),
         (9000002, "aaaa aaa a the lowest newer")],
        "doc_id BIGINT, text STRING")
    seg = apply_bpe(docs.unionByName(extra))
    return seg.select(
        "doc_id",
        F.size("bpe_tokens").cast("long").alias("n_bpe"),
        F.md5(F.concat_ws(" ", "bpe_tokens")).alias("bpe_md5"))


# ---------------------------------------------------------------------------
# Sketch family: HLL distinct registers + count-min heavy hitters
# (datapipe/sketch.py) — the driver rows compare the sketch CONTENT
# (pure integer algebra), so approximate operators get exact oracles.

@query(
    "hll_register_sketch",
    oracle=r"""
    WITH h AS (SELECT source,
        ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
      FROM documents),
    b AS (SELECT source, h % 256 AS bucket, h // 256 AS w FROM h),
    r AS (SELECT source, bucket,
            CASE WHEN w = 0 THEN 53
                 ELSE 52 - (length(bin(w)) - 1) END AS rho
          FROM b)
    SELECT source, bucket::BIGINT AS bucket, max(rho)::BIGINT AS rho
    FROM r GROUP BY source, bucket
    """)
def hll_register_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog register table per source (datapipe/sketch.py
    hll_registers, p=8 -> 256 buckets, md5 hash mode): the full
    distinct-count sketch state as rows — ONE groupBy((source,
    bucket)) exchange whose map-side partial max collapses every
    within-partition value, so the shuffle is bounded by groups x 256
    regardless of corpus size. rho is exact integer bits
    (length(bin(w)) - 1), so DuckDB replays the registers
    bit-for-bit; merge-associativity and the float estimator's
    accuracy band are pytest properties (tests/test_sketch.py)."""
    from ..datapipe.sketch import hll_registers
    docs = _t(spark, sf_dir, "documents")
    return hll_registers(docs, value_col="text", group_cols=("source",),
                         p=8, hash_mode="md5").select(
        "source", "bucket", "rho")


@query(
    "sketch_theta_setops",
    oracle=r"""
    WITH d AS (SELECT DISTINCT source,
        ('0x' || substr(md5(substr(text, 1, 16)), 1, 15))::BIGINT AS h
      FROM documents),
    sk AS (SELECT source, h FROM d
           QUALIFY row_number()
             OVER (PARTITION BY source ORDER BY h) <= 16),
    th AS (SELECT source,
             CASE WHEN count(*) >= 16 THEN max(h)
                  ELSE 1152921504606846976 END AS theta
           FROM sk GROUP BY source),
    pairs AS (SELECT a.source AS g_a, b.source AS g_b,
                least(a.theta, b.theta) AS theta
              FROM th a JOIN th b ON a.source < b.source),
    u AS (SELECT p.g_a, p.g_b, p.theta, s.h
            FROM pairs p JOIN sk s ON s.source = p.g_a
          UNION
          SELECT p.g_a, p.g_b, p.theta, s.h
            FROM pairs p JOIN sk s ON s.source = p.g_b),
    un AS (SELECT g_a, g_b, theta, count(DISTINCT h) AS n_union
           FROM u WHERE h < theta GROUP BY g_a, g_b, theta),
    i AS (SELECT p.g_a, p.g_b, count(*) AS n_inter
          FROM pairs p
          JOIN sk sa ON sa.source = p.g_a
          JOIN sk sb ON sb.source = p.g_b AND sb.h = sa.h
          WHERE sa.h < p.theta
          GROUP BY p.g_a, p.g_b)
    SELECT un.g_a, un.g_b, un.theta::BIGINT AS theta,
           un.n_union::BIGINT AS n_union,
           coalesce(i.n_inter, 0)::BIGINT AS n_inter
    FROM un LEFT JOIN i ON un.g_a = i.g_a AND un.g_b = i.g_b
    """)
def sketch_theta_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/KMV sketch set operations (datapipe/sketch.py kmv_sketch
    + kmv_set_ops, k=16, md5 mode): the k smallest distinct hashes
    per source over 16-char text prefixes (prefixes overlap across
    sources, so intersections are non-trivial), then the pairwise
    union/intersection survivor counts below theta = min of the two
    groups' k-th minimum — the set algebra HLL cannot do (Datasketches
    theta model). Build is one distinct exchange + a WindowGroupLimit
    bottom-k (map partitions forward at most k rows per group); the
    set ops run on k-row dimension frames, all broadcast. The integer
    columns (theta, n_union, n_inter) are the cross-engine contract;
    the float estimators are pytest-bounded (tests/test_sketch.py)."""
    from ..datapipe.sketch import kmv_set_ops, kmv_sketch
    docs = _t(spark, sf_dir, "documents")
    sk = kmv_sketch(docs, value_col="substr(text, 1, 16)",
                    group_cols=("source",), k=16, hash_mode="md5")
    return (kmv_set_ops(sk, k=16, group_col="source")
            .select("g_a", "g_b", "theta", "n_union", "n_inter"))


@query(
    "cms_heavy_hitters",
    oracle=r"""
    WITH tok AS (SELECT unnest(string_split(lower(regexp_replace(
            trim(text), '\s+', ' ', 'g')), ' ')) AS token
        FROM documents),
    ex AS (SELECT token, count(*)::BIGINT AS exact_n
           FROM tok GROUP BY token),
    sk AS (SELECT i.i AS i,
             ('0x' || substr(md5(i.i::VARCHAR || '#' || token), 1, 15)
              )::BIGINT % 512 AS bucket,
             sum(exact_n) AS cnt
           FROM ex, range(0, 3) i(i) GROUP BY 1, 2),
    pr AS (SELECT token, exact_n,
             row_number() OVER (ORDER BY exact_n DESC, token)::BIGINT
               AS rank
           FROM ex QUALIFY rank <= 20),
    pe AS (SELECT p.token, i.i AS i,
             ('0x' || substr(md5(i.i::VARCHAR || '#' || p.token), 1, 15)
              )::BIGINT % 512 AS bucket
           FROM pr p, range(0, 3) i(i)),
    est AS (SELECT pe.token, min(coalesce(sk.cnt, 0))::BIGINT AS cms_est
            FROM pe LEFT JOIN sk USING (i, bucket) GROUP BY pe.token)
    SELECT p.token, p.rank, p.exact_n, e.cms_est
    FROM pr p JOIN est e USING (token)
    """)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the corpus token stream (datapipe/
    sketch.py, depth=3 x width=512, md5 mode): build the fixed counter
    table from exact per-token counts (ONE occurrence-collapsing
    exchange; the depth-explode touches only distinct keys), then
    probe the exact top-20 tokens back through the sketch. The driver
    row certifies the whole counter table's algebra via the probe:
    cms_est must equal the oracle's replay exactly, and the CMS
    invariant est >= exact holds by construction (asserted for every
    key in tests/test_sketch.py)."""
    from ..datapipe.sketch import cms_build, cms_probe
    from ..datapipe.textstats import _tokens
    from pyspark.sql import Window
    docs = _t(spark, sf_dir, "documents")
    exact = (docs
             .select(F.explode(F.expr(_tokens("text"))).alias("token"))
             .groupBy("token")
             .agg(F.count("*").cast("long").alias("exact_n"))
             .persist())
    sketch = cms_build(exact, "token", depth=3, width=512,
                       weight_col="exact_n", hash_mode="md5")
    w = Window.orderBy(F.col("exact_n").desc(), F.col("token"))
    probes = (exact
              .withColumn("rank", F.row_number().over(w).cast("long"))
              .filter(F.col("rank") <= 20))
    est = cms_probe(sketch, probes.select("token"), "token",
                    depth=3, width=512, hash_mode="md5")
    out = (probes.join(est, "token")
           .select("token", "rank", "exact_n", "cms_est"))
    out._cached_banded = exact  # noqa: SLF001 — release handle
    return out


@query(
    "chunk_overlap",
    oracle=r"""
    WITH n AS (SELECT doc_id,
        trim(regexp_replace(text, '\s+', ' ', 'g')) AS t
      FROM documents),
    tok AS (SELECT doc_id, string_split(t, ' ') AS toks
            FROM n WHERE t <> ''),
    st AS (SELECT doc_id, toks,
             unnest(generate_series(0, len(toks) - 1, 16)) AS start
           FROM tok)
    SELECT doc_id, (start // 16)::BIGINT AS chunk_idx,
           len(toks[start + 1 : start + 24])::BIGINT AS n_chunk_tokens,
           array_to_string(toks[start + 1 : start + 24], ' ')
             AS chunk_text
    FROM st
    """)
def chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token chunking with overlap (datapipe/chunks.py,
    size=24 stride=16 -> consecutive chunks share 8 tokens): the
    context-window precursor stage. Narrow per-row algebra — zero
    shuffle, scan pruned to (doc_id, text); the oracle replays every
    chunk token-for-token via the same slice arithmetic."""
    from ..datapipe.chunks import chunk_with_overlap
    docs = _t(spark, sf_dir, "documents")
    return chunk_with_overlap(docs, size=24, stride=16).select(
        "doc_id", "chunk_idx", "n_chunk_tokens", "chunk_text")


@query(
    "tfidf_top_terms",
    oracle=r"""
    WITH tok AS (SELECT doc_id, unnest(string_split(lower(
            regexp_replace(trim(text), '\s+', ' ', 'g')), ' '))
          AS token FROM documents),
    tf AS (SELECT doc_id, token, count(*)::BIGINT AS tf
           FROM tok GROUP BY doc_id, token),
    dfq AS (SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY token),
    nd AS (SELECT count(DISTINCT doc_id)::BIGINT AS n_docs FROM tf),
    sc AS (SELECT t.doc_id, t.token, t.tf, d.df,
             (length(bin(n.n_docs // d.df)) - 1)::BIGINT AS idf_bits
           FROM tf t JOIN dfq d USING (token), nd n),
    r AS (SELECT doc_id, token, tf, df, idf_bits,
            (tf * idf_bits)::BIGINT AS score,
            row_number() OVER (PARTITION BY doc_id
                ORDER BY tf * idf_bits DESC, token)::BIGINT AS rank
          FROM sc)
    SELECT doc_id, rank, token, tf, df, idf_bits, score
    FROM r WHERE rank <= 3
    """)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document characteristic terms by TF-IDF with exact integer
    IDF bits (datapipe/textstats.py tfidf_top_terms): floor(log2(N/df))
    as length(bin(N div df)) - 1 — no float log, so the driver row
    hash-compares scores exactly. Scale shape: one occurrence-
    collapsing (doc, token) exchange, document frequency derived from
    that same frame and joined back as a broadcast (vocabulary is
    zipf-bounded), per-doc rank as WindowGroupLimit."""
    from ..datapipe.textstats import tfidf_top_terms as _tfidf
    docs = _t(spark, sf_dir, "documents")
    return _tfidf(docs, k=3)


# ---------------------------------------------------------------------------
# Search / retrieval family (datapipe/search.py): positional inverted
# index, integer-exact BM25 ranking, index-answered phrase search.

@query(
    "search_inverted_index",
    oracle=r"""
    WITH n AS (SELECT doc_id, string_split(lower(regexp_replace(
          trim(text), '\s+', ' ', 'g')), ' ') AS toks
        FROM documents),
    p AS (SELECT doc_id, toks,
            unnest(generate_series(0, len(toks) - 1)) AS pos
          FROM n),
    t AS (SELECT doc_id, pos, toks[pos + 1] AS token
          FROM p WHERE toks[pos + 1] <> '')
    SELECT token, doc_id, count(*)::BIGINT AS tf,
           min(pos)::BIGINT AS first_pos,
           string_agg(pos::VARCHAR, ',' ORDER BY pos) AS pos_csv
    FROM t GROUP BY token, doc_id
    """)
def search_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional inverted index over the corpus (datapipe/search.py
    build_inverted_index): one groupBy((token, doc_id)) exchange with
    map-side partial aggregation — occurrences collapse in-partition
    and hot tokens spread over tasks because doc_id is in the key.
    The oracle replays every posting INCLUDING the full position list
    (CSV-joined so the hash compare covers order)."""
    from ..datapipe.search import build_inverted_index
    docs = _t(spark, sf_dir, "documents")
    idx = build_inverted_index(docs)
    return idx.select(
        "token", "doc_id", "tf",
        F.element_at("positions", 1).cast("long").alias("first_pos"),
        F.array_join("positions", ",").alias("pos_csv"))


_BM25_QUERY = "dup merge join"


def _bm25_oracle() -> str:
    from ..datapipe.search import bm25_oracle_sql
    return bm25_oracle_sql(_BM25_QUERY, k=10)


@query("search_bm25_topk", oracle=None)  # oracle attached below
def search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact BM25 top-10 for a fixed query (datapipe/
    search.py bm25_topk, k1=1.2 b=0.75 in milli fixed-point, IDF in
    exact integer bits): document length rides the token explode (no
    corpus-sized self-join), document frequency and the corpus N /
    avgdl aggregate come back broadcast, and the rank window executes
    as a partial top-k. 'dup' is the rare discriminative term
    (df=25 at sf0.01) — common terms hit idf_bits = 0 and contribute
    nothing, exactly the BM25 stopword property, so the ranking is
    decided by rare-term tf x length normalization."""
    from ..datapipe.search import bm25_topk
    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(docs, _BM25_QUERY, k=10)


ORACLES["search_bm25_topk"] = _bm25_oracle()


_PHRASE = "hash join"


def _phrase_oracle() -> str:
    from ..datapipe.search import phrase_oracle_sql
    return phrase_oracle_sql(_PHRASE)


@query("search_phrase", oracle=None)  # oracle attached below
def search_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase occurrences answered from the positional index
    ALONE (datapipe/search.py phrase_search): postings of the
    phrase's tokens offset-align against a broadcast (i, token) map
    and one groupBy((doc, start)) requires all offsets present. The
    oracle is an INDEPENDENT algorithm — DuckDB slices the token
    list at every start and compares with the phrase list — so
    agreement certifies the index construction, the offset algebra,
    and the all-present check at once."""
    from ..datapipe.search import build_inverted_index, phrase_search
    docs = _t(spark, sf_dir, "documents")
    idx = build_inverted_index(docs)
    return phrase_search(idx, _PHRASE)


ORACLES["search_phrase"] = _phrase_oracle()


@query(
    "dedup_star_clusters",
    oracle=r"""
    WITH RECURSIVE ids AS (SELECT doc_id FROM documents),
    e0 AS (
      SELECT doc_id AS a, doc_id + 1 AS b FROM ids
      WHERE doc_id % 97 != 96
        AND EXISTS (SELECT 1 FROM ids i2 WHERE i2.doc_id = ids.doc_id + 1)
      UNION
      SELECT doc_id - (doc_id % 97) AS a, doc_id AS b FROM ids
      WHERE doc_id % 7 = 3 AND doc_id % 97 != 0),
    e AS (SELECT a, b FROM e0 UNION SELECT b, a AS b FROM e0),
    comp AS (
      SELECT doc_id AS v, doc_id AS r FROM ids
      UNION
      SELECT e.b, c.r FROM comp c JOIN e ON e.a = c.v)
    SELECT v AS doc_id, min(r) AS cluster_id FROM comp GROUP BY v
    """)
def dedup_star_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via alternating large-star/small-star
    contraction (datapipe/dedup.py star_clusters, Kiveris et al.
    2014) on the graph shape label propagation CANNOT finish: chains
    of 97 consecutive doc ids (diameter 96 >> the 25-round LP cap)
    plus an in-chain hub (every doc_id % 7 == 3 links to its chain
    head) for the high-degree skew case. Star contraction converges
    in O(log^2 n) rounds regardless of diameter, so this is the
    10^9-doc scale path for cluster formation. The oracle recomputes
    the components independently as a DuckDB recursive CTE over the
    same edge rules."""
    from ..datapipe.dedup import star_clusters
    ids = (_t(spark, sf_dir, "documents")
           .select(F.col("doc_id").cast("long").alias("doc_id")))
    exist = ids.select(F.col("doc_id").alias("id_b"))
    chain = (ids.filter(F.col("doc_id") % 97 != 96)
             .select(F.col("doc_id").alias("id_a"),
                     (F.col("doc_id") + 1).alias("id_b"))
             .join(F.broadcast(exist), "id_b", "left_semi"))
    hub = (ids.filter((F.col("doc_id") % 7 == 3)
                      & (F.col("doc_id") % 97 != 0))
           .select((F.col("doc_id") - F.col("doc_id") % 97)
                   .alias("id_a"),
                   F.col("doc_id").alias("id_b")))
    return star_clusters(ids, chain.unionByName(hub))


# ---- web-graph family (datapipe/webgraph.py) -----------------------
# Shared fixture SQL (valid in BOTH engines: CAST AS STRING, ||, %):
# five URL shapes per doc covering case, default/explicit ports,
# userinfo, duplicate slashes, tracking params, fragments, empty
# query, and a relative (non-canonicalizable -> NULL) arm.

_URL_BUILD = (
    "CASE doc_id % 5"
    " WHEN 0 THEN 'HTTP://WWW.Shop' || CAST(doc_id % 23 AS STRING)"
    " || '.COM:80//catalog//item/' || CAST(doc_id % 101 AS STRING)"
    " || '/?utm_source=feed&b=' || CAST(doc_id % 7 AS STRING)"
    " || '&a=1#frag'"
    " WHEN 1 THEN 'https://Docs.Example' || CAST(doc_id % 13 AS STRING)"
    " || '.ORG:443/kb/' || CAST(doc_id % 41 AS STRING)"
    " || '?q=x+y&utm_campaign=mail&fbclid=abc'"
    " WHEN 2 THEN 'http://cdn' || CAST(doc_id % 9 AS STRING)"
    " || '.site.net/static/app.js?'"
    " WHEN 3 THEN 'HTTPS://User:Pw@Portal.Example.COM:8443/a/b///c/"
    "?z=9&y=2&gclid=1#x'"
    " ELSE '/relative/path/only' END"
)


def _url_canon_oracle() -> str:
    from ..datapipe.webgraph import (canonical_url_sql, url_domain_sql,
                                     url_host_sql)
    return (f"SELECT doc_id, {canonical_url_sql(_URL_BUILD)} AS"
            f" url_canon, {url_host_sql(_URL_BUILD)} AS host,"
            f" {url_domain_sql(_URL_BUILD)} AS domain FROM documents")


@query("url_canonicalize", oracle=None)  # oracle attached below
def url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (datapipe/webgraph.py canonical_url /
    url_host / url_domain): scheme+authority lowercase, default-port
    strip, fragment drop, duplicate/trailing-slash normalization,
    tracking-param removal + param sort — all narrow JVM expressions
    (zero shuffle, whole-stage codegen), the step that makes URL-level
    dedup of a crawl an exact hash-groupBy. The oracle REPLAYS the
    algebra in DuckDB (independent regex engine + list functions);
    the relative-URL arm exercises the NULL contract."""
    from ..datapipe.webgraph import canonical_url, url_domain, url_host
    docs = _t(spark, sf_dir, "documents")
    u = F.expr(_URL_BUILD)
    return docs.select(
        "doc_id",
        canonical_url(u).alias("url_canon"),
        url_host(u).alias("host"),
        url_domain(u).alias("domain"))


ORACLES["url_canonicalize"] = _url_canon_oracle()


_PAGE_URL = ("'https://portal.example' || CAST(doc_id % 3 AS STRING)"
             " || '.com/page/' || CAST(doc_id % 17 AS STRING)")

_PAGE_HTML = (
    "'<html><body>'"
    " || '<a href=\"HTTP://News.Site' || CAST(doc_id % 13 AS STRING)"
    " || '.COM:80/story/' || CAST(doc_id % 29 AS STRING)"
    " || '?utm_medium=rss&id=' || CAST(doc_id % 11 AS STRING)"
    " || '\">Story ' || CAST(doc_id % 29 AS STRING) || '</a>'"
    " || '<p>boilerplate filler</p>'"
    " || '<a class=\"nav\" href=\"/section/'"
    " || CAST(doc_id % 5 AS STRING) || '/\">Section</a>'"
    " || '<a href=\"//cdn.assets.net/lib.js\">cdn</a>'"
    " || '<a href=\"mailto:ops@example.com\">mail</a>'"
    " || '<a href=\"#top\">top</a>'"
    " || '</body></html>'"
)


def _link_harvest_oracle() -> str:
    from ..datapipe.webgraph import (ANCHOR_RE, _auth_sql, _sch_sql,
                                     canonical_url_sql)
    return f"""
    WITH d AS (SELECT doc_id, {_PAGE_URL} AS url, {_PAGE_HTML} AS html
               FROM documents),
    m AS (SELECT doc_id, url,
            regexp_extract_all(html, '{ANCHOR_RE}', 1) AS hs,
            regexp_extract_all(html, '{ANCHOR_RE}', 2) AS ts FROM d),
    x AS (SELECT doc_id, url, hs[i] AS href, ts[i] AS anchor
          FROM m, unnest(range(1, len(hs) + 1)) u(i)),
    r AS (SELECT doc_id, {canonical_url_sql('url')} AS src_url,
            CASE WHEN regexp_matches(href, '^(?i)https?://') THEN href
                 WHEN href LIKE '//%' THEN
                   {_sch_sql('url')} || ':' || href
                 WHEN href LIKE '/%' THEN
                   {_sch_sql('url')} || '://' || {_auth_sql('url')}
                   || href
                 ELSE NULL END AS resolved,
            trim(anchor) AS anchor FROM x),
    c AS (SELECT doc_id, src_url,
            {canonical_url_sql('resolved')} AS dst_url, anchor FROM r)
    SELECT doc_id, src_url, dst_url, anchor FROM c
    WHERE dst_url IS NOT NULL
    """


@query("link_harvest", oracle=None)  # oracle attached below
def link_harvest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperlink harvesting (datapipe/webgraph.py harvest_links): one
    per-row regex pass aligned over (href, anchor) capture groups, a
    generate/explode, CASE-algebra resolution of protocol-relative
    and root-relative references against the page's own URL, then
    canonicalization — no Python, no join (the base URL's parts ride
    the row). mailto:/fragment-only links drop per the documented
    crawl-frontier subset. Oracle = DuckDB replay with its own regex
    engine, unnest-by-index alignment, and the canonical_url_sql
    replay of the canonicalization algebra."""
    from ..datapipe.webgraph import harvest_links
    docs = _t(spark, sf_dir, "documents")
    pages = docs.select("doc_id",
                        F.expr(_PAGE_URL).alias("url"),
                        F.expr(_PAGE_HTML).alias("html"))
    return harvest_links(pages)


ORACLES["link_harvest"] = _link_harvest_oracle()


_PR_EDGES = (
    "SELECT src, dst FROM ("
    "SELECT doc_id AS src,"
    " (doc_id * 31 + 7) % (SELECT count(*) FROM documents) AS dst"
    " FROM documents"
    " UNION ALL"
    " SELECT doc_id,"
    " (doc_id * 17 + 3) % (SELECT count(*) FROM documents)"
    " FROM documents"
    " UNION ALL"
    " SELECT doc_id, 0 FROM documents WHERE doc_id % 10 = 1"
    ") WHERE src != dst"
)


def _pagerank_oracle() -> str:
    from ..datapipe.webgraph import pagerank_oracle_sql
    return pagerank_oracle_sql(
        _PR_EDGES, rounds=6,
        final_sql="SELECT node, rank_micro FROM r6"
                  " ORDER BY rank_micro DESC, node LIMIT 20")


@query("pagerank_topk", oracle=None)  # oracle attached below
def pagerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer fixed-point PageRank (datapipe/webgraph.py pagerank)
    over a rule-generated link graph (two affine out-links per doc +
    a hot sink node 0 for the in-degree skew case), 6 rounds at
    d=0.85, top-20 by (rank desc, node). ALL arithmetic is BIGINT
    micro-units — bit-identical across engines/partitionings — so the
    DuckDB oracle replays the exact trajectory as an unrolled
    WITH-chain of the same integer algebra. Per round: one
    partial-aggregated groupBy(dst) exchange + one equi join against
    the once-checkpointed edge+outdeg frame; dangling mass dropped
    (documented variant, mirrored by the oracle)."""
    from ..datapipe.webgraph import pagerank
    docs = _t(spark, sf_dir, "documents")
    n = docs.count()
    e1 = docs.select(F.col("doc_id").alias("src"),
                     ((F.col("doc_id") * 31 + 7) % n).alias("dst"))
    e2 = docs.select(F.col("doc_id").alias("src"),
                     ((F.col("doc_id") * 17 + 3) % n).alias("dst"))
    e3 = (docs.filter(F.col("doc_id") % 10 == 1)
          .select(F.col("doc_id").alias("src"),
                  F.lit(0).cast("long").alias("dst")))
    edges = (e1.unionByName(e2).unionByName(e3)
             .filter(F.col("src") != F.col("dst")))
    pr = pagerank(edges, rounds=6)
    return pr.orderBy(F.desc("rank_micro"), "node").limit(20)


ORACLES["pagerank_topk"] = _pagerank_oracle()


# ---- Gopher n-gram repetition fractions (datapipe/textstats.py) ----
# Perturbation shared verbatim by both engines: one arm plants a
# duplicated 9-word block (drives the dup-5/6-gram coverage), one
# arm plants a repeated 2-gram (drives the top-n-gram stat), the
# rest keep the raw corpus text so natural values are exercised too.

_NGRAM_PERTURB = (
    "CASE WHEN doc_id % 4 = 0 THEN text ||"
    " ' the quick brown fox jumps over the lazy dog"
    " the quick brown fox jumps over the lazy dog'"
    " WHEN doc_id % 4 = 1 THEN text ||"
    " ' buy now buy now buy now best price'"
    " ELSE text END"
)

_NGRAM_FRACS_ORACLE = r"""
    WITH corpus AS (SELECT doc_id, """ + _NGRAM_PERTURB + r""" AS text
                    FROM documents),
    t AS (SELECT doc_id,
            lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm
          FROM corpus),
    tok AS (SELECT doc_id, string_split(norm, ' ') AS toks,
                   length(norm) AS L FROM t),
    g2 AS (SELECT doc_id, i, array_to_string(toks[i+1:i+2], ' ') AS gram
           FROM tok, unnest(range(0, greatest(len(toks) - 1, 0))) u(i)),
    g3 AS (SELECT doc_id, i, array_to_string(toks[i+1:i+3], ' ') AS gram
           FROM tok, unnest(range(0, greatest(len(toks) - 2, 0))) u(i)),
    g5 AS (SELECT doc_id, i, array_to_string(toks[i+1:i+5], ' ') AS gram
           FROM tok, unnest(range(0, greatest(len(toks) - 4, 0))) u(i)),
    g6 AS (SELECT doc_id, i, array_to_string(toks[i+1:i+6], ' ') AS gram
           FROM tok, unnest(range(0, greatest(len(toks) - 5, 0))) u(i)),
    top2 AS (SELECT doc_id, c * length(gram) AS chars FROM
      (SELECT doc_id, gram, count(*) AS c, row_number() OVER
         (PARTITION BY doc_id ORDER BY count(*) DESC, gram ASC) AS rn
       FROM g2 GROUP BY doc_id, gram) WHERE rn = 1),
    top3 AS (SELECT doc_id, c * length(gram) AS chars FROM
      (SELECT doc_id, gram, count(*) AS c, row_number() OVER
         (PARTITION BY doc_id ORDER BY count(*) DESC, gram ASC) AS rn
       FROM g3 GROUP BY doc_id, gram) WHERE rn = 1),
    d5 AS (SELECT doc_id, gram FROM g5 GROUP BY doc_id, gram
           HAVING count(*) >= 2),
    d6 AS (SELECT doc_id, gram FROM g6 GROUP BY doc_id, gram
           HAVING count(*) >= 2),
    cov5 AS (SELECT DISTINCT g.doc_id, j FROM g5 g
             JOIN d5 USING (doc_id, gram),
             unnest(range(g.i, g.i + 5)) r(j)),
    cov6 AS (SELECT DISTINCT g.doc_id, j FROM g6 g
             JOIN d6 USING (doc_id, gram),
             unnest(range(g.i, g.i + 6)) r(j)),
    ch5 AS (SELECT c.doc_id, sum(length(tok.toks[c.j + 1])) AS cc
            FROM cov5 c JOIN tok USING (doc_id) GROUP BY c.doc_id),
    ch6 AS (SELECT c.doc_id, sum(length(tok.toks[c.j + 1])) AS cc
            FROM cov6 c JOIN tok USING (doc_id) GROUP BY c.doc_id)
    SELECT tok.doc_id,
      CAST((1000000 * coalesce(top2.chars, 0)) // greatest(tok.L, 1)
           AS BIGINT) AS top_2gram_char_frac_bp,
      CAST((1000000 * coalesce(top3.chars, 0)) // greatest(tok.L, 1)
           AS BIGINT) AS top_3gram_char_frac_bp,
      CAST((1000000 * coalesce(ch5.cc, 0)) // greatest(tok.L, 1)
           AS BIGINT) AS dup_5gram_char_frac_bp,
      CAST((1000000 * coalesce(ch6.cc, 0)) // greatest(tok.L, 1)
           AS BIGINT) AS dup_6gram_char_frac_bp
    FROM tok
    LEFT JOIN top2 USING (doc_id) LEFT JOIN top3 USING (doc_id)
    LEFT JOIN ch5 USING (doc_id) LEFT JOIN ch6 USING (doc_id)
"""


@query("gopher_ngram_fracs", oracle=_NGRAM_FRACS_ORACLE)
def gopher_ngram_fracs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher Table A1 n-gram repetition rules (Rae et al. 2021),
    completing the repetition family beyond top-token/dup-2gram: the
    top-2/3-gram character fraction (count x gram length over
    normalized length, count-ties broken to the lex-first gram) and
    the duplicate-5/6-gram character COVERAGE fraction (characters
    inside any occurrence of an n-gram appearing twice or more,
    overlaps counted once). Spark computes all four in ONE zero-
    shuffle Arrow pass (with_gopher_ngram_fracs — output-identical to
    the chained SQL sorted-run forms, equality asserted in pytest, and
    ~12x faster: interpreted Catalyst lambdas pay ~0.5 us/element x 4
    re-sorted gram arrays); the oracle recomputes the values
    RELATIONALLY (unnest -> group -> window/having -> distinct
    coverage join) — two independent algorithms agreeing on every
    value. The perturbation plants a duplicated 9-word block and a
    repeated 2-gram so both stats flip on known arms."""
    from ..datapipe.textstats import with_gopher_ngram_fracs
    docs = (_t(spark, sf_dir, "documents")
            .select("doc_id", F.expr(_NGRAM_PERTURB).alias("text")))
    out = with_gopher_ngram_fracs(docs, tops=(2, 3), dups=(5, 6))
    return out.select("doc_id",
                      "top_2gram_char_frac_bp", "top_3gram_char_frac_bp",
                      "dup_5gram_char_frac_bp", "dup_6gram_char_frac_bp")


@query(
    "logq_quantile_sketch",
    oracle="""
    WITH s AS (SELECT source,
                 CASE WHEN n_chars <= 0 THEN -1
                      ELSE length(bin(CAST(n_chars AS BIGINT))) - 1
                 END AS bucket,
                 count(*) AS n
               FROM documents GROUP BY source, bucket),
    c AS (SELECT source, bucket,
            sum(n) OVER (PARTITION BY source ORDER BY bucket) AS cum,
            sum(n) OVER (PARTITION BY source) AS total
          FROM s),
    qx AS (SELECT source, bucket, cum, total, q
           FROM c, unnest([50, 90, 99]) u(q)),
    r AS (SELECT source, q, min(bucket) AS bucket FROM qx
          WHERE cum >= (q * total + 99) // 100 GROUP BY source, q)
    SELECT source, q,
           CAST(CASE WHEN bucket < 0 THEN 0
                ELSE (CAST(1 AS BIGINT) << (CAST(bucket AS INTEGER)
                      + 1)) - 1 END AS BIGINT) AS q_upper
    FROM r
    """)
def logq_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable log-bucket quantile sketch (datapipe/sketch.py
    logq_sketch/logq_merge/logq_quantile): per-source doc-length
    histogram keyed by floor(log2 v) via the exact-integer
    length(bin(v))-1 trick, <= 64 rows per group, mergeable by
    summing counts. The query PROVES mergeability in-line: the corpus
    is split by doc_id parity, sketched independently, merged with
    logq_merge, and the quantile upper bounds (discrete rank
    (q*total+99) div 100, answer 2^(b+1)-1 — all-integer both
    engines) must equal the whole-corpus oracle. This is the one-pass
    rollup path the exact percentile operator
    (length_percentiles_by_source) cannot offer at 100 TB: exact
    ranks must re-shuffle raw rows on every update; sketches merge."""
    from ..datapipe.sketch import logq_merge, logq_quantile, logq_sketch
    docs = _t(spark, sf_dir, "documents")
    even = logq_sketch(docs.filter(F.col("doc_id") % 2 == 0), "n_chars")
    odd = logq_sketch(docs.filter(F.col("doc_id") % 2 == 1), "n_chars")
    return logq_quantile(logq_merge(even, odd))


# ---------------------------------------------------------------------------
# Transcript-analytics family (datapipe/transcripts.py): conversation-
# level integrity signals over the north rule's turn-table shape.
# Turns are synthesized from the driver's events table in SHARED
# semantics (conv = user, order = (ts, event_id), role from the event
# type) so both engines analyze the identical corpus.

def _events_turns_sql() -> str:
    """The DuckDB arm of the shared turn synthesis."""
    return """
    SELECT 'u' || CAST(user_id AS VARCHAR) AS conv_id,
      row_number() OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS turn_idx,
      CASE WHEN event_type IN ('click', 'view') THEN 'user'
           ELSE 'assistant' END AS role,
      event_type AS tool, ts
    FROM events"""


def _events_as_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark arm: same synthesis, same total order."""
    from pyspark.sql.window import Window
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string"))
         .alias("conv_id"),
        F.row_number().over(w).cast("int").alias("turn_idx"),
        F.when(F.col("event_type").isin("click", "view"), "user")
         .otherwise("assistant").alias("role"),
        F.col("event_type").alias("tool"),
        "ts")


@query(
    "transcript_tool_bigrams",
    oracle=f"""
    WITH t AS ({_events_turns_sql()}),
    p AS (SELECT conv_id, tool AS tool_a,
            lead(tool) OVER (PARTITION BY conv_id
                             ORDER BY turn_idx) AS tool_b
          FROM t),
    c AS (SELECT tool_a, tool_b, count(*)::BIGINT AS cnt FROM p
          WHERE tool_b IS NOT NULL GROUP BY tool_a, tool_b)
    SELECT tool_a, tool_b, cnt, rank FROM (
      SELECT tool_a, tool_b, cnt,
        row_number() OVER (ORDER BY cnt DESC, tool_a, tool_b
          )::BIGINT AS rank
      FROM c) WHERE rank <= 20
    """)
def transcript_tool_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide (tool -> next tool) transition counts in turn
    order (datapipe/transcripts.py tool_transitions) — the behavioral
    bigram table of an agent-transcript corpus, used to spot
    degenerate tool loops and trajectory drift between snapshots.
    Per-conv lead window (ONE conv-keyed exchange, never a global
    window), pair-key groupBy with map-side partial agg, top-k as
    WindowGroupLimit. The oracle replays transitions relationally."""
    from ..datapipe.transcripts import tool_transitions
    return tool_transitions(_events_as_turns(spark, sf_dir), k=20)


@query(
    "transcript_conv_stats",
    oracle=f"""
    WITH t AS ({_events_turns_sql()}),
    g AS (SELECT conv_id, role,
        lag(role) OVER (PARTITION BY conv_id
                        ORDER BY turn_idx) AS prev_role,
        epoch_us(ts) - lag(epoch_us(ts))
          OVER (PARTITION BY conv_id ORDER BY turn_idx) AS gap_us
      FROM t),
    a AS (SELECT conv_id, count(*)::BIGINT AS n_turns,
        sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END)::BIGINT AS n_user,
        sum(CASE WHEN role = prev_role THEN 1 ELSE 0 END
          )::BIGINT AS role_runs,
        coalesce(max(gap_us), 0)::BIGINT AS max_gap_us,
        coalesce(sum(gap_us), 0)::BIGINT AS sum_gap_us
      FROM g GROUP BY conv_id)
    SELECT conv_id, n_turns, n_user, role_runs, max_gap_us, sum_gap_us,
           (max_gap_us <= 180000000000 AND role_runs <= 34) AS keep
    FROM a
    """)
def transcript_conv_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation integrity rollup + keep verdict
    (datapipe/transcripts.py conversation_stats): role counts,
    adjacent same-role runs (broken user/assistant alternation =
    merged/truncated transcripts), and microsecond inter-turn gap
    extremes (a multi-hour gap inside one conv = two sessions glued
    under one id). The lag window and the groupBy share ONE conv_id
    exchange (plan-gated). Thresholds (50 h max gap, 34 runs) are
    calibrated to the fixture corpus so BOTH verdict branches are
    populated at every sf (3/12 keep at sf0.001, 40/110 at sf0.01).
    All arithmetic integer microseconds -> bit-exact oracle."""
    from ..datapipe.transcripts import conversation_stats
    return conversation_stats(_events_as_turns(spark, sf_dir),
                              max_gap_minutes=3000, max_role_runs=34)


def _rrf_oracle() -> str:
    from ..datapipe.search import bm25_oracle_sql
    bm25 = bm25_oracle_sql(_BM25_QUERY, k=20, table="corp")
    return f"""
    WITH corp AS (SELECT d.doc_id, d.text FROM documents d
                  JOIN embeddings e ON d.doc_id = e.vec_id),
    lex AS (SELECT doc_id, rank FROM ({bm25})),
    sem0 AS (SELECT e.vec_id AS doc_id,
               list_cosine_similarity(e.embedding, q.qv) AS cos
             FROM embeddings e,
                  (SELECT embedding AS qv FROM embeddings
                   WHERE vec_id = 0) q
             WHERE e.vec_id != 0),
    sem AS (SELECT doc_id, rank FROM (
              SELECT doc_id,
                row_number() OVER (ORDER BY cos DESC, doc_id
                  )::BIGINT AS rank
              FROM sem0) WHERE rank <= 20),
    u AS (SELECT doc_id, rank FROM lex
          UNION ALL SELECT doc_id, rank FROM sem),
    f AS (SELECT doc_id,
            sum(1000000 // (60 + rank))::BIGINT AS rrf_micro,
            count(*)::BIGINT AS n_arms FROM u GROUP BY doc_id)
    SELECT doc_id, rrf_micro, n_arms, fused_rank FROM (
      SELECT doc_id, rrf_micro, n_arms,
        row_number() OVER (ORDER BY rrf_micro DESC, n_arms DESC, doc_id
          )::BIGINT AS fused_rank FROM f) WHERE fused_rank <= 10
    """


@query("search_hybrid_rrf", oracle=None)  # oracle attached below
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (datapipe/search.py
    rrf_fuse, Cormack et al. 2009) of a lexical arm (integer-exact
    BM25 top-20 for the fixed query) and a dense arm (exact cosine
    top-20 around the vec_id=0 embedding) over the SAME id space —
    the documents that carry an embedding (doc_id = vec_id). Only
    RANKS cross the arm boundary, so no score calibration and the
    fused score is pure integer floor division — DuckDB replays both
    arms and the fusion bit-for-bit. Each arm keeps its own scale
    path; the fusion itself exchanges at most 2*k' rows."""
    from ..datapipe.search import bm25_topk, rrf_fuse
    from ..datapipe.similarity import cosine_topk
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    corp = docs.join(
        F.broadcast(emb.select(F.col("vec_id").alias("doc_id"))),
        "doc_id", "left_semi").select("doc_id", "text")
    lex = bm25_topk(corp, _BM25_QUERY, k=20).select("doc_id", "rank")
    q0 = (emb.filter(F.col("vec_id") == 0)
          .select(F.col("vec_id").alias("qid"),
                  F.col("embedding").alias("qv")))
    sem = (cosine_topk(emb, q0, k=20)
           .select(F.col("vec_id").alias("doc_id"), "rank"))
    return rrf_fuse([lex, sem], k0=60, k=10)


ORACLES["search_hybrid_rrf"] = _rrf_oracle()


def _hits_oracle() -> str:
    from ..datapipe.webgraph import hits_oracle_sql
    return hits_oracle_sql(
        _PR_EDGES, rounds=4,
        final_sql="SELECT a.node, a.auth_micro, h.hub_micro"
                  " FROM a4 a JOIN h4 h ON h.node = a.node"
                  " ORDER BY a.auth_micro DESC, a.node LIMIT 20")


@query("hits_topk", oracle=None)  # oracle attached below
def hits_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer fixed-point HITS hubs/authorities (datapipe/webgraph.py
    hits) over the same rule-generated link graph as pagerank_topk —
    the %10==1 docs pointing at node 0 make 0 the dominant authority
    and those docs the hubs, the split PageRank alone cannot make.
    4 rounds, max-normalized to 1e6 in pure BIGINT (the integer-exact
    replacement for the L2 norm), top-20 authorities. The DuckDB
    oracle replays the exact trajectory as an unrolled WITH-chain.
    Per round: two partial-aggregated exchanges against the
    once-checkpointed edge frame + two broadcast one-row maxes."""
    from ..datapipe.webgraph import hits
    docs = _t(spark, sf_dir, "documents")
    n = docs.count()
    e1 = docs.select(F.col("doc_id").alias("src"),
                     ((F.col("doc_id") * 31 + 7) % n).alias("dst"))
    e2 = docs.select(F.col("doc_id").alias("src"),
                     ((F.col("doc_id") * 17 + 3) % n).alias("dst"))
    e3 = (docs.filter(F.col("doc_id") % 10 == 1)
          .select(F.col("doc_id").alias("src"),
                  F.lit(0).cast("long").alias("dst")))
    edges = (e1.unionByName(e2).unionByName(e3)
             .filter(F.col("src") != F.col("dst")))
    out = hits(edges, rounds=4)
    return out.orderBy(F.desc("auth_micro"), "node").limit(20)


ORACLES["hits_topk"] = _hits_oracle()


# ---- robots.txt frontier gating (datapipe/webgraph.py) -------------
# Shared URL synthesis (Spark expr == DuckDB SQL): 7 hosts x 5 path
# shapes, covering nested prefixes, an equal-length allow/deny tie,
# a root-deny host, an empty path (-> '/'), a query-string arm, and
# two hosts with no rules at all (default-allow left-join arm).

_ROBOTS_URL = (
    "'https://h' || (doc_id % 7) || '.example' ||"
    " CASE doc_id % 5 WHEN 0 THEN '/a/page' WHEN 1 THEN '/a/b/page'"
    " WHEN 2 THEN '/c/page?q=1' WHEN 3 THEN '/d/x' ELSE '' END")

_ROBOTS_RULES = [
    ("h0.example", "/a", False), ("h0.example", "/a/b", True),
    ("h1.example", "/a", False),
    ("h2.example", "/c", False), ("h2.example", "/c", True),  # tie
    ("h3.example", "/d", False),
    ("h4.example", "/", False),                         # root deny
]


def _robots_oracle() -> str:
    from ..datapipe.webgraph import URL_RE, url_host_sql
    vals = ", ".join(f"('{h}', '{p}', {str(a).lower()})"
                     for h, p, a in _ROBOTS_RULES)
    path0 = f"regexp_extract(trim(url), '{URL_RE}', 3)"
    q0 = f"regexp_extract(trim(url), '{URL_RE}', 4)"
    return f"""
    WITH u AS (SELECT doc_id, {_ROBOTS_URL.replace("doc_id % 5",
                                                   "doc_id % 5")} AS url
               FROM documents),
    r AS (SELECT * FROM (VALUES {vals}) t(host, prefix, allow)),
    p AS (SELECT doc_id, url, {url_host_sql('url')} AS host,
            (CASE WHEN {path0} = '' THEN '/' ELSE {path0} END)
              || {q0} AS pq
          FROM u),
    m AS (SELECT p.doc_id, r.prefix, r.allow FROM p
          JOIN r ON r.host = p.host AND starts_with(p.pq, r.prefix)),
    best AS (SELECT doc_id, allow FROM (
               SELECT doc_id, allow, row_number() OVER (
                 PARTITION BY doc_id
                 ORDER BY length(prefix) DESC, allow DESC) AS rn
               FROM m) WHERE rn = 1)
    SELECT p.doc_id, p.url,
           coalesce(b.allow, true) AS robots_allowed
    FROM p LEFT JOIN best b USING (doc_id)
    """


@query("frontier_robots_filter", oracle=None)  # oracle attached below
def frontier_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier robots gating (datapipe/webgraph.py
    robots_filter): longest-prefix-wins, allow-wins-ties,
    default-allow — RFC 9309 precedence on the plain-prefix subset.
    Spark folds precedence per row over a broadcast (host ->
    rule-array) dim: ZERO shuffle of the frontier side. The oracle is
    an INDEPENDENT relational algorithm (join rules, rank by
    (length desc, allow desc), pick first, default on no match) — the
    two agreeing certifies the fold, the host/path parsing, and every
    precedence arm (nested prefixes, equal-length tie, root-deny,
    empty path, query string, rule-less hosts)."""
    from ..datapipe.webgraph import robots_filter
    docs = _t(spark, sf_dir, "documents")
    urls = docs.select("doc_id", F.expr(_ROBOTS_URL).alias("url"))
    rules = spark.createDataFrame(
        _ROBOTS_RULES, "host string, prefix string, allow boolean")
    return (robots_filter(urls, rules)
            .select("doc_id", "url", "robots_allowed"))


ORACLES["frontier_robots_filter"] = _robots_oracle()


# ---- IcebergLike v2 parity: equality deletes / incremental scan /
# stats-pruned scan (engine/tables.py) --------------------------------
# Each query drives the table layer end-to-end in a temp dir: write
# real partitioned commits, run the table operation, and return rows
# the DuckDB oracle can predict from the documents table alone. Rows
# are materialized before the temp table is deleted (tiny subsets).


def _docs_kv(spark: SparkSession, sf_dir: str, lo: int,
             hi: int) -> DataFrame:
    """(conv_id, doc_id, n_chars) rows for doc_id in [lo, hi) — the
    minimal payload the table queries commit."""
    return (_t(spark, sf_dir, "documents")
            .filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            .select(F.concat(F.lit("c"), F.col("doc_id").cast("string"))
                    .alias("conv_id"),
                    F.col("doc_id").cast("long").alias("doc_id"),
                    F.length("text").cast("long").alias("n_chars")))


def _offset_parts(df: DataFrame, offset: int, buckets: int = 4):
    from .tables import PART_COL, with_part_key
    out = with_part_key(df, buckets)
    if offset:
        out = out.withColumn(PART_COL,
                             (F.col(PART_COL) + offset).cast("int"))
    return out


@query("table_equality_delete", oracle="""
    SELECT doc_id::BIGINT AS doc_id, length(text)::BIGINT AS n_chars
    FROM documents WHERE doc_id < 200 AND doc_id % 10 != 3
    UNION ALL
    SELECT doc_id::BIGINT, length(text)::BIGINT
    FROM documents WHERE doc_id >= 200 AND doc_id < 300
""")
def table_equality_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-v2 equality deletes, merge-on-read with sequence
    scoping (engine/tables.py delete_rows/_drop_deleted): wave 1 is
    committed, a delete file covering doc_id % 10 == 3 over the FULL
    0..300 range lands, then wave 2 (200..300, later partitions)
    appends. The read must drop matching rows from wave 1 only —
    wave-2 rows with matching keys outsequence the delete and
    survive, the Iceberg data/delete sequence-number rule. No data
    partition is rewritten (merge-on-read: the delete is a broadcast
    anti-join at scan time)."""
    from .tables import IcebergLike
    with _scratch("table_del_q_") as base:
        t = IcebergLike(base)
        t.write(_offset_parts(_docs_kv(spark, sf_dir, 0, 200), 0))
        dels = (_docs_kv(spark, sf_dir, 0, 300)
                .filter(F.col("doc_id") % 10 == 3).select("doc_id"))
        t.delete_rows(dels, ["doc_id"])
        t.write(_offset_parts(_docs_kv(spark, sf_dir, 200, 300), 4))
        rows = (t.read(spark).select("doc_id", "n_chars").collect())
    return spark.createDataFrame(rows, "doc_id long, n_chars long")


@query("table_incremental_read", oracle="""
    SELECT doc_id::BIGINT AS doc_id, length(text)::BIGINT AS n_chars
    FROM documents WHERE doc_id >= 150 AND doc_id < 250
""")
def table_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental snapshot scan (engine/tables.py read_incremental):
    two append commits, then read exactly what the second added —
    the Iceberg incremental-scan analog (committed partitions are
    immutable, so the committed-key diff IS the append set). The
    downstream-consumer pattern at 10^12 rows: process only the new
    partitions, never re-scan the corpus."""
    from .tables import IcebergLike
    with _scratch("table_inc_q_") as base:
        t = IcebergLike(base)
        s0 = t.write(_offset_parts(_docs_kv(spark, sf_dir, 0, 150), 0))
        t.write(_offset_parts(_docs_kv(spark, sf_dir, 150, 250), 4))
        inc = t.read_incremental(spark, s0["snapshot_id"])
        rows = inc.select("doc_id", "n_chars").collect()
    return spark.createDataFrame(rows, "doc_id long, n_chars long")


@query("table_stats_pruned_scan", oracle="""
    SELECT doc_id::BIGINT AS doc_id, length(text)::BIGINT AS n_chars
    FROM documents WHERE doc_id >= 120 AND doc_id <= 279
""")
def table_stats_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-stats scan pruning (engine/tables.py write(stat_cols)
    + read_where): commits record per-partition doc_id min/max, and a
    range scan eliminates non-overlapping partitions from the
    manifests BEFORE any file listing (planning-time data skipping —
    the report is asserted here so a silent prune-nothing regression
    fails the query, and tests/test_table_deletes.py pins the
    inputFiles evidence). Rows equal a plain range filter."""
    from .tables import PART_COL, IcebergLike
    with _scratch("table_prune_q_") as base:
        t = IcebergLike(base)
        df = (_docs_kv(spark, sf_dir, 0, 400)
              .withColumn(PART_COL,
                          (F.col("doc_id") / 100).cast("int")))
        t.write(df, stat_cols=["doc_id"])
        out, report = t.read_where(spark, "doc_id", lo=120, hi=279)
        if not report["partitions_pruned"]:
            raise RuntimeError(
                f"stats pruning eliminated nothing: {report}")
        rows = out.select("doc_id", "n_chars").collect()
    return spark.createDataFrame(rows, "doc_id long, n_chars long")


@query("table_file_skipping", oracle="""
    SELECT doc_id::BIGINT AS doc_id, length(text)::BIGINT AS n_chars
    FROM documents WHERE doc_id >= 300 AND doc_id < 500
""")
def table_file_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level skipping (engine/tables.py _footer_stats +
    read_where): commits record per-FILE min/max read from the
    parquet footers — the Iceberg data-file stats analog — and
    ``read_where`` prunes individual files WITHIN kept partitions.
    The case partition stats cannot handle: a base wave (doc_id
    0-199) and an appended wave (300-499) share partitions, so the
    partition-level range widens to cover both and partition pruning
    keeps everything; the per-file bounds are immutable and stay
    tight, so a scan of the append range skips every base file. The
    query asserts exactly that split in the prune report (zero
    partitions pruned, base files pruned) and returns rows equal to
    a plain range filter."""
    from .tables import PART_COL, IcebergLike
    with _scratch("table_fskip_q_") as base:
        t = IcebergLike(base)

        def keyed(lo, hi):
            return _docs_kv(spark, sf_dir, lo, hi).withColumn(
                PART_COL, (F.col("doc_id") % 2).cast("int"))

        t.write(keyed(0, 200), stat_cols=["doc_id"])
        t.write(keyed(300, 500), stat_cols=["doc_id"], append=True)
        out, rep = t.read_where(spark, "doc_id", lo=300, hi=499)
        if rep["partitions_pruned"]:
            raise RuntimeError(
                f"partition stats should keep everything here: {rep}")
        if not rep["files_pruned"]:
            raise RuntimeError(f"file skipping pruned nothing: {rep}")
        rows = out.select("doc_id", "n_chars").collect()
    return spark.createDataFrame(rows, "doc_id long, n_chars long")


@query("table_bloom_skipping", oracle="""
    SELECT doc_id::BIGINT AS doc_id, length(text)::BIGINT AS n_chars
    FROM documents WHERE doc_id IN (21, 118, 237, 342, 480)
""")
def table_bloom_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter file skipping (engine/tables.py _file_bloom +
    read_where): ``write(bloom_cols=)`` records a per-file bloom over
    each column's distinct values — the Iceberg puffin-blob analog —
    and point predicates (lo == hi) drop files whose bloom definitely
    excludes the probe. The case range stats CANNOT touch: an even-id
    wave and an odd-id wave interleave over the same doc_id range in
    the same partitions, so every file's [min, max] straddles every
    probe and footer-bounds skipping keeps everything; the bloom
    still drops the opposite-parity wave's files. The append wave
    passes NO bloom_cols — its files get blooms by column
    inheritance, proven by the even-id probes pruning odd-wave files.
    The query asserts, per probe, that every pruned file was pruned
    by the bloom and at least one was, and returns rows equal to a
    plain IN-list filter."""
    from .tables import PART_COL, IcebergLike
    probes = [21, 118, 237, 342, 480]
    with _scratch("table_bloom_q_") as base:
        t = IcebergLike(base)

        def keyed(parity):
            return (_docs_kv(spark, sf_dir, 0, 500)
                    .filter(F.col("doc_id") % 2 == parity)
                    .withColumn(PART_COL,
                                (F.col("doc_id") % 3).cast("int")))

        t.write(keyed(0), stat_cols=["doc_id"], bloom_cols=["doc_id"])
        t.write(keyed(1), append=True)
        rows = []
        for p in probes:
            out, rep = t.read_where(spark, "doc_id", lo=p, hi=p)
            if not rep["files_pruned_bloom"]:
                raise RuntimeError(
                    f"bloom pruned nothing for doc_id={p}: {rep}")
            if rep["files_pruned"] != rep["files_pruned_bloom"]:
                raise RuntimeError(
                    f"range stats should straddle every probe: {rep}")
            rows += out.select("doc_id", "n_chars").collect()
    return spark.createDataFrame(rows, "doc_id long, n_chars long")


@query("table_zorder_scan", oracle="""
    SELECT doc_id::BIGINT AS doc_id, length(text)::BIGINT AS n_chars
    FROM documents WHERE length(text) >= 200 AND length(text) <= 320
""")
def table_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering (engine/tables.py zorder_part_key — the
    Delta OPTIMIZE ZORDER / Iceberg z-sort-order analog): partitions
    cover contiguous Morton-curve ranges over (doc_id, n_chars), so
    manifest min/max stats are tight in BOTH dimensions and
    ``read_where`` prunes on either column — a linear layout prunes
    on only its sort key. The query scans a range of n_chars (the
    column the data was NOT originally ordered by), asserts the
    manifests pruned partitions for it AND for an independent doc_id
    probe, and returns rows equal to a plain range filter."""
    from .tables import IcebergLike, zorder_part_key
    with _scratch("table_zorder_q_") as base:
        t = IcebergLike(base)
        df = zorder_part_key(
            _docs_kv(spark, sf_dir, 0, 500),
            ["doc_id", "n_chars"], n_buckets=16, rel_err=0.0)
        t.write(df, stat_cols=["doc_id", "n_chars"])
        out, rep = t.read_where(spark, "n_chars", lo=200, hi=320)
        _, rep2 = t.read_where(spark, "doc_id", lo=100, hi=199)
        if not rep["partitions_pruned"] or not rep2["partitions_pruned"]:
            raise RuntimeError(
                f"z-order pruned nothing: n_chars={rep} doc_id={rep2}")
        # conjunctive (multi-dimensional) pruning: at least the union
        # of the single-dimension drop sets must be skipped
        _, rep3 = t.read_where(spark, preds={"doc_id": (100, 199),
                                             "n_chars": (200, 320)})
        if len(rep3["partitions_pruned"]) < max(
                len(rep["partitions_pruned"]),
                len(rep2["partitions_pruned"])):
            raise RuntimeError(f"conjunctive prune regressed: {rep3}")
        rows = out.select("doc_id", "n_chars").collect()
    return spark.createDataFrame(rows, "doc_id long, n_chars long")


@query("table_rollback_scan", oracle="""
    SELECT doc_id::BIGINT AS doc_id, length(text)::BIGINT AS n_chars
    FROM documents WHERE doc_id < 200 AND doc_id % 10 <> 3
""")
def table_rollback_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot rollback (engine/tables.py rollback — the Iceberg
    rollback_to_snapshot analog): base write, takedown delete, then a
    BAD append wave; rolling back to the tagged pre-wave snapshot
    must restore exactly base-minus-takedown (the delete survives,
    the wave is gone — partitions dropped, its tag cleaned up), and
    the state equals what a reader pinned to the tag saw before the
    rollback. Cost is O(undone wave), never O(table)."""
    from .tables import IcebergLike
    with _scratch("table_rb_q_") as base:
        t = IcebergLike(base)
        t.write(_offset_parts(_docs_kv(spark, sf_dir, 0, 200), 0))
        dels = (_docs_kv(spark, sf_dir, 0, 200)
                .filter(F.col("doc_id") % 10 == 3).select("doc_id"))
        s1 = t.delete_rows(dels, ["doc_id"])
        t.tag("pre-wave", s1["snapshot_id"])
        t.write(_offset_parts(_docs_kv(spark, sf_dir, 200, 300), 4))
        t.tag("bad-wave")
        pinned = t.read(spark, tag="pre-wave").count()
        res = t.rollback(spark, t._resolve_tag("pre-wave"))
        if not res["dropped_partitions"] or \
                res["dropped_tags"] != ["bad-wave"]:
            raise RuntimeError(f"rollback did not undo the wave: {res}")
        out = t.read(spark)
        if out.count() != pinned:
            raise RuntimeError("rollback state != tagged pre-wave read")
        rows = out.select("doc_id", "n_chars").collect()
    return spark.createDataFrame(rows, "doc_id long, n_chars long")


# ---- bigram LM with Stupid Backoff (datapipe/textstats.py) ----------


@query(
    "lm_bigram_surprisal",
    oracle=r"""
    WITH t AS (SELECT doc_id,
        list_filter(string_split(lower(regexp_replace(trim(text),
            '\s+', ' ', 'g')), ' '), x -> x <> '') AS ts
        FROM documents),
    tok AS (SELECT doc_id, unnest(ts) AS token FROM t),
    vocab AS (SELECT token, count(*)::BIGINT AS n,
                length(bin(count(*)))::BIGINT - 1 AS bits
              FROM tok GROUP BY token HAVING count(*) >= 2),
    tot AS (SELECT length(bin(count(*)))::BIGINT - 1 AS total_bits
            FROM tok),
    pr AS (SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
           FROM (SELECT doc_id, ts,
                   unnest(generate_series(1, len(ts) - 1)) AS i
                 FROM t WHERE len(ts) >= 2)),
    bg AS (SELECT w1, w2, count(*)::BIGINT AS n12
           FROM pr GROUP BY w1, w2 HAVING count(*) >= 2),
    sc AS (SELECT pr.doc_id,
             CASE WHEN bg.n12 IS NOT NULL
                  THEN length(bin(v1.n // bg.n12))::BIGINT - 1
                  ELSE 2 + tot.total_bits - coalesce(v2.bits, 0)
             END AS b,
             CASE WHEN bg.n12 IS NOT NULL THEN 1 ELSE 0 END AS hit
           FROM pr LEFT JOIN bg ON bg.w1 = pr.w1 AND bg.w2 = pr.w2
                LEFT JOIN vocab v1 ON v1.token = pr.w1
                LEFT JOIN vocab v2 ON v2.token = pr.w2, tot),
    agg AS (SELECT doc_id, count(*)::BIGINT AS n_transitions,
              sum(hit)::BIGINT AS h, sum(b)::BIGINT AS s
            FROM sc GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(a.n_transitions, 0)::BIGINT AS n_transitions,
           (CASE WHEN a.n_transitions IS NULL THEN 0
                 ELSE (10000 * a.h) // a.n_transitions
            END)::BIGINT AS hit_bp,
           (CASE WHEN a.n_transitions IS NULL THEN 0
                 ELSE (1000 * a.s) // a.n_transitions
            END)::BIGINT AS bits_milli
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """)
def lm_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM scoring with Stupid Backoff (datapipe/textstats.py
    with_bigram_surprisal): per-doc mean transition bits under the
    corpus's own bigram distribution — the order-2 perplexity filter
    (CCNet trains KenLM; this is the engine-native integer-exact
    analog). Bigram hit: -log2 p(w2|w1) as floor-log2 of the count
    ratio; miss: whole-bit penalty + unigram surprisal of w2 (OOV =
    rarest bucket). All arithmetic integer bits via length(bin(.))-1,
    so the oracle replays every value. Docs with < 2 tokens emit
    zeros."""
    from ..datapipe.textstats import with_bigram_surprisal
    docs = _t(spark, sf_dir, "documents")
    return with_bigram_surprisal(docs)


# ---- bottom-k group sampling (datapipe/splits.py) --------------------


@query(
    "group_sample_bottomk",
    oracle="""
    WITH h AS (SELECT doc_id, source,
        ('0x' || substr(md5('bk1-' || CAST(doc_id AS VARCHAR)), 1, 15))
          ::BIGINT AS hv
        FROM documents),
    r AS (SELECT doc_id, source,
            row_number() OVER (PARTITION BY source
              ORDER BY hv, doc_id)::BIGINT AS sample_rank
          FROM h)
    SELECT doc_id, source, sample_rank FROM r WHERE sample_rank <= 7
    """)
def group_sample_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-group uniform sampling without replacement
    (datapipe/splits.py group_sample_bottomk): bottom-k by a pure
    hash of the id — deterministic, consistent under corpus growth
    (an insert evicts at most one member), mergeable across disjoint
    corpora; the per-stratum carve the fraction sampler (binomial
    sizes) cannot do. Executes as WindowGroupLimit: each task
    forwards at most k rows per group before the single group-keyed
    exchange (plan-gated). md5 mode so DuckDB replays the exact
    ranks; xxhash64 is the production default."""
    from ..datapipe.splits import group_sample_bottomk
    docs = _t(spark, sf_dir, "documents")
    return (group_sample_bottomk(docs, k=7, hash_mode="md5")
            .select("doc_id", "source", "sample_rank"))


# ---- product quantization ANN (datapipe/similarity.py) --------------


@query(
    "ann_pq_topk",
    oracle="""
    WITH e AS (SELECT vec_id,
        list_transform(embedding, x -> floor(x * 1024)::BIGINT) AS eq
        FROM embeddings),
    sd AS (SELECT eq, (row_number() OVER (ORDER BY hv, vid) - 1)::INT
             AS cid
           FROM (SELECT e.vec_id AS vid, eq,
                   ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1,
                    15))::BIGINT AS hv
                 FROM e ORDER BY hv, vid LIMIT 16)),
    ss AS (SELECT unnest(generate_series(0, 7)) AS s),
    dists AS (SELECT e.vec_id, ss.s, sd.cid,
        (list_inner_product(e.eq[ss.s*8+1 : ss.s*8+8],
                            e.eq[ss.s*8+1 : ss.s*8+8])
         - 2 * list_inner_product(e.eq[ss.s*8+1 : ss.s*8+8],
                                  sd.eq[ss.s*8+1 : ss.s*8+8])
         + list_inner_product(sd.eq[ss.s*8+1 : ss.s*8+8],
                              sd.eq[ss.s*8+1 : ss.s*8+8]))::BIGINT AS d
        FROM e, ss, sd),
    codes AS (SELECT vec_id, s, cid FROM (
        SELECT vec_id, s, cid,
          row_number() OVER (PARTITION BY vec_id, s
                             ORDER BY d, cid) AS rn
        FROM dists) WHERE rn = 1),
    q AS (SELECT vec_id AS qid, eq AS qq FROM e WHERE vec_id < 5),
    adc AS (SELECT q.qid, c.vec_id,
        sum((list_inner_product(q.qq[c.s*8+1 : c.s*8+8],
                                q.qq[c.s*8+1 : c.s*8+8])
           - 2 * list_inner_product(q.qq[c.s*8+1 : c.s*8+8],
                                    sd.eq[c.s*8+1 : c.s*8+8])
           + list_inner_product(sd.eq[c.s*8+1 : c.s*8+8],
                                sd.eq[c.s*8+1 : c.s*8+8]))::BIGINT)
          ::BIGINT AS dist
        FROM codes c JOIN sd USING (cid), q
        WHERE c.vec_id != q.qid
        GROUP BY q.qid, c.vec_id),
    cand AS (SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
          row_number() OVER (PARTITION BY qid
                             ORDER BY dist, vec_id) AS rn
        FROM adc) WHERE rn <= 50),
    rr AS (SELECT cand.qid, cand.vec_id,
        (list_inner_product(e.eq, e.eq)
         - 2 * list_inner_product(e.eq, q.qq)
         + list_inner_product(q.qq, q.qq))::BIGINT AS dist
        FROM cand JOIN e ON e.vec_id = cand.vec_id
             JOIN q ON q.qid = cand.qid)
    SELECT qid, rank, vec_id, dist FROM (
      SELECT qid, vec_id, dist,
        row_number() OVER (PARTITION BY qid
                           ORDER BY dist, vec_id)::BIGINT AS rank
      FROM rr) WHERE rank <= 10
    """)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with exact refine (datapipe/
    similarity.py pq_codebooks/pq_encode/pq_topk — Jegou et al. 2011
    + the FAISS IndexRefineFlat arm): embeddings snap to the 2^-10
    integer grid, codebooks = the md5-bottom-16 seed rows' subvectors
    (iters=0 keeps the oracle compact; Lloyd refinement is gated by
    the pytest recall bound), the ADC scan runs in the compressed
    domain with codebooks inlined as plan-time literals (zero joins),
    top-50 candidates re-rank by exact grid L2. Every distance is
    BIGINT, so the oracle hash-compares exact values — an
    approximate operator with an exact oracle."""
    from ..datapipe.similarity import pq_topk
    emb = _t(spark, sf_dir, "embeddings")
    q = (emb.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qv")))
    return pq_topk(emb, q, k=10, m=8, ksub=16, iters=0,
                   hash_mode="md5", refine=50)


# ---- streaming CDC upsert into the table (streaming/stream.py) ------


@query(
    "streaming_cdc_upsert",
    oracle="""
    SELECT doc_id::BIGINT AS doc_id,
           CASE WHEN doc_id % 2 = 0 THEN doc_id * 2 + 1
                ELSE doc_id * 3 END::BIGINT AS v
    FROM documents WHERE doc_id < 200
    """)
def streaming_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply loop (streaming/stream.py start_cdc_upsert): a file
    stream of update rows drains through foreachBatch MERGE-upserts
    into an IcebergLike table — each batch is one sequence-scoped
    equality delete (dimension-sized) + one per-file-sequenced append,
    never a table rewrite. Even keys carry TWO updates with rising ts
    (the max_by within-batch dedupe must keep ts=2's value); odd keys
    arrive in a second wave. The table read after the drain must show
    exactly the newest value per key — predicted relationally by the
    oracle. Replay idempotence and cross-batch last-wins are pinned in
    tests/test_streaming.py."""
    from ..engine.tables import IcebergLike
    from ..streaming.stream import start_cdc_upsert

    ids = (_t(spark, sf_dir, "documents")
           .filter(F.col("doc_id") < 200)
           .select(F.col("doc_id").cast("long").alias("doc_id")))
    even = ids.filter("doc_id % 2 = 0")
    wave_a = (even.select("doc_id", F.lit(1).cast("long").alias("ts"),
                          (F.col("doc_id") * 2).alias("v"))
              .unionByName(
                  even.select("doc_id",
                              F.lit(2).cast("long").alias("ts"),
                              (F.col("doc_id") * 2 + 1).alias("v"))))
    wave_b = (ids.filter("doc_id % 2 = 1")
              .select("doc_id", F.lit(1).cast("long").alias("ts"),
                      (F.col("doc_id") * 3).alias("v")))
    with _scratch("cdc_q_") as base:
        stream = _stage_waves(spark, base,
                              [("a", wave_a), ("b", wave_b)],
                              "doc_id long, ts long, v long")
        table = IcebergLike(os.path.join(base, "table"))
        _drain(start_cdc_upsert(stream, table, ["doc_id"],
                                os.path.join(base, "ckpt"), ts_col="ts"))
        rows = (table.read(spark).select("doc_id", "v").collect())
    return spark.createDataFrame(rows, "doc_id long, v long")


# ---- IVF-PQ composed ANN (datapipe/similarity.py) -------------------

_IVFPQ_IP = ("(list_inner_product({a}, {a})"
             " - 2 * list_inner_product({a}, {b})"
             " + list_inner_product({b}, {b}))::BIGINT")


def _ivfpq_oracle() -> str:
    full = _IVFPQ_IP.format(a="q.eq", b="s.eq")
    sub = _IVFPQ_IP.format(a="e.eq[ss.s*8+1 : ss.s*8+8]",
                           b="sd.eq[ss.s*8+1 : ss.s*8+8]")
    adc_sub = _IVFPQ_IP.format(a="qp.qq[c.s*8+1 : c.s*8+8]",
                               b="sd.eq[c.s*8+1 : c.s*8+8]")
    rr = _IVFPQ_IP.format(a="e.eq", b="qp.qq")
    return f"""
    WITH e AS (SELECT vec_id,
        list_transform(embedding, x -> floor(x * 1024)::BIGINT) AS eq
        FROM embeddings),
    sd16 AS (SELECT eq, (row_number() OVER (ORDER BY hv, vid) - 1)::INT
               AS cid
             FROM (SELECT e.vec_id AS vid, eq,
                     ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1,
                      15))::BIGINT AS hv
                   FROM e ORDER BY hv, vid LIMIT 16)),
    sd8 AS (SELECT * FROM sd16 WHERE cid < 8),
    cdist AS (SELECT q.vec_id, s.cid,
                {_IVFPQ_IP.format(a="q.eq", b="s.eq")} AS d
              FROM e q, sd8 s),
    cassign AS (SELECT vec_id, cid FROM (
        SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
          ORDER BY d, cid) AS rn FROM cdist) WHERE rn = 1),
    ss AS (SELECT unnest(generate_series(0, 7)) AS s),
    pdists AS (SELECT e.vec_id, ss.s, sd.cid, {sub} AS d
               FROM e, ss, sd16 sd),
    codes AS (SELECT vec_id, s, cid FROM (
        SELECT vec_id, s, cid, row_number() OVER (
          PARTITION BY vec_id, s ORDER BY d, cid) AS rn
        FROM pdists) WHERE rn = 1),
    q AS (SELECT vec_id AS qid, eq AS qq FROM e WHERE vec_id < 5),
    qprobe AS (SELECT qid, qq, cid FROM (
        SELECT q.qid, q.qq, s.cid,
          row_number() OVER (PARTITION BY q.qid ORDER BY
            {_IVFPQ_IP.format(a="q.qq", b="s.eq")}, s.cid) AS rn
        FROM q, sd8 s) WHERE rn <= 3),
    adc AS (SELECT qp.qid, c.vec_id, sum({adc_sub})::BIGINT AS dist
            FROM codes c JOIN cassign a USING (vec_id)
                 JOIN qprobe qp ON qp.cid = a.cid
                 JOIN sd16 sd ON sd.cid = c.cid
            WHERE c.vec_id != qp.qid
            GROUP BY qp.qid, c.vec_id),
    cand AS (SELECT qid, vec_id FROM (
        SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
          ORDER BY dist, vec_id) AS rn FROM adc) WHERE rn <= 50),
    rr AS (SELECT cand.qid, cand.vec_id, {rr} AS dist
           FROM cand JOIN e ON e.vec_id = cand.vec_id
                JOIN (SELECT DISTINCT qid, qq FROM qprobe) qp
                  ON qp.qid = cand.qid)
    SELECT qid, rank, vec_id, dist FROM (
      SELECT qid, vec_id, dist, row_number() OVER (PARTITION BY qid
        ORDER BY dist, vec_id)::BIGINT AS rank
      FROM rr) WHERE rank <= 10
    """


@query("ann_ivfpq_topk", oracle=None)  # oracle attached below
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed ANN (datapipe/similarity.py ivfpq_topk — the
    FAISS IVFPQ production shape): coarse bucket assignment and probe
    selection by integer grid L2 against plan-time literal centroids
    (bottom-8 md5 seeds), PQ ADC within the 3 probed buckets only
    (bottom-16 seed codebooks, global — the documented
    integer-exact simplification of residual encoding), top-50
    candidates re-ranked by exact grid L2. Every distance is BIGINT;
    the oracle replays the full composition — assignment, probes,
    codes, ADC, refine — value-exactly."""
    from ..datapipe.similarity import ivfpq_topk
    emb = _t(spark, sf_dir, "embeddings")
    q = (emb.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qv")))
    return ivfpq_topk(emb, q, k=10, n_centroids=8, n_probe=3, m=8,
                      ksub=16, iters=0, hash_mode="md5", refine=50)


ORACLES["ann_ivfpq_topk"] = _ivfpq_oracle()


# ---- declarative data-quality validation (datapipe/dq.py) -----------


@query(
    "dq_validate_constraints",
    oracle="""
    WITH a AS (SELECT
        sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)::BIGINT AS v0,
        (count(doc_id) - count(DISTINCT doc_id))::BIGINT AS v1,
        sum(CASE WHEN n_chars < 0 OR n_chars > 100000
            THEN 1 ELSE 0 END)::BIGINT AS v2,
        sum(CASE WHEN source IS NULL OR source NOT IN
            ('web', 'wiki', 'code', 'chat') THEN 1 ELSE 0 END)
          ::BIGINT AS v3,
        sum(CASE WHEN lang IS NULL OR NOT regexp_matches(lang,
            '^[a-z]{2}$') THEN 1 ELSE 0 END)::BIGINT AS v4,
        (CASE WHEN count(*) < 10 THEN 10 - count(*) ELSE 0 END
         + CASE WHEN count(*) > 1000000 THEN count(*) - 1000000
           ELSE 0 END)::BIGINT AS v5
      FROM documents)
    SELECT * FROM (
      SELECT 0::BIGINT AS seq, 'not_null(text)' AS constraint,
             v0 AS violations, v0 = 0 AS passed FROM a
      UNION ALL SELECT 1, 'unique(doc_id)', v1, v1 = 0 FROM a
      UNION ALL SELECT 2, 'range(n_chars)[0..100000]', v2, v2 = 0 FROM a
      UNION ALL SELECT 3, 'in_set(source)', v3, v3 = 0 FROM a
      UNION ALL SELECT 4, 'matches(lang)', v4, v4 = 0 FROM a
      UNION ALL SELECT 5, 'row_count[10..1000000]', v5, v5 = 0 FROM a)
    """)
def dq_validate_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality validation (datapipe/dq.py
    validate_constraints — the Deequ/Great-Expectations idea,
    engine-native): six constraints over the documents table compile
    into ONE aggregate pass (map-side partials collapse each
    partition to one row; the exact-unique check rides the same scan
    as an Expand two-stage aggregate). Violation counts are BIGINT,
    replayed exactly by the oracle."""
    from ..datapipe.dq import validate_constraints
    docs = _t(spark, sf_dir, "documents")
    return validate_constraints(docs, [
        {"kind": "not_null", "col": "text"},
        {"kind": "unique", "col": "doc_id"},
        {"kind": "range", "col": "n_chars", "lo": 0, "hi": 100000},
        {"kind": "in_set", "col": "source",
         "values": ["web", "wiki", "code", "chat"],
         "name": "in_set(source)"},
        {"kind": "matches", "col": "lang", "pattern": "^[a-z]{2}$",
         "name": "matches(lang)"},
        {"kind": "row_count", "lo": 10, "hi": 1000000},
    ])


# ---- changelog scan (engine/tables.py read_changes) -----------------


@query("table_changelog_scan", oracle="""
    SELECT doc_id::BIGINT AS doc_id, length(text)::BIGINT AS n_chars,
           'delete' AS _change_type
    FROM documents WHERE doc_id < 150 AND doc_id % 10 = 3
    UNION ALL
    SELECT doc_id::BIGINT, (length(text) + 7)::BIGINT, 'delete'
    FROM documents WHERE doc_id < 150 AND doc_id % 10 = 6
    UNION ALL
    SELECT doc_id::BIGINT, 777::BIGINT, 'insert'
    FROM documents WHERE doc_id < 170 AND doc_id % 10 = 6
    UNION ALL
    SELECT doc_id::BIGINT, length(text)::BIGINT, 'insert'
    FROM documents WHERE doc_id >= 150 AND doc_id < 170
          AND doc_id % 10 != 6
""")
def table_changelog_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog scan / CDC read (engine/tables.py read_changes): the
    snapshot window holds a tombstone delete (doc_id%10==3), an
    upsert over keys 0..170 ending in 6 (n_chars := 777 — emits the
    delete(old)+insert(new) pair for existing keys and a bare insert
    for new ones), a plain append of 150..170, and an insert+delete
    of 900..905 that must NET OUT. n_chars is perturbed (+7) for the
    upserted pre-existing keys at WRITE time so the oracle can tell
    old values from new in the delete arm. The whole change set is
    predicted relationally."""
    from .tables import IcebergLike, with_part_key

    def kv(lo, hi, bump_6=False):
        d = _docs_kv(spark, sf_dir, lo, hi)
        if bump_6:
            d = d.withColumn(
                "n_chars",
                F.when(F.col("doc_id") % 10 == 6,
                       F.col("n_chars") + 7).otherwise(F.col("n_chars")))
        return d
    with _scratch("table_chg_q_") as base:
        t = IcebergLike(base)
        t.write(_offset_parts(kv(0, 150, bump_6=True), 0))
        s0 = t.snapshots()[-1]["snapshot_id"]
        t.delete_rows(kv(0, 150).filter(F.col("doc_id") % 10 == 3)
                      .select("doc_id"), ["doc_id"])
        up = (kv(0, 170).filter(F.col("doc_id") % 10 == 6)
              .withColumn("n_chars", F.lit(777).cast("long")))
        t.upsert(_offset_parts(up, 0), ["doc_id"])
        t.write(_offset_parts(
            kv(150, 170).filter(F.col("doc_id") % 10 != 6), 4))
        # insert + delete inside the window: nets out
        extra = (kv(0, 5).withColumn("doc_id",
                                     F.col("doc_id") + 900))
        t.write(_offset_parts(extra, 8))
        t.delete_rows(extra.select("doc_id"), ["doc_id"])
        rows = (t.read_changes(spark, s0)
                .select("doc_id", "n_chars", "_change_type").collect())
    return spark.createDataFrame(
        rows, "doc_id long, n_chars long, _change_type string")


@query("table_merge_upsert", oracle="""
    SELECT 'pre' AS state, doc_id::BIGINT AS doc_id,
           length(text)::BIGINT AS n_chars
    FROM documents WHERE doc_id < 200
    UNION ALL
    SELECT 'post', doc_id::BIGINT, length(text)::BIGINT
    FROM documents WHERE doc_id < 150
    UNION ALL
    SELECT 'post', doc_id::BIGINT, 777::BIGINT
    FROM documents WHERE doc_id >= 150 AND doc_id < 250
""")
def table_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atomic single-snapshot MERGE (engine/tables.py merge — the
    Iceberg MERGE-commit analog): ONE snapshot carries both the
    equality-delete file and the appended data files, sharing a
    sequence number under the strict data/delete rule, so readers
    flip from old to new rows at a single publish. The query commits
    docs 0..200, merges keys 150..250 with n_chars := 777 (replacing
    150..200, inserting 200..250), and returns BOTH states: 'pre' =
    time travel to the pre-merge snapshot (original values — the
    merge's tombstones and appends are both invisible), 'post' = the
    current read. Atomicity is asserted in-query: exactly one
    snapshot was added."""
    from .tables import IcebergLike
    with _scratch("table_merge_q_") as base:
        t = IcebergLike(base)
        t.write(_offset_parts(_docs_kv(spark, sf_dir, 0, 200), 0))
        pre = t.snapshots()[-1]["snapshot_id"]
        n0 = len(t.snapshots())
        up = (_docs_kv(spark, sf_dir, 150, 250)
              .withColumn("n_chars", F.lit(777).cast("long")))
        t.merge(_offset_parts(up, 0), ["doc_id"])
        assert len(t.snapshots()) == n0 + 1, "merge must be ONE commit"
        rows = [("pre", r.doc_id, r.n_chars) for r in
                t.read(spark, snapshot_id=pre)
                .select("doc_id", "n_chars").collect()]
        rows += [("post", r.doc_id, r.n_chars) for r in
                 t.read(spark).select("doc_id", "n_chars").collect()]
    return spark.createDataFrame(
        rows, "state string, doc_id long, n_chars long")


@query("table_schema_evolution", oracle="""
    SELECT doc_id::BIGINT AS doc_id, length(text)::BIGINT AS n_chars,
           NULL::VARCHAR AS lang
    FROM documents WHERE doc_id < 150
    UNION ALL
    SELECT doc_id::BIGINT, length(text)::BIGINT, source
    FROM documents WHERE doc_id >= 150 AND doc_id < 250
""")
def table_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on append (engine/tables.py: the snapshot
    records schema_json and reads pin it): wave 1 commits without a
    ``lang`` column, wave 2 appends WITH one. The current read serves
    the evolved schema — old files surface lang as NULL, no rewrite —
    while time travel to the pre-evolution snapshot reads with the
    ORIGINAL schema (asserted in-query: no lang column there). The
    Iceberg add-column contract: metadata-only, O(1), never touches
    committed data files."""
    from .tables import IcebergLike
    with _scratch("table_evo_q_") as base:
        t = IcebergLike(base)
        t.write(_offset_parts(_docs_kv(spark, sf_dir, 0, 150), 0))
        pre = t.snapshots()[-1]["snapshot_id"]
        wave2 = (_t(spark, sf_dir, "documents")
                 .filter((F.col("doc_id") >= 150)
                         & (F.col("doc_id") < 250))
                 .select(F.concat(F.lit("c"),
                                  F.col("doc_id").cast("string"))
                         .alias("conv_id"),
                         F.col("doc_id").cast("long").alias("doc_id"),
                         F.length("text").cast("long").alias("n_chars"),
                         F.col("source").alias("lang")))
        t.write(_offset_parts(wave2, 4), append=True)
        old = t.read(spark, snapshot_id=pre)
        assert "lang" not in old.columns, \
            "pre-evolution snapshot must read with its own schema"
        rows = (t.read(spark)
                .select("doc_id", "n_chars", "lang").collect())
    return spark.createDataFrame(
        rows, "doc_id long, n_chars long, lang string")


@query("table_position_delete", oracle="""
    SELECT 'pre' AS state, doc_id::BIGINT AS doc_id,
           length(text)::BIGINT AS n_chars
    FROM documents WHERE doc_id < 200
    UNION ALL
    SELECT 'post', doc_id::BIGINT, length(text)::BIGINT
    FROM documents WHERE doc_id < 200 AND doc_id % 10 != 3
    UNION ALL
    SELECT 'post', doc_id::BIGINT, length(text)::BIGINT
    FROM documents WHERE doc_id >= 200 AND doc_id < 280
""")
def table_position_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position deletes (engine/tables.py delete_where — the Iceberg
    v2 position-delete-file analog, the OTHER delete flavor next to
    equality deletes): rows are tombstoned by (partition, file, row
    ordinal) from the parquet scan's ``_metadata.row_index``, the
    predicate-takedown path when no natural key exists — and the
    delete file stores coordinates, never the purged values. The
    query commits docs 0..200, position-deletes ``doc_id % 10 = 3``,
    appends 200..300 (rows with matching keys SURVIVE — a position
    delete names concrete pre-existing files, so later appends are
    untouchable by construction), then position-deletes
    ``doc_id >= 280`` across the now mixed-age files. 'pre' = time
    travel to the pre-delete snapshot (tombstones invisible), 'post'
    = the current merge-on-read view. Asserted in-query: no data
    file was rewritten by either delete (pure merge-on-read)."""
    from .tables import IcebergLike
    with _scratch("table_posdel_q_") as base:
        t = IcebergLike(base)
        t.write(_offset_parts(_docs_kv(spark, sf_dir, 0, 200), 0))
        pre = t.snapshots()[-1]["snapshot_id"]
        d1 = t.delete_where(spark, "doc_id % 10 = 3")
        t.write(_offset_parts(_docs_kv(spark, sf_dir, 200, 300), 0),
                append=True)
        files_before = {k: (t.manifest(k) or {}).get("files")
                        for k in t.committed_keys()}
        d2 = t.delete_where(spark, "doc_id >= 280")
        assert d1["op"] == d2["op"] == "pos_delete"
        files_after = {k: (t.manifest(k) or {}).get("files")
                       for k in t.committed_keys()}
        assert files_after == files_before, \
            "position deletes must be merge-on-read (no rewrite)"
        rows = [("pre", r.doc_id, r.n_chars) for r in
                t.read(spark, snapshot_id=pre)
                .select("doc_id", "n_chars").collect()]
        rows += [("post", r.doc_id, r.n_chars) for r in
                 t.read(spark).select("doc_id", "n_chars").collect()]
    return spark.createDataFrame(
        rows, "state string, doc_id long, n_chars long")


# ---- incremental sketch rollup (tables.read_incremental x
# sketch.hll_merge) ---------------------------------------------------


@query("table_sketch_rollup", oracle=r"""
    WITH h AS (SELECT source,
        ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
      FROM documents WHERE doc_id < 500),
    b AS (SELECT source, h % 256 AS bucket, h // 256 AS w FROM h),
    r AS (SELECT source, bucket,
            CASE WHEN w = 0 THEN 53
                 ELSE 52 - (length(bin(w)) - 1) END AS rho
          FROM b)
    SELECT source, bucket::BIGINT AS bucket, max(rho)::BIGINT AS rho
    FROM r GROUP BY source, bucket
""")
def table_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental metrics maintenance WITHOUT corpus rescans: the
    stored per-source HLL registers of wave 1 merge with a sketch
    built over ONLY ``read_incremental``'s rows after wave 2 appends
    into the SAME partitions (file-granular increments). The oracle
    builds the sketch over the full union — a green row certifies
    both the incremental read (any leaked/missed row would flip a
    register with probability ~1 per row) and the sketch merge law
    ``merge(build(A), build(B)) == build(A ∪ B)`` relationally, at
    once. This is the 100-TB operating mode for table statistics:
    per-snapshot sketch + merge, never a rescan."""
    from ..datapipe.sketch import hll_merge, hll_registers
    from .tables import IcebergLike, with_part_key

    docs = (_t(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 500)
            .select(F.concat(F.lit("c"), F.col("doc_id").cast("string"))
                    .alias("conv_id"),
                    F.col("doc_id").cast("long").alias("doc_id"),
                    "source", "text"))
    with _scratch("table_hll_q_") as base:
        t = IcebergLike(base)
        t.write(with_part_key(docs.filter("doc_id < 300"), 4))
        s0 = t.snapshots()[-1]["snapshot_id"]
        sk1 = hll_registers(t.read(spark), value_col="text",
                            group_cols=("source",), p=8,
                            hash_mode="md5")
        sk1_rows = sk1.collect()  # the "stored" per-snapshot sketch
        t.write(with_part_key(docs.filter("doc_id >= 300"), 4),
                append=True)
        inc = t.read_incremental(spark, s0)
        sk2 = hll_registers(inc, value_col="text",
                            group_cols=("source",), p=8,
                            hash_mode="md5")
        stored = spark.createDataFrame(
            sk1_rows, "source string, bucket long, rho long")
        rows = (hll_merge(stored, sk2)
                .select("source", "bucket", "rho").collect())
    return spark.createDataFrame(
        rows, "source string, bucket long, rho long")


# ---- hidden partitioning (tables.write(partition_spec=...) x
# partition_spec.key_pruner) ------------------------------------------


@query("table_hidden_partitioning", oracle="""
    SELECT 'range' AS probe, CAST(ts AS DATE) AS day, event_type,
           COUNT(*)::BIGINT AS n
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts <= TIMESTAMP '2024-01-14 23:59:59'
    GROUP BY 2, 3
    UNION ALL
    SELECT 'point', CAST(ts AS DATE), event_type, COUNT(*)::BIGINT
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts <= TIMESTAMP '2024-01-14 23:59:59'
      AND user_id = 7
    GROUP BY 2, 3
""")
def table_hidden_partitioning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden partitioning (engine/partition_spec.py + tables.py
    write(partition_spec)/read_where — the Iceberg partition-
    transform analog): the table declares ``(days(ts), bucket(4,
    user_id))``, the writer derives each row's partition from the
    transforms (pure JVM projection, zero shuffle), and readers
    filtering on the RAW columns get planning-time partition pruning
    from key arithmetic alone — the write collects NO column stats,
    so every eliminated partition is the spec's doing. Probe 'range'
    is the time-slice read (5 of ~30 days kept); probe 'point' adds
    ``user_id = 7``, whose xxhash64 bucket digit prunes 3 of every 4
    surviving day-partitions on top. Asserted in-query: spec pruning
    fired for both probes, stats pruning contributed nothing, the
    point probe pruned strictly more, and a second write with a
    DIFFERENT spec is refused (one spec per table — evolution =
    new table + backfill, see tables._bind_spec)."""
    from datetime import datetime

    from .tables import IcebergLike
    lo = datetime(2024, 1, 10, 0, 0, 0)
    hi = datetime(2024, 1, 14, 23, 59, 59)
    with _scratch("table_spec_q_") as base:
        t = IcebergLike(base)
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        t.write(ev, partition_spec=[("days", "ts"),
                                    ("bucket", "user_id", 4)])
        try:
            t.write(ev, partition_spec=[("days", "ts"),
                                        ("bucket", "user_id", 8)],
                    append=True)
            raise RuntimeError("divergent spec was accepted")
        except ValueError:
            pass
        out1, rep1 = t.read_where(spark, "ts", lo=lo, hi=hi)
        out2, rep2 = t.read_where(
            spark, preds={"ts": (lo, hi), "user_id": (7, 7)})
        for rep in (rep1, rep2):
            if not rep["pruned_by_spec"] or rep["pruned_by_stats"]:
                raise RuntimeError(f"spec pruning missing: {rep}")
        if len(rep2["partitions_kept"]) * 3 > len(
                rep1["partitions_kept"]):
            raise RuntimeError(
                f"bucket digit pruned too little: range kept"
                f" {len(rep1['partitions_kept'])}, point kept"
                f" {len(rep2['partitions_kept'])}")
        agg = lambda d: (d.groupBy(F.to_date("ts").alias("day"),
                                   "event_type")
                         .agg(F.count("*").alias("n")))
        rows = [("range", r.day, r.event_type, r.n)
                for r in agg(out1).collect()]
        rows += [("point", r.day, r.event_type, r.n)
                 for r in agg(out2).collect()]
    return spark.createDataFrame(
        rows, "probe string, day date, event_type string, n long")


# ---------------------------------------------------------------------------
# Round 5: grouping-set metrics, pivot, range-frame windows, curriculum
# ordering, cluster representatives, JSONL-gz ingest, stream-stream
# join, branch refs.


@query(
    "metrics_rollup_cube",
    oracle="""
    SELECT coalesce(source, '(all)') AS src,
           coalesce(lang, '(all)') AS lng,
           CAST(GROUPING(source, lang) AS BIGINT) AS gid,
           count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS sum_chars
    FROM documents GROUP BY ROLLUP (source, lang)
    """)
def metrics_rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-set metrics (ROLLUP source -> lang -> grand total) —
    the one-pass multi-granularity corpus report (per-source,
    per-source-lang, overall) that otherwise costs three scans.
    Spark expands grouping sets inside ONE partial-aggregated
    exchange (same scale shape as a plain groupBy; no union of
    scans); grouping_id disambiguates subtotal rows from real
    ('(all)' never collides because the column is non-null).
    DuckDB's GROUPING bit order (first listed column = MSB) matches
    Spark's, which this oracle locks in."""
    docs = _t(spark, sf_dir, "documents")
    return (docs.rollup("source", "lang")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("sum_chars"),
                 F.grouping_id().cast("long").alias("gid"))
            .select(F.coalesce(F.col("source"), F.lit("(all)"))
                    .alias("src"),
                    F.coalesce(F.col("lang"), F.lit("(all)"))
                    .alias("lng"),
                    "gid", "n_docs", "sum_chars"))


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "events_pivot_by_type",
    oracle="""
    SELECT user_id,
           count(*) FILTER (event_type = 'click')::BIGINT AS n_click,
           count(*) FILTER (event_type = 'error')::BIGINT AS n_error,
           count(*) FILTER (event_type = 'purchase')::BIGINT
             AS n_purchase,
           count(*) FILTER (event_type = 'signup')::BIGINT AS n_signup,
           count(*) FILTER (event_type = 'view')::BIGINT AS n_view
    FROM events GROUP BY user_id
    """)
def events_pivot_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-to-wide pivot with an EXPLICIT value list — per-user event
    counts as columns. The explicit list matters at scale: without it
    Spark runs an extra distinct-values job over the corpus before it
    can even plan, and an unbounded type set yields an unbounded
    schema. Spelled as the conditional aggregate rather than
    ``.pivot()``: Spark's pivotfirst plans TWO exchanges (a
    (group, pivot)-keyed pre-aggregate, then the per-group
    pivotfirst), while the conditional-aggregate form of the same
    explicit-list pivot is ONE partial-aggregated exchange on the
    grouping key straight off the scan — plan-gated."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("user_id")
            .agg(*[F.count(F.when(F.col("event_type") == t, 1))
                   .cast("long").alias(f"n_{t}")
                   for t in _EVENT_TYPES]))


@query(
    "events_trailing_window",
    oracle="""
    SELECT event_id, user_id, epoch_us(ts) AS us,
           CAST(count(*) OVER w AS BIGINT) AS n_1h,
           max(value) OVER w AS max_val_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """)
def events_trailing_window(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Trailing event-time window via a RANGE frame — "activity in
    the last hour as of each event", the rate/velocity feature shape.
    A RANGE frame over epoch microseconds is value-based: ties share
    a frame and gaps shrink it, which a ROWS frame gets wrong. One
    exchange on user_id (high-cardinality partition key), frame
    evaluated in a single sorted pass per key; max/count are exact,
    so the row values are engine-identical."""
    from pyspark.sql import Window
    ev = (_t(spark, sf_dir, "events")
          .withColumn("us",
                      F.unix_micros(F.col("ts").cast("timestamp"))))
    w = (Window.partitionBy("user_id").orderBy("us")
         .rangeBetween(-3_600_000_000, 0))
    return ev.select(
        "event_id", "user_id", "us",
        F.count("*").over(w).cast("long").alias("n_1h"),
        F.max("value").over(w).alias("max_val_1h"))


@query(
    "curriculum_order",
    oracle="""
    WITH b AS (
      SELECT source,
             quantile_cont(n_chars, 0.25) AS q0,
             quantile_cont(n_chars, 0.50) AS q1,
             quantile_cont(n_chars, 0.75) AS q2
      FROM documents GROUP BY source)
    SELECT d.doc_id, d.source,
           CAST(1 + (d.n_chars > b.q0)::INT + (d.n_chars > b.q1)::INT
                + (d.n_chars > b.q2)::INT AS BIGINT) AS stage,
           md5('cur1-' || CAST(d.doc_id AS VARCHAR)) AS shuffle_key
    FROM documents d JOIN b USING (source)
    """)
def curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering (splits.with_curriculum_stage): difficulty
    stage from exact per-source score quartiles + a deterministic
    within-stage shuffle key. Deliberately NOT an NTILE window — the
    boundaries are one tiny exact-percentile aggregate broadcast
    back, so the corpus never funnels through window partitions;
    assignment is a pure hash/compare, reproducible across engines
    (md5 family here so DuckDB replays the shuffle key verbatim)."""
    from ..datapipe.splits import with_curriculum_stage
    docs = _t(spark, sf_dir, "documents")
    return (with_curriculum_stage(docs, score_col="n_chars",
                                  by="source", salt="cur1",
                                  hash_mode="md5")
            .select("doc_id", "source", "stage", "shuffle_key"))


@query(
    "dedup_cluster_representative",
    oracle=r"""
    WITH RECURSIVE corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 250
      UNION ALL
      SELECT doc_id + 1000000, text || ' extra trailing words appended'
      FROM documents WHERE doc_id % 3 = 0 AND doc_id < 250
      UNION ALL
      SELECT doc_id + 2000000,
             text || ' extra trailing words appended more'
      FROM documents WHERE doc_id % 3 = 0 AND doc_id < 250),
    t AS (SELECT doc_id,
        string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                     ' ') AS toks FROM corpus),
    s AS (SELECT doc_id,
        list_distinct(list_transform(
          range(0, greatest(len(toks) - 3, 0) + 1),
          i -> array_to_string(toks[(i + 1):(i + 3)], ' '))) AS sh
      FROM t),
    e AS (SELECT a.doc_id AS src, b.doc_id AS dst
          FROM s a, s b
          WHERE a.doc_id != b.doc_id
            AND len(list_intersect(a.sh, b.sh))
                / CAST(len(list_distinct(list_concat(a.sh, b.sh)))
                       AS DOUBLE) >= 0.5),
    comp AS (
      SELECT doc_id AS v, doc_id AS r FROM corpus
      UNION
      SELECT e.dst, c.r FROM comp c JOIN e ON e.src = c.v),
    lab AS (SELECT v AS doc_id, min(r) AS cluster_id
            FROM comp GROUP BY v),
    j AS (SELECT l.cluster_id, l.doc_id,
                 length(c.text)::BIGINT AS len
          FROM lab l JOIN corpus c USING (doc_id)),
    rk AS (SELECT cluster_id, doc_id, len,
                  row_number() OVER (PARTITION BY cluster_id
                                     ORDER BY len DESC, doc_id) AS rn,
                  count(*) OVER (PARTITION BY cluster_id) AS nm
           FROM j)
    SELECT cluster_id, doc_id AS rep_doc_id,
           CAST(nm AS BIGINT) AS n_members,
           len AS rep_chars
    FROM rk WHERE rn = 1
    """)
def dedup_cluster_representative(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Keep-one-per-cluster (dedup.cluster_representatives): the
    near-dup clusters of dedup_clusters reduced to one surviving doc
    each — longest text wins, min id tie-breaks — i.e. the step that
    actually shrinks the corpus after cluster formation. Rank-1-per-
    cluster executes as WindowGroupLimit (at most one candidate
    forwarded per cluster per task before the single cluster-keyed
    exchange). Oracle: the same recursive-CTE components plus a
    window pick in DuckDB."""
    from ..datapipe.dedup import (cluster_representatives,
                                  minhash_dedup_pairs, neardup_clusters)
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 250)
    base = docs.select("doc_id", "text")
    thirds = docs.filter(F.col("doc_id") % 3 == 0)
    near1 = thirds.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"),
                 F.lit(" extra trailing words appended")).alias("text"))
    near2 = thirds.select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"),
                 F.lit(" extra trailing words appended more"))
         .alias("text"))
    corpus = base.unionByName(near1).unionByName(near2)
    pairs = minhash_dedup_pairs(corpus, threshold=0.5,
                                num_hashes=32, bands=16)
    clusters = neardup_clusters(corpus.select("doc_id"), pairs)
    return cluster_representatives(corpus, clusters)


_JSONL_SHARDS = 4


def _jsonl_stage_dir(sf_dir: str) -> str:
    import hashlib
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    return os.path.join(tempfile.gettempdir(), f"jsonl_stage_{tag}")


def _stage_jsonl_fixtures(spark: SparkSession, sf_dir: str) -> str:
    """Deterministic gzipped-JSONL shards from the documents table
    (doc_id % shards, doc_id order within a shard) with ONE malformed
    line injected per shard — the real-corpus condition the ingest's
    PERMISSIVE-mode hygiene exists for. Idempotent per sf_dir."""
    import gzip
    import json as _json

    out_dir = _jsonl_stage_dir(sf_dir)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    rows = sorted(
        (r["doc_id"], r["lang"], r["source"], r["text"]) for r in
        _t(spark, sf_dir, "documents")
        .select("doc_id", "lang", "source", "text").collect())
    shards: list[list[str]] = [["{this is not json"]
                               for _ in range(_JSONL_SHARDS)]
    for doc_id, lang, source, text in rows:
        shards[doc_id % _JSONL_SHARDS].append(_json.dumps(
            {"doc_id": doc_id, "lang": lang, "source": source,
             "text": text}, sort_keys=True, ensure_ascii=False))
    for i, lines in enumerate(shards):
        path = os.path.join(out_dir, f"shard-{i}.jsonl.gz")
        with gzip.GzipFile(path, "wb", mtime=0) as fh:
            fh.write(("\n".join(lines) + "\n").encode("utf-8"))
    return out_dir


@query(
    "jsonl_gz_ingest",
    oracle="""
    SELECT doc_id, lang, source, text AS main_text,
           length(text)::BIGINT AS span_end
    FROM documents
    """)
def jsonl_gz_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzipped-JSONL ingestion end to end (sources/jsonl.py): the
    documents table staged as 4 .jsonl.gz shards each led by a
    malformed line, read back with an explicit schema in PERMISSIVE
    mode (corrupt lines dropped via the required-column null check —
    never a full-corpus inferSchema pass), and the payloads run the
    REAL extraction pipeline. The oracle predicts every field from
    the documents table alone, so the gzip round-trip, the JSON
    parse, the corrupt-line hygiene (row count would be off by 4
    otherwise) and the extractor are all on the hook at once."""
    from ..sources.jsonl import read_jsonl
    stage = _stage_jsonl_fixtures(spark, sf_dir)
    docs = read_jsonl(
        spark, f"{stage}/*.jsonl.gz",
        "doc_id BIGINT, lang STRING, source STRING, text STRING",
        required_col="doc_id")
    meta = docs.select("doc_id", "lang", "source")
    out = _run_extraction(_docs_as_turns(docs, F.col("text")))
    return (out.join(F.broadcast(meta), "doc_id")
            .select("doc_id", "lang", "source", "main_text",
                    F.expr("spans[0].end").alias("span_end")))


@query(
    "streaming_interval_join",
    oracle="""
    SELECT c.user_id, c.event_id AS click_id, e.event_id AS err_id,
           epoch_us(c.ts) AS click_us, epoch_us(e.ts) AS err_us
    FROM events c JOIN events e ON c.user_id = e.user_id
    WHERE c.event_type = 'click' AND e.event_type = 'error'
      AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 30 MINUTE
    """)
def streaming_interval_join(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join (streaming/stream.py
    start_interval_join): clicks and errors arrive as two independent
    file streams (two chronological waves each, maxFilesPerTrigger=1
    => cross-micro-batch matches go through the join state store),
    paired per user within 30 minutes. Both sides are watermarked and
    the join condition bounds event time on both sides — the
    combination that lets Spark evict join state instead of buffering
    both streams forever. The oracle is the equivalent BATCH interval
    join: streaming and batch must agree pair-for-pair."""
    from ..streaming.stream import start_interval_join
    ev = _t(spark, sf_dir, "events")
    clicks = (ev.filter(F.col("event_type") == "click")
              .select(F.col("event_id").alias("l_id"), "user_id",
                      F.col("ts").alias("l_ts")))
    errors = (ev.filter(F.col("event_type") == "error")
              .select(F.col("event_id").alias("r_id"), "user_id",
                      F.col("ts").alias("r_ts")))
    mid = F.to_timestamp(F.lit("2024-01-16 00:00:00"))
    with _scratch("stream_ivj_q_") as base:
        streams = [
            _stage_waves(spark, os.path.join(base, side),
                         [("a", df.filter(F.col(ts) < mid)),
                          ("b", df.filter(F.col(ts) >= mid))],
                         f"{side}_id BIGINT, user_id BIGINT,"
                         f" {ts} TIMESTAMP", max_files=1)
            for side, df, ts in (("l", clicks, "l_ts"),
                                 ("r", errors, "r_ts"))]
        _drain(start_interval_join(
            *streams, os.path.join(base, "out"),
            os.path.join(base, "ckpt"), within_sec=1800))
        rows = (spark.read.parquet(os.path.join(base, "out"))
                .select("user_id", F.col("l_id").alias("click_id"),
                        F.col("r_id").alias("err_id"),
                        F.col("l_us").alias("click_us"),
                        F.col("r_us").alias("err_us"))
                .collect())
    return spark.createDataFrame(
        rows, "user_id BIGINT, click_id BIGINT, err_id BIGINT,"
              " click_us BIGINT, err_us BIGINT")


@query(
    "table_branch_write",
    oracle="""
    SELECT doc_id, length(text)::BIGINT AS n_chars,
           CASE WHEN doc_id < 300 THEN 'base' ELSE 'audit' END AS wave
    FROM documents WHERE doc_id < 400
    """)
def table_branch_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Branch refs end to end (engine/tables.py branch section): base
    commit to main, an audit wave appended UNDER A BRANCH (main
    readers keep the pre-branch state — asserted in-query), then
    fast_forward publishes the branch to main — the write-audit-
    publish pattern with a mutable ref instead of tag juggling.
    Isolation rides per-file sequence scoping, so the branch read and
    the pinned main read are both exact. The returned frame is the
    post-publish main state; the oracle predicts it from the
    documents table."""
    from .tables import IcebergLike
    with _scratch("table_branch_q_") as base:
        t = IcebergLike(base)
        t.write(_offset_parts(_docs_kv(spark, sf_dir, 0, 300), 0))
        t.create_branch("audit")
        t.write_to_branch(
            "audit", _offset_parts(_docs_kv(spark, sf_dir, 300, 400), 4))
        main_n = t.read(spark).count()
        br_n = t.read(spark, branch="audit").count()
        if main_n != 300 or br_n != 400:
            raise RuntimeError(
                f"branch isolation broken: main={main_n} branch={br_n}")
        t.fast_forward("audit")
        if t.branches() or t._main_pin() is not None:
            raise RuntimeError("fast_forward left refs behind")
        rows = (t.read(spark)
                .select("doc_id", "n_chars",
                        F.when(F.col("doc_id") < 300, "base")
                         .otherwise("audit").alias("wave"))
                .collect())
    return spark.createDataFrame(
        rows, "doc_id long, n_chars long, wave string")


@query(
    "global_row_ids",
    oracle="""
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS BIGINT)
             AS global_id
    FROM documents
    """)
def global_row_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense global row numbering (splits.with_global_ids): assign
    ``0..n-1`` in doc_id order — the "number every document" step
    behind shard-offset manifests and sample indexes. The oracle is
    the naive global window; the implementation is the scale form
    (rank locally, offset globally): bucket bounds from one
    approx_percentile sketch, per-bucket counts prefix-summed driver-side
    and broadcast back, then a row_number partitioned BY BUCKET — no
    single-partition window anywhere, sorts parallelize across
    buckets, and the ids equal the global rank regardless of where
    the boundaries fall."""
    from ..datapipe.splits import with_global_ids
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return (with_global_ids(docs, order_col="doc_id", buckets=8)
            .select("doc_id", "global_id"))


@query(
    "table_stats_agg",
    oracle="""
    SELECT count(*)::BIGINT AS n_rows,
           min(doc_id) AS min_id, max(doc_id) AS max_id,
           min(length(text))::BIGINT AS min_chars,
           max(length(text))::BIGINT AS max_chars
    FROM documents WHERE doc_id < 400
    """)
def table_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only aggregates (engine/tables.py stats_agg): COUNT
    plus column MIN/MAX answered entirely from the partition
    manifests — zero data files opened, the Iceberg metadata-
    aggregate-pushdown analog ("how many rows / what's the range" at
    10^12 rows as O(partitions) driver-side JSON reads). The commit
    is two waves (base + append) so the append-side stat widening is
    exercised; the query asserts the answer came without a Spark scan
    by construction (stats_agg never takes a SparkSession), and the
    exactness guards (raise on live deletes / missing stats) are
    pytest-covered in tests/test_table_stats_agg.py."""
    from .tables import IcebergLike
    with _scratch("table_statsagg_q_") as base:
        t = IcebergLike(base)
        t.write(_offset_parts(_docs_kv(spark, sf_dir, 0, 250), 0),
                stat_cols=["doc_id", "n_chars"])
        t.write(_offset_parts(_docs_kv(spark, sf_dir, 250, 400), 0),
                stat_cols=["doc_id", "n_chars"], append=True)
        agg = t.stats_agg(cols=("doc_id", "n_chars"))
    return spark.createDataFrame(
        [(agg["rows"], agg["min"]["doc_id"], agg["max"]["doc_id"],
          agg["min"]["n_chars"], agg["max"]["n_chars"])],
        "n_rows long, min_id long, max_id long,"
        " min_chars long, max_chars long")


@query(
    "skew_salted_join",
    oracle="""
    SELECT e.event_id, e.user_id, c.n_ev
    FROM events e
    JOIN (SELECT user_id, count(*)::BIGINT AS n_ev
          FROM events GROUP BY user_id) c USING (user_id)
    """)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salt-replication join (datapipe/skew.py salted_skew_join): a
    fact stream joined to a per-key dimension with the join key
    salted ``(key, _salt)`` so one hot key spreads over ``salt``
    reducers — the explicit fix when AQE can't split a single hot
    key group and the dim is too big to broadcast. The salt derives
    from a unique fact column (deterministic, replay-safe — never
    rand()); the dim replicates salt-fold via explode(sequence), so
    every fact row meets its dim row exactly once. Result is
    salt-invariant; the oracle is the plain unsalted join."""
    from ..datapipe.skew import salted_skew_join
    ev = _t(spark, sf_dir, "events")
    fact = ev.select("event_id", "user_id")
    dim = (ev.groupBy("user_id")
           .agg(F.count("*").cast("long").alias("n_ev")))
    return (salted_skew_join(fact, dim, on="user_id",
                             unique_col="event_id", salt=8)
            .select("event_id", "user_id", "n_ev"))


@query(
    "events_json_props",
    oracle="""
    SELECT event_type, count(*)::BIGINT AS n,
           sum(json_extract_string(props, '$.k')::BIGINT)::BIGINT
             AS sum_k,
           max(json_extract_string(props, '$.k')::BIGINT) AS max_k
    FROM events GROUP BY event_type
    """)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured property extraction via the VARIANT type
    (Spark 4): ``parse_json`` shreds the JSON props column once into
    a binary variant and ``variant_get`` pulls typed paths out —
    JVM-side, no Python, no schema declared up front (schema-on-read
    for the long tail of event properties, where a full
    ``from_json`` struct schema would need every key enumerated and
    an ``inferSchema`` pass is off the table at 10^12 rows). The
    aggregate is one partial-aggregated exchange on event_type; the
    oracle replays the same paths with DuckDB's JSON extraction."""
    ev = _t(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "bigint")
    return (ev.select("event_type", k.alias("k"))
            .groupBy("event_type")
            .agg(F.count("*").cast("long").alias("n"),
                 F.sum("k").cast("long").alias("sum_k"),
                 F.max("k").alias("max_k")))


@query(
    "streaming_dedup_watermark",
    oracle="""
    SELECT event_id, user_id, epoch_us(ts) AS us, event_type
    FROM events
    """)
def streaming_dedup_watermark(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Native in-stream exact dedup (streaming/stream.py
    start_dedup_within_watermark): the events table arrives as two
    micro-batches — the full wave, then the SAME wave again (the
    at-least-once redelivery pattern: replayed offsets, retried file
    drops). ``dropDuplicatesWithinWatermark`` keeps each event_id's
    first arrival and drops the replay via keyed state that the
    watermark evicts after the delay horizon — bounded state, unlike
    a plain stream dropDuplicates. The delay spans the whole fixture
    window so every replayed row is provably dropped by STATE
    matching, not by late-data discard. Oracle: the batch table
    itself (exactly one copy per event)."""
    from ..streaming.stream import start_dedup_within_watermark
    ev = (_t(spark, sf_dir, "events")
          .select("event_id", "user_id",
                  F.col("ts").cast("timestamp").alias("ts"),
                  "event_type"))
    with _scratch("stream_dedupwm_q_") as base:
        stream = _stage_waves(
            spark, base, [("a", ev), ("b", ev)],  # b replays a verbatim
            "event_id BIGINT, user_id BIGINT, ts TIMESTAMP,"
            " event_type STRING", max_files=1)
        _drain(start_dedup_within_watermark(
            stream, os.path.join(base, "out"),
            os.path.join(base, "ckpt"), keys=("event_id",),
            delay="365 days"))
        rows = (spark.read.parquet(os.path.join(base, "out"))
                .select("event_id", "user_id",
                        F.unix_micros("ts").alias("us"), "event_type")
                .collect())
    return spark.createDataFrame(
        rows, "event_id BIGINT, user_id BIGINT, us BIGINT,"
              " event_type STRING")


@query(
    "events_unpivot_metrics",
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    t AS (SELECT unnest(['click','error','purchase','signup','view'])
            AS event_type),
    c AS (SELECT user_id, event_type, count(*)::BIGINT AS n
          FROM events GROUP BY user_id, event_type)
    SELECT u.user_id, t.event_type, coalesce(c.n, 0)::BIGINT AS n
    FROM u CROSS JOIN t
    LEFT JOIN c ON c.user_id = u.user_id
              AND c.event_type = t.event_type
    """)
def events_unpivot_metrics(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Wide-to-long UNPIVOT — the inverse of events_pivot_by_type,
    the melt step that turns a metrics-as-columns report back into
    tidy (key, metric, value) rows for downstream grouping. Spark's
    ``unpivot`` plans as an Expand over the already-aggregated wide
    frame: a narrow per-row replication, ZERO additional exchanges
    beyond the pivot's one — never a UNION of per-column scans. The
    dense zero rows (a user with no purchases emits n=0, not an
    absent row) come out of the wide frame for free; the oracle has
    to rebuild them with a users x types cross join."""
    piv = QUERIES["events_pivot_by_type"](spark, sf_dir)
    long = piv.unpivot(
        ["user_id"], [f"n_{t}" for t in _EVENT_TYPES],
        "event_type", "n")
    return long.select(
        "user_id",
        F.expr("substring(event_type, 3)").alias("event_type"),
        F.col("n").cast("long").alias("n"))


@query(
    "split_stratified_exact",
    oracle="""
    WITH d AS (
      SELECT doc_id, source,
             ('0x' || substr(md5('sx1-' || CAST(doc_id AS VARCHAR)),
                             1, 15))::BIGINT AS h
      FROM documents),
    r AS (SELECT doc_id, source,
                 ROW_NUMBER() OVER (PARTITION BY source
                                    ORDER BY h, doc_id) AS rk,
                 count(*) OVER (PARTITION BY source) AS n
          FROM d)
    SELECT doc_id, source,
           CASE WHEN rk <= (8 * n) // 10 THEN 'train'
                WHEN rk <= (9 * n) // 10 THEN 'val'
                ELSE 'test' END AS split
    FROM r
    """)
def split_stratified_exact(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """EXACT stratified split (splits.stratified_exact_split): every
    source gets floor(cum_weight * n_g / total) docs per split —
    integer arithmetic, engine-replayable — where the hash-threshold
    split is O(sqrt(n_g)) off per group. The oracle is the naive
    full-rank window; the implementation is order-statistic selection
    by band correction: GK-sketch quantiles bound where the K-th
    smallest hash can live, only the ~n_g/accuracy-row band ranks,
    and the exact (hash, id) cut broadcasts back for a narrow
    assignment — the corpus never funnels through per-group ranking
    tasks."""
    from ..datapipe.splits import stratified_exact_split
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return stratified_exact_split(docs, hash_mode="md5",
                                  accuracy=200)
