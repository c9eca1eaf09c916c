"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

Engine: ``textract_demo_spark`` — see SURVEY.md. Flagship query =
the full extraction pipeline (quality gate -> HTML/PDF/plain
extraction -> field rules -> review override) over deterministic
synthetic transcripts plus the driver's ``documents`` table treated
as plain-text transcript turns.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SF0001 = "/root/testdata/sf0.001"


def _documents_as_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map the driver's documents table onto the transcript shape
    (BASELINE.json:15) — each document is one plain-text turn."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string")).alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("tool").alias("role"),
        F.col("text"),
        F.lit("").alias("tool"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction pipeline over synthetic transcripts
    unioned with sf0.001 documents-as-turns; returns per-turn results."""
    from textract_demo_spark.engine.pipeline import (
        fixtures_to_dfs, run_pipeline)

    dfs = fixtures_to_dfs(spark, n_convs=40)
    transcripts = dfs["transcripts"].unionByName(
        _documents_as_transcripts(spark, SF0001))
    out = run_pipeline(transcripts, dfs["reviews"], salt=8)
    return out.select(
        "conv_id", "turn_idx", "status", "kind", "main_text",
        F.size("spans").alias("n_spans"),
        F.col("model_result.vendor.value").alias("vendor"),
        F.col("model_result.date.value").alias("date"),
        F.col("model_result.total.value").alias("total"),
        F.col("model_result.confidence").alias("confidence"),
        "needs_review", "reviewed",
        F.col("final_result.confidence").alias("final_confidence"),
    )


def _priority() -> list[str]:
    """Registration order = driver verification order: the driver's
    CORRECTNESS pass oracles the FIRST 50 registered queries, so the
    least-proven entries register first. Queries with no green row in
    any CORRECTNESS_r*.json come first, then ascending by the last
    round with a green row (rows, schema and hash all match, no
    error); ties keep registration order."""
    from textract_demo_spark.engine.queries import QUERIES
    root = os.path.dirname(os.path.abspath(__file__))
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        with open(path) as fh:
            for name, row in json.load(fh).items():
                if (isinstance(row, dict) and row.get("rows_match")
                        and row.get("schema_match")
                        and row.get("hash_match") and not row.get("err")):
                    last[name] = max(last.get(name, 0), rnd)
    return sorted(QUERIES, key=lambda n: last.get(n, 0))


def __getattr__(name: str):
    if name == "_PRIORITY":  # computed on use: importing reads no file
        return _priority()
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Each callable takes (spark, sf_dir) and returns a DataFrame.
    Registered lazily from the engine's query module, in ``_priority``
    order so the driver's 50-query verification window covers the
    entries with the least driver history.
    """
    from textract_demo_spark.engine.queries import QUERIES
    return {n: QUERIES[n] for n in _priority()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted => rows-only check);
    same registration order as queries()."""
    from textract_demo_spark.engine.queries import ORACLES
    return {n: ORACLES[n] for n in _priority() if n in ORACLES}
