"""End-to-end pipeline assembly + fixture-DataFrame helpers.

One Spark job replaces the reference's per-document Step Functions
orchestration (SURVEY.md §3.1): scan -> salted repartition -> Arrow
extraction kernel (quality gate, per-kind extractor and the reference
field rules inside) -> review-override join. Everything between the
one repartition exchange and the final write is narrow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..fixtures.generator import make_fixtures
from . import schemas
from .review import apply_reviews
from .udfs import extract_turns

RESULT_COLUMNS = [c for c in schemas.EXTRACTED_SCHEMA.names
                  if c != "blocks"]


def fixtures_to_dfs(spark: SparkSession, n_convs: int = 50,
                    seed: int = 42, **kw) -> dict[str, DataFrame]:
    """Materialize the deterministic fixture tables as DataFrames."""
    fix = make_fixtures(n_convs=n_convs, seed=seed, **kw)
    transcripts = spark.createDataFrame(
        fix["transcripts"], schema=schemas.TRANSCRIPTS_SCHEMA)
    reviews = spark.createDataFrame(
        [{k: r[k] for k in ("conv_id", "turn_idx", "vendor", "date",
                            "total", "tax", "worker_id", "review_ts")}
         for r in fix["reviews"]] or [],
        schema=schemas.REVIEWS_SCHEMA)
    return {"transcripts": transcripts, "reviews": reviews,
            "fixtures": fix}


def run_pipeline(transcripts: DataFrame, reviews: DataFrame | None = None,
                 salt: int = 16, partitions: int | None = None,
                 raw_reviews: DataFrame | None = None) -> DataFrame:
    """transcripts -> extracted turns with model results (+ review
    overrides when a reviews table is given).

    ``raw_reviews`` accepts an unhygienic review feed instead
    (RAW_REVIEWS_SCHEMA shape): it is passed through
    ``ingest_reviews`` first — non-.json sources and token-less rows
    dropped, answer-less rows marking their turns ``review_failed``
    (P10/P11 + the ReviewFailed path)."""
    results = extract_turns(transcripts, salt=salt, partitions=partitions)
    if raw_reviews is not None:
        from .review import ingest_reviews
        valid, failed = ingest_reviews(raw_reviews)
        results = apply_reviews(results, valid, failed_reviews=failed)
    elif reviews is not None:
        results = apply_reviews(results, reviews)
    return results
