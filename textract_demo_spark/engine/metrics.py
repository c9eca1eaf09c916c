"""Per-partition extraction metrics for lineage manifests (A12,
north rule: "per-partition lineage + metrics (blocks kept/dropped,
confidence histograms)"; the reference analog is the notification/
observability path, SURVEY.md §3.3).

One derivation, two halves: the narrow per-row statistics
(``with_block_stats``) are computed in the SAME stage that writes the
staged data — the block arrays are already in memory there, so the
lambda costs nothing extra — and land as small scalar/array columns.
``partition_metrics`` then names the per-partition sums of only those
columns; ``IcebergLike.write`` evaluates them in the one staged
aggregate that also counts rows and takes the ``stat_cols`` bounds.
Parquet column pruning means that aggregate never re-decodes the fat
``blocks`` structs (a lambda over ``blocks`` in the rollup would force
a full-blocks ReadSchema — nested pruning cannot see through
higher-order-function lambdas).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_block_stats(results: DataFrame) -> DataFrame:
    """Narrow per-row stats columns (computed alongside the staging
    write; no extra pass): blocks kept/dropped + a 10-bucket
    confidence histogram of kept blocks."""
    return (results
            .withColumn("n_blocks_kept", F.expr(
                "size(filter(blocks, b -> b.is_content))"))
            .withColumn("n_blocks_dropped", F.expr(
                "size(filter(blocks, b -> NOT b.is_content))"))
            .withColumn("conf_hist", F.expr(
                "transform(sequence(0, 9), i ->"
                " size(filter(blocks, b -> b.is_content AND"
                " int(least(greatest(b.conf, 0.0d), 99.99d) / 10) = i)))"
            )))


def partition_metrics(staged: DataFrame) -> list[Column]:
    """Per-partition manifest metrics over a ``with_block_stats``
    frame, as named aggregate Columns for ``IcebergLike.write``'s
    ``metrics_fn`` slot (the commit adds ``rows`` itself).

    Manifest keys: ok, rejected, malformed, model_error,
    review_failed, failed, needs_review (when the frame carries it),
    blocks_kept, blocks_dropped, conf_histogram — one count per typed
    error status (SURVEY.md §1.4) so the lineage manifest
    distinguishes a quality reject from a broken envelope from an
    extractor failure; ``failed`` is the total of all non-ok
    statuses.
    """
    def n_where(cond) -> Column:
        return F.sum(F.when(cond, 1).otherwise(0))

    status = F.col("status")
    aggs = [n_where(status == "ok").alias("ok"),
            n_where(status != "ok").alias("failed")]
    aggs += [n_where(status == s).alias(s)
             for s in ("rejected", "malformed", "model_error",
                       "review_failed")]
    if "needs_review" in staged.columns:
        aggs.append(n_where(F.col("needs_review")).alias("needs_review"))
    aggs += [
        F.sum("n_blocks_kept").alias("blocks_kept"),
        F.sum("n_blocks_dropped").alias("blocks_dropped"),
        F.array(*[F.coalesce(F.sum(F.col("conf_hist")[i]), F.lit(0))
                  for i in range(10)]).alias("conf_histogram"),
    ]
    return aggs
