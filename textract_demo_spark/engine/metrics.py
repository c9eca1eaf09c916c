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
    confidence histogram of kept blocks. One ``selectExpr``: one JVM
    call and one analysis of the plan for all three columns."""
    return results.selectExpr(
        "*",
        "size(filter(blocks, b -> b.is_content)) AS n_blocks_kept",
        "size(filter(blocks, b -> NOT b.is_content)) AS n_blocks_dropped",
        "transform(sequence(0, 9), i -> size(filter(blocks, b ->"
        " b.is_content AND int(least(greatest(b.conf, 0.0d), 99.99d) / 10)"
        " = i))) AS conf_hist")


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

    Each aggregate is one aliased SQL expression string: one JVM call
    per column instead of one per Column-API node, which is most of
    the time a small commit spends building its plan.
    """
    counts = {"ok": "status = 'ok'", "failed": "status != 'ok'"}
    counts.update({s: f"status = '{s}'"
                   for s in ("rejected", "malformed", "model_error",
                             "review_failed")})
    if "needs_review" in staged.columns:
        counts["needs_review"] = "needs_review"
    hist = ", ".join(f"coalesce(sum(conf_hist[{i}]), 0)"
                     for i in range(10))
    exprs = {name: f"sum(CASE WHEN {cond} THEN 1 ELSE 0 END)"
             for name, cond in counts.items()}
    exprs.update({"blocks_kept": "sum(n_blocks_kept)",
                  "blocks_dropped": "sum(n_blocks_dropped)",
                  "conf_histogram": f"array({hist})"})
    return [F.expr(f"{e} AS {name}") for name, e in exprs.items()]
