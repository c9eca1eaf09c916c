"""Distributed deterministic transcript generation.

``fixtures.make_fixtures`` materializes rows on the driver — fine for
unit tests, fatal at bench/cluster scale. Here the same hash-seeded
generator runs inside executors: ``spark.range(n_convs)`` ->
mapInPandas over conversation indices, each worker emitting its
conversations' turns independently (every value derives from
``(seed, conv_id, turn_idx)``, so generation is embarrassingly
parallel and reproducible at any scale — the property that stands in
for reading a real 10^12-turn Iceberg table).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..fixtures.generator import conv_turn_counts, make_turn
from . import schemas


def transcripts_df(spark: SparkSession, n_convs: int, seed: int = 42,
                   mean_turns: int = 4, hot_conv_fraction: float = 0.04,
                   hot_turns: int = 96,
                   slices: int | None = None) -> DataFrame:
    """Deterministic transcripts table, generated executor-side."""
    counts = conv_turn_counts(n_convs, mean_turns, hot_conv_fraction,
                              hot_turns, seed)
    # ship only (conv_id, n_turns) pairs; payloads are built in workers
    meta = spark.createDataFrame(
        pd.DataFrame(counts, columns=["conv_id", "n_turns"]))
    if slices:
        meta = meta.repartition(slices)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for conv_id, n_turns in zip(pdf["conv_id"], pdf["n_turns"]):
                for t in range(int(n_turns)):
                    row, _ = make_turn(seed, conv_id, t)
                    rows.append(row)
            if rows:
                yield pd.DataFrame(rows)

    return meta.mapInPandas(gen, schema=schemas.TRANSCRIPTS_SCHEMA)

