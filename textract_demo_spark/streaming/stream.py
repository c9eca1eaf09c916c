"""Structured Streaming mode: the reference is an *event-driven*
continuous pipeline (uploads arrive at any time, S3 trigger ->
Step Functions execution per document, template.sam.yml:597-620).
This module reproduces those semantics with Spark Structured
Streaming over the same engine stages the batch path uses — the
transformation code is shared, only the source/sink differ.

Reference semantics -> streaming primitives (SURVEY.md §2.9):

- T1 event-at-a-time trigger on arrival: file-source ``readStream``
  discovers new files per micro-batch; ``trigger(availableNow=True)``
  drains what exists and stops (the batch-equivalence mode used by
  tests and backfills).
- T2 late/out-of-order events, stale dropped: watermark on ``ts`` +
  ``dropDuplicatesWithinWatermark`` on (conv_id, turn_idx) — the
  client-side "latest event wins, discard stale" reduction
  (SmartOCR.vue:188-189,255-257) done engine-side.
- T3 review wait with timeout: batch mode joins a static reviews
  table (rows absent => still needs_review) — the exact analog of a
  Step Functions execution still parked at waitForTaskToken
  (StateMachine.asl.json:69-81) when the answer hasn't arrived.
- T5 exactly-once resumability: checkpointed file sink — Spark's
  commit log per micro-batch gives the resume-from-last-committed
  property; the IcebergLike manifest layer covers the batch path.

Scale note: the streaming plan is identical to the batch plan after
the source (it IS ``run_pipeline``: same salted repartition, same
Arrow extraction stage with the field rules inside), so the 100 TB
sizing story carries over; state is bounded by the watermark (dedup
buffer) only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..engine import schemas
from ..engine.pipeline import run_pipeline


def read_transcripts_stream(spark: SparkSession, path: str,
                            max_files_per_trigger: int | None = None,
                            ) -> DataFrame:
    """File-source stream of transcript turns (parquet files appearing
    under ``path`` = the S3 ObjectCreated trigger analog, S1/T1)."""
    reader = (spark.readStream
              .schema(schemas.TRANSCRIPTS_SCHEMA)
              .option("maxFilesPerTrigger", max_files_per_trigger or 32))
    return reader.parquet(path)


def streaming_pipeline(stream: DataFrame,
                       reviews: DataFrame | None = None,
                       salt: int = 16,
                       watermark: str = "10 minutes",
                       dedup_late: bool = True) -> DataFrame:
    """Transcript stream -> extracted turn results.

    The batch ``run_pipeline`` itself (salted repartition -> Arrow
    extraction with the field rules inside -> optional stream-static
    review join), minus the nested ``blocks``. Adds the
    streaming-only late-data guard in front: watermark +
    drop-duplicate (conv_id, turn_idx) within the watermark, i.e.
    re-delivered/stale turn events don't produce duplicate result
    rows (T2/W4/P13).
    """
    if dedup_late:
        stream = (stream
                  .withWatermark("ts", watermark)
                  .dropDuplicatesWithinWatermark(["conv_id", "turn_idx"]))
    return run_pipeline(stream, reviews, salt=salt).drop("blocks")


def start_to_parquet(results: DataFrame, out_dir: str,
                     checkpoint_dir: str):
    """Checkpointed exactly-once parquet sink (T5): the micro-batch
    commit log is the resume point — a restarted query reprocesses
    nothing that was committed. ``availableNow`` drains pending input
    then stops."""
    return (results.writeStream
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start())


def start_incremental_dedup(docs_stream: DataFrame, index: DataFrame,
                            out_dir: str, checkpoint_dir: str,
                            n: int = 3, num_hashes: int = 64,
                            bands: int = 16, threshold: float = 0.7,
                            id_col: str = "doc_id",
                            text_col: str = "text"):
    """Continuous-ingestion near-dup detection: each micro-batch of
    arriving docs probes the FROZEN corpus signature index
    (``datapipe.dedup.build_minhash_index`` — a stored per-snapshot
    artifact; pass a parquet-backed or persisted frame) and writes its
    verified near-dup relations to ``out_dir/batch_id=N``, overwritten
    per batch id so a replayed micro-batch is idempotent
    (effectively-once on top of foreachBatch's at-least-once).

    foreachBatch because the probe needs a batch-side self-join and a
    distinct — both restricted on streaming frames; semantically each
    micro-batch is one batch-mode ``incremental_dedup_pairs`` call, so
    the scale shape carries over unchanged: the index never shuffles
    and each micro-batch costs O(batch). Within-batch pairs are scoped
    to one micro-batch; cross-batch near-dups are caught against the
    index only — the snapshot refresh cadence defines the dedup
    horizon, which is the production contract of snapshot dedup."""
    from ..datapipe.dedup import incremental_dedup_pairs, release_cached

    def _probe(batch_df: DataFrame, batch_id: int) -> None:
        out = incremental_dedup_pairs(batch_df, index, n, num_hashes,
                                      bands, threshold, id_col, text_col)
        (out.write.mode("overwrite")
         .parquet(f"{out_dir}/batch_id={batch_id}"))
        release_cached(out)

    return start_foreach_batch(docs_stream, checkpoint_dir, _probe)


def start_dsir_scoring(docs_stream: DataFrame, raw_model: DataFrame,
                       target_model: DataFrame, out_dir: str,
                       checkpoint_dir: str, num_buckets: int = 8192,
                       hash_mode: str = "xxhash64",
                       id_col: str = "doc_id", text_col: str = "text"):
    """Continuous-ingestion DSIR scoring: each arriving micro-batch of
    docs is scored against FROZEN raw/target bucket models
    (``datapipe.dsir.dsir_bucket_model`` — stored <= B-row artifacts,
    fit once per corpus snapshot; pass parquet-backed or persisted
    frames) and its (id, n_feats, dsir_bits) rows land in
    ``out_dir/batch_id=N``, overwritten per batch id so a replayed
    micro-batch is idempotent.

    foreachBatch because scoring aggregates per doc over exploded
    features (unsupported shapes on streaming frames); semantically
    each micro-batch is one batch-mode ``with_dsir_scores`` call with
    frozen models, so scores are WAVE-INDEPENDENT — unlike snapshot
    dedup there is no within-batch arm, every micro-batch probes the
    same broadcast-size model pair and costs O(batch)."""
    from ..datapipe.dsir import with_dsir_scores

    def _score(batch_df: DataFrame, batch_id: int) -> None:
        out = with_dsir_scores(batch_df, batch_df.limit(0), text_col,
                               id_col, num_buckets, hash_mode,
                               raw_model=raw_model,
                               target_model=target_model)
        (out.write.mode("overwrite")
         .parquet(f"{out_dir}/batch_id={batch_id}"))

    return start_foreach_batch(docs_stream, checkpoint_dir, _score)


def start_foreach_batch(results: DataFrame, checkpoint_dir: str,
                        batch_fn):
    """foreachBatch sink for custom commit layers (e.g. IcebergLike
    partition manifests per micro-batch): ``batch_fn(df, batch_id)``.
    Spark guarantees batch_id-monotonic at-least-once delivery; the
    commit layer makes it effectively-once via idempotent writes."""
    return (results.writeStream
            .foreachBatch(batch_fn)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start())


def start_session_rollup(events_stream: DataFrame, out_dir: str,
                         checkpoint_dir: str, gap_sec: int,
                         key: str = "user_id", ts_col: str = "ts",
                         watermark_delay: str = "0 seconds"):
    """Streaming gap sessionization: Spark's native ``session_window``
    (dynamic-gap window merge in the state store) aggregated per key,
    append-mode — a session row is emitted exactly once, when the
    watermark passes its window end (last event + gap). The streaming
    analog of ``datapipe.temporal.session_stats``: for the same input
    and gap, the finalized rows match the batch operator
    (``sess_end_us = window.end - gap``, since session_window pads the
    close by the gap; asserted by the ``streaming_sessionize`` driver
    oracle).

    Scale shape: the state store holds one in-flight window per
    (key, open session) — bounded by active keys, not history; the
    watermark bounds how long a session can stay open, which IS the
    business definition of the session gap. One exchange on the key,
    identical to the batch plan.
    """
    from pyspark.sql import functions as F
    win = F.session_window(F.col(ts_col), f"{gap_sec} seconds")
    agg = (events_stream
           .withWatermark(ts_col, watermark_delay)
           .groupBy(F.col(key), win)
           .agg(F.count("*").cast("long").alias("n_events"))
           .select(key,
                   F.unix_micros("session_window.start")
                    .alias("sess_start_us"),
                   (F.unix_micros("session_window.end")
                    - gap_sec * 1_000_000).alias("sess_end_us"),
                   "n_events"))
    return start_to_parquet(agg, out_dir, checkpoint_dir)


def start_cdc_upsert(updates_stream: DataFrame, table, key_cols,
                     checkpoint_dir: str, n_buckets: int = 8,
                     ts_col: str | None = None):
    """CDC apply loop: each micro-batch of (key..., value...) update
    rows MERGEs into an ``IcebergLike`` table atomically — ``upsert``
    publishes ONE snapshot carrying both the equality-delete file and
    the per-file-sequenced appended data (engine/tables.py merge), so
    no data partition is ever rewritten and readers never observe a
    state where matched keys are absent.

    Replay safety: a re-delivered micro-batch (foreachBatch is
    at-least-once after a crash) re-runs the same merge under the
    same run_id — a crashed attempt's unpublished appends are
    stripped first, and a post-publish redelivery's delete
    outsequences and tombstones the earlier copy, converging to
    exactly one copy per key (asserted in tests/test_streaming.py).
    Within a batch, ``ts_col`` picks the newest update per key
    (max_by); cross-batch, later micro-batches win — the standard
    CDC apply contract.

    Scale shape per batch: one delete-file write (dimension-sized:
    the batch's keys) + one append staging job over the batch — cost
    tracks O(batch), never O(table).
    """
    from pyspark.sql import functions as F

    from ..engine.tables import with_part_key

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df
        if ts_col is not None:
            others = [c for c in b.columns if c not in key_cols]
            b = (b.groupBy(*key_cols)
                 .agg(*[F.max_by(c, F.col(ts_col)).alias(c)
                        for c in others]))
        if b.isEmpty():
            return
        table.upsert(with_part_key(b, n_buckets, col=key_cols[0]),
                     list(key_cols),
                     run_id=f"cdc-batch-{batch_id}")

    return start_foreach_batch(updates_stream, checkpoint_dir, _apply)


def start_interval_join(left_stream: DataFrame, right_stream: DataFrame,
                        out_dir: str, checkpoint_dir: str,
                        key: str = "user_id", within_sec: int = 1800,
                        watermark_delay: str = "0 seconds"):
    """Watermarked STREAM-STREAM interval join: pair each left event
    with every right event of the same key whose timestamp falls in
    ``[l_ts, l_ts + within_sec]`` — the click->error correlation /
    request->response pairing pattern, where BOTH sides arrive as
    unbounded streams and neither can be staged as a static table.

    Both inputs carry a watermark and the join condition bounds event
    time on both sides, which is what lets Spark EVICT state: a left
    row is dropped from the store once the global watermark (min of
    both inputs) passes ``l_ts + within_sec`` — without the time
    bound, stream-stream state grows forever. Inner join in append
    mode emits a pair in the micro-batch where the second side
    arrives; with chronologically-split input waves (each wave's min
    ts >= the previous wave's max) a ``0 seconds`` delay loses
    nothing: by the time eviction can touch a left row, every right
    row that could match it has already been seen (the same argument
    as ``start_session_rollup``'s wave safety). State is bounded by
    ``within_sec`` x arrival rate per key.

    Expects columns (``l_id``, ``key``, ``l_ts``) / (``r_id``,
    ``key``, ``r_ts``). Output: (key, l_id, r_id, l_us, r_us).
    """
    from pyspark.sql import functions as F
    l = left_stream.withWatermark("l_ts", watermark_delay)
    r = right_stream.withWatermark("r_ts", watermark_delay)
    joined = (l.join(
        r,
        (l[key] == r[key])
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts")
           + F.expr(f"INTERVAL {int(within_sec)} SECONDS")),
        "inner")
        .select(l[key].alias(key), "l_id", "r_id",
                F.unix_micros("l_ts").alias("l_us"),
                F.unix_micros("r_ts").alias("r_us")))
    return start_to_parquet(joined, out_dir, checkpoint_dir)


def start_dedup_within_watermark(stream: DataFrame, out_dir: str,
                                 checkpoint_dir: str,
                                 keys=("event_id",),
                                 ts_col: str = "ts",
                                 delay: str = "30 days"):
    """Native in-stream exact dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps the first arrival per key
    and drops later copies, evicting each key's state once the
    watermark passes its event time + ``delay`` — the Spark-native
    answer to at-least-once upstream delivery (replayed Kafka
    offsets, retried file drops), where plain ``dropDuplicates`` on a
    stream would grow state forever.

    Contract: duplicates are only guaranteed caught while they arrive
    within ``delay`` of the original's event time — size ``delay`` to
    the upstream redelivery horizon, and state to (keys arriving per
    ``delay`` window) x key width. Append mode emits each first
    arrival in its own micro-batch (no aggregation, no emit latency).
    Complements the foreachBatch frozen-index dedup
    (``start_incremental_dedup``): that one dedups against a
    PERSISTED corpus across runs; this one dedups WITHIN the stream's
    redelivery window with zero external state.
    """
    deduped = (stream.withWatermark(ts_col, delay)
               .dropDuplicatesWithinWatermark(list(keys)))
    return start_to_parquet(deduped, out_dir, checkpoint_dir)
