"""spark-submit entrypoint: extraction pipeline over the transcript
table with per-partition IcebergLike commits + resume.

Usage (north-rule packaging, BASELINE.json:14):
    python jobs/build_pyfiles.py
    spark-submit --master local[8] \
        --py-files build/textract_demo_spark.zip \
        jobs/run_extract.py --n-convs 2000 --out /tmp/extract_out \
        --buckets 32 [--input /path/to/transcripts_parquet]

Re-running after a kill resumes: committed partitions are detected
from their manifests, and (with the default conv_id bucketing) their
turns are filtered out of the input before extraction.

Each turn crosses one exchange. With the default conv_id bucketing the
input is rebalanced on the table partition key before the extraction
kernel, and the commit adds no exchange of its own; AQE splits a hot
bucket into pieces of about one task slot's share of the input bytes
(``commit_frame``). ``--salt`` applies only where the key cannot be
known before extraction: ``--zorder-cols`` (salted exchange before the
kernel, the commit's rebalance after it) and ``--streaming``.

Output schema note: the committed table includes the per-row stats
columns (n_blocks_kept, n_blocks_dropped, conf_hist) computed by
with_block_stats — they are part of the table contract (cheap scalar
lineage alongside the data). The manifests' block metrics
(partition_metrics) are sums of these columns, taken in the commit's
one staged aggregate with the status counts, the row count and any
--stat-cols / --zorder-cols bounds. Tables written before these columns
existed still read consistently: IcebergLike.read applies the schema
recorded in the snapshot manifest, so older partitions surface the
missing columns as null instead of depending on which parquet footer
Spark samples.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import time


def _csv(arg: str | None) -> list[str] | None:
    """Comma-separated column names, or None when none are given."""
    cols = [c.strip() for c in (arg or "").split(",") if c.strip()]
    return cols or None


def _split_bytes(transcripts, limit: str) -> int | None:
    """One task slot's share of the input files' bytes, not below AQE's
    default 1 MB minimum partition size (a smaller piece is not worth a
    data file) and not above ``limit``, a Spark byte string. None when
    the input is not read from files."""
    sc = transcripts.sparkSession.sparkContext
    files = transcripts.inputFiles()
    if not files:
        return None
    hconf = sc._jsc.hadoopConfiguration()
    total = 0
    for f in files:
        path = sc._jvm.org.apache.hadoop.fs.Path(f)
        total += path.getFileSystem(hconf).getFileStatus(path).getLen()
    cap = sc._jvm.org.apache.spark.network.util.JavaUtils \
        .byteStringAsBytes(limit)
    return min(cap, max(total // sc.defaultParallelism, 1 << 20))


@contextlib.contextmanager
def commit_frame(transcripts, table, buckets: int, salt: int,
                 zorder_cols: list[str] | None = None):
    """Yield ``(frame, rebalance)``: the extracted, keyed frame the
    job commits, and whether ``IcebergLike.write`` must still
    rebalance it on ``part_key``.

    With the default conv_id bucketing the key is a function of the
    input, so committed partitions' turns are dropped before
    extraction and the input is rebalanced on the key before the
    kernel. The kernel is a narrow map and ``with_part_key`` computes
    the same key again after it, so each write task still holds whole
    buckets, and each turn crosses one exchange, as raw text instead
    of as a block array. AQE's rebalance skew split cuts a partition
    larger than ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` at
    map-output bounds; at its 64 MB default a hot bucket below SF1
    scale would stay one straggler kernel task, so while the frame is
    open that size is one task slot's share of the input
    (``_split_bytes``).

    A Z-order key depends on the kernel's output, so that frame keeps
    the salted exchange before the kernel and the commit's rebalance
    after it. Its extracted rows are persisted on disk for the key's
    two quantile sketches and the write, and released afterwards, so
    the kernel runs once.
    """
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from textract_demo_spark.engine.metrics import with_block_stats
    from textract_demo_spark.engine.tables import (PART_COL, with_part_key,
                                                   zorder_part_key)
    from textract_demo_spark.engine.udfs import (extract_in_place,
                                                 extract_turns)

    if zorder_cols:
        results = with_block_stats(extract_turns(transcripts, salt=salt))
        results = results.persist(StorageLevel.DISK_ONLY)
        try:
            yield zorder_part_key(results, zorder_cols, buckets), True
        finally:
            results.unpersist()
        return
    pending = table.uncommitted(with_part_key(transcripts, buckets))
    results = with_block_stats(extract_in_place(
        pending.hint("rebalance", F.col(PART_COL))))
    conf = transcripts.sparkSession.conf
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    prior = conf.get(key)
    split = _split_bytes(transcripts, prior)
    if split is not None:
        conf.set(key, str(split))
    try:
        yield with_part_key(results, buckets), False
    finally:
        conf.set(key, prior)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-convs", type=int, default=500,
                    help="synthetic transcript conversations (ignored"
                         " when --input is given)")
    ap.add_argument("--input", default=None,
                    help="optional parquet transcripts table to read"
                         " instead of synthesizing")
    ap.add_argument("--out", required=True)
    ap.add_argument("--buckets", type=int, default=32,
                    help="IcebergLike partition buckets")
    ap.add_argument("--salt", type=int, default=16,
                    help="skew salt for hot conversations before the"
                         " kernel, used by --zorder-cols and"
                         " --streaming only; ignored on the default"
                         " path, which rebalances its input on the"
                         " partition key")
    ap.add_argument("--fail-after", type=int, default=None,
                    help="inject a crash after N partition commits"
                         " (resume testing)")
    ap.add_argument("--compact", action="store_true",
                    help="after committing, rewrite small-file"
                         " partitions (>= --compact-min-files parquet"
                         " files) into ~--compact-target-mb files —"
                         " the Iceberg rewrite_data_files analog")
    ap.add_argument("--compact-min-files", type=int, default=2)
    ap.add_argument("--compact-target-mb", type=int, default=128)
    ap.add_argument("--expire-keep-last", type=int, default=0,
                    help="after the commit, expire snapshot history"
                         " down to the newest N (0 = keep all; live"
                         " equality-delete snapshots always survive)")
    ap.add_argument("--conv-report", action="store_true",
                    help="also write a conversation-integrity report"
                         " next to the table: per-conv stats + keep"
                         " verdict (<out>/conv_stats) and the top-50"
                         " tool-transition bigrams"
                         " (<out>/tool_transitions)")
    ap.add_argument("--conv-max-gap-minutes", type=int, default=120)
    ap.add_argument("--conv-max-role-runs", type=int, default=3)
    ap.add_argument("--streaming", action="store_true",
                    help="treat --input as a file-arrival stream:"
                         " drain new files (availableNow) into a"
                         " checkpointed exactly-once sink under --out;"
                         " re-running resumes from the sink checkpoint")
    ap.add_argument("--stat-cols", default=None,
                    help="comma-separated columns whose per-partition"
                         " AND per-file min/max go into the manifests"
                         " (read_where partition pruning + file-level"
                         " skipping); --zorder-cols implies its own")
    ap.add_argument("--bloom-cols", default=None,
                    help="comma-separated int/str columns that get a"
                         " per-file bloom over their distinct values"
                         " (read_where point-lookup file skipping —"
                         " e.g. conv_id for find-one-conversation)")
    ap.add_argument("--zorder-cols", default=None,
                    help="comma-separated NUMERIC result columns:"
                         " cluster table partitions along a Z-curve"
                         " over these columns instead of"
                         " hash-bucketing conv_id; manifest min/max"
                         " then prune scans on ANY of them"
                         " (IcebergLike.read_where)")
    ap.add_argument("--rollback-to", type=int, default=None,
                    help="undo commits made to --out after this"
                         " snapshot id (the bad-ingest-wave escape"
                         " hatch) and exit")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from textract_demo_spark.engine.datagen import transcripts_df
    from textract_demo_spark.engine.metrics import partition_metrics
    from textract_demo_spark.engine.schemas import TRANSCRIPTS_SCHEMA
    from textract_demo_spark.engine.tables import IcebergLike

    # a cached plan keeps the exchange reads AQE plans for it uncached
    # (coalesced, skew-split), so a --zorder-cols key's approximate
    # quantile sketches over the persisted rows see the partitions an
    # uncached pass would
    spark = (SparkSession.builder.appName("run_extract")
             .config("spark.sql.optimizer"
                     ".canChangeCachedPlanOutputPartitioning", "true")
             .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")

    if args.rollback_to is not None:
        r = IcebergLike(args.out).rollback(spark, args.rollback_to)
        print(json.dumps({
            "mode": "rollback", "rollback_to": args.rollback_to,
            "snapshot_id": r["snapshot_id"],
            "dropped_partitions": r["dropped_partitions"],
            "stripped_partitions": r["stripped_partitions"],
            "dropped_snapshots": r["dropped_snapshots"]}))
        return

    if args.streaming:
        if not args.input:
            raise SystemExit("--streaming requires --input (a directory"
                             " receiving transcript parquet files)")
        from textract_demo_spark.streaming.stream import (
            read_transcripts_stream, start_to_parquet, streaming_pipeline)
        t0 = time.time()
        stream = read_transcripts_stream(spark, args.input)
        results = streaming_pipeline(stream, salt=args.salt)
        q = start_to_parquet(results,
                             out_dir=f"{args.out}/data",
                             checkpoint_dir=f"{args.out}/_checkpoint")
        q.awaitTermination()
        wall = time.time() - t0
        n = spark.read.schema(results.schema).parquet(
            f"{args.out}/data").count()
        print(json.dumps({"mode": "streaming", "rows_total": n,
                          "wall_sec": round(wall, 2)}))
        return

    if args.input:
        # the input shape is fixed (BASELINE.json:15): no footer-
        # inference job
        transcripts = spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(
            args.input)
        fingerprint = args.input
    else:
        transcripts = transcripts_df(spark, args.n_convs)
        fingerprint = f"synthetic:seed=42:n_convs={args.n_convs}"

    t0 = time.time()
    table = IcebergLike(args.out)
    zorder_cols = _csv(args.zorder_cols)
    with commit_frame(transcripts, table, args.buckets, args.salt,
                      zorder_cols) as (results, rebalance):
        snapshot = table.write(results, metrics_fn=partition_metrics,
                               input_fingerprint=fingerprint,
                               fail_after=args.fail_after,
                               rebalance=rebalance,
                               stat_cols=zorder_cols or _csv(args.stat_cols),
                               bloom_cols=_csv(args.bloom_cols))
    compaction: dict | None = None
    if args.compact:
        c = table.compact(spark, min_files=args.compact_min_files,
                          target_mb=args.compact_target_mb)
        compaction = {"compacted_partitions": len(c["compacted_keys"]),
                      "files_before": c["files_before"],
                      "files_after": c["files_after"]}
    expired: dict | None = None
    if args.expire_keep_last > 0:
        expired = table.expire_snapshots(keep_last=args.expire_keep_last)

    conv_report: dict | None = None
    if args.conv_report:
        from textract_demo_spark.datapipe.transcripts import (
            conversation_stats, tool_transitions)
        stats = conversation_stats(
            transcripts, max_gap_minutes=args.conv_max_gap_minutes,
            max_role_runs=args.conv_max_role_runs)
        stats.write.mode("overwrite").parquet(f"{args.out}/conv_stats")
        (tool_transitions(transcripts, k=50)
         .write.mode("overwrite").parquet(f"{args.out}/tool_transitions"))
        stats = spark.read.parquet(f"{args.out}/conv_stats")
        kept = stats.filter("keep").count()
        conv_report = {"n_convs": stats.count(), "convs_kept": kept}

    wall = time.time() - t0
    rows = sum(m["metrics"].get("rows", 0)
               for k in snapshot["committed_keys"]
               if (m := table.manifest(k)) is not None)
    print(json.dumps({
        "committed_partitions": len(snapshot["committed_keys"]),
        "newly_committed": len(snapshot["newly_committed"]),
        "skipped_already_committed":
            len(snapshot["skipped_already_committed"]),
        "rows_total": rows,
        "wall_sec": round(wall, 2),
        "phase_sec": snapshot.get("phase_sec", {}),
        **({"compaction": compaction} if compaction else {}),
        **({"snapshots_expired": len(expired["expired"])}
           if expired else {}),
        **({"conv_report": conv_report} if conv_report else {}),
    }))


if __name__ == "__main__":
    main()
