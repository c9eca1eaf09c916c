"""IcebergLike commit/resume: kill after k of n partition commits,
restart, assert (a) the final table equals a clean one-shot run,
(b) committed partitions were NOT recomputed (manifest mtimes stable),
(c) manifests carry lineage metrics (SURVEY.md §5.2 item 5)."""

from __future__ import annotations

import os

import pytest

from textract_demo_spark.engine.metrics import (partition_metrics,
                                                with_block_stats)
from textract_demo_spark.engine.pipeline import fixtures_to_dfs, run_pipeline
from textract_demo_spark.engine.tables import IcebergLike, with_part_key

N_BUCKETS = 8


@pytest.fixture(scope="module")
def results_df(spark):
    dfs = fixtures_to_dfs(spark, n_convs=30)
    out = run_pipeline(dfs["transcripts"], reviews=None, salt=4)
    return with_part_key(
        with_block_stats(
            out.select("conv_id", "turn_idx", "status", "main_text",
                       "needs_review", "blocks")),
        N_BUCKETS)


def _table_rows(spark, table):
    return {(r["conv_id"], r["turn_idx"], r["status"], r["main_text"])
            for r in table.read(spark)
            .select("conv_id", "turn_idx", "status", "main_text")
            .collect()}


def test_kill_and_resume(spark, tmp_path, results_df):
    clean = IcebergLike(str(tmp_path / "clean"))
    clean.write(results_df, metrics_fn=partition_metrics)
    expected = _table_rows(spark, clean)
    assert len(clean.committed_keys()) == N_BUCKETS

    # killed run: crash after 3 partition commits
    t = IcebergLike(str(tmp_path / "resumable"))
    with pytest.raises(RuntimeError, match="injected failure"):
        t.write(results_df, metrics_fn=partition_metrics, fail_after=3)
    committed_before = t.committed_keys()
    assert len(committed_before) == 3
    mtimes_before = {
        k: os.path.getmtime(
            os.path.join(t.manifest_dir, f"part-{k:05d}.json"))
        for k in committed_before}

    # restart: resumes from the last committed snapshot
    snap = t.write(results_df, metrics_fn=partition_metrics)
    assert sorted(snap["skipped_already_committed"]) == \
        sorted(committed_before)
    assert len(t.committed_keys()) == N_BUCKETS
    assert _table_rows(spark, t) == expected

    # committed partitions were not recomputed
    for k, mt in mtimes_before.items():
        assert os.path.getmtime(
            os.path.join(t.manifest_dir, f"part-{k:05d}.json")) == mt

    # idempotent re-run: nothing new to do
    snap2 = t.write(results_df, metrics_fn=partition_metrics)
    assert snap2["newly_committed"] == []


def test_manifest_metrics(spark, tmp_path, results_df):
    t = IcebergLike(str(tmp_path / "metrics"))
    t.write(results_df, metrics_fn=partition_metrics)
    total_rows = 0
    for k in t.committed_keys():
        m = t.manifest(k)
        assert m is not None
        met = m["metrics"]
        total_rows += met["rows"]
        assert met["ok"] + met["failed"] == met["rows"]
        # typed statuses partition the failures (SURVEY.md §1.4)
        assert (met["rejected"] + met["malformed"] + met["model_error"]
                + met["review_failed"]) == met["failed"]
        assert met["blocks_kept"] >= 0 and met["blocks_dropped"] >= 0
        assert len(met["conf_histogram"]) == 10
        assert sum(met["conf_histogram"]) == met["blocks_kept"]
        assert m["files"], "manifest lists data files"
    assert total_rows == results_df.count()


def test_manifest_block_metrics_match_python_recount(spark, tmp_path,
                                                     results_df):
    """blocks_kept / blocks_dropped / conf_histogram in each manifest
    equal a Python recount over the collected ``blocks`` of that
    partition (kept = is_content; histogram bucket = conf clamped to
    [0, 99.99] / 10, over kept blocks only)."""
    t = IcebergLike(str(tmp_path / "recount"))
    t.write(results_df, metrics_fn=partition_metrics)
    want: dict[int, dict] = {}
    for r in results_df.select("part_key", "blocks").collect():
        w = want.setdefault(r["part_key"], {
            "blocks_kept": 0, "blocks_dropped": 0,
            "conf_histogram": [0] * 10})
        for b in r["blocks"] or []:
            if b["is_content"]:
                w["blocks_kept"] += 1
                w["conf_histogram"][
                    int(min(max(b["conf"], 0.0), 99.99) / 10)] += 1
            else:
                w["blocks_dropped"] += 1
    assert t.committed_keys() == set(want)
    assert sum(w["blocks_kept"] for w in want.values()) > 0
    for k, w in want.items():
        met = t.manifest(k)["metrics"]
        assert {c: met[c] for c in w} == w, k


def test_write_aggregates_staged_files_once(spark, tmp_path, results_df,
                                            monkeypatch):
    """Row metrics, caller metrics and ``stat_cols`` bounds come from
    ONE groupBy over the staged files, not one job per manifest
    field."""
    frame_cls = type(results_df)  # the concrete (classic) DataFrame
    calls = []
    group_by = frame_cls.groupBy

    def spy(self, *cols):
        calls.append(cols)
        return group_by(self, *cols)

    monkeypatch.setattr(frame_cls, "groupBy", spy)
    t = IcebergLike(str(tmp_path / "once"))
    t.write(results_df, metrics_fn=partition_metrics,
            stat_cols=["turn_idx", "n_blocks_kept"])
    monkeypatch.undo()
    assert len(calls) == 1, calls
    m = t.manifest(min(t.committed_keys()))
    assert set(m["col_stats"]) == {"turn_idx", "n_blocks_kept"}
    assert m["metrics"]["rows"] == m["metrics"]["ok"] + m["metrics"][
        "failed"]


def test_snapshot_time_travel(spark, tmp_path, results_df):
    """IcebergLike VERSION-AS-OF analog: a snapshot reads exactly the
    partition set committed when it was taken."""
    from pyspark.sql import functions as F
    t = IcebergLike(str(tmp_path / "tt"))
    t.write(results_df.filter(F.col("part_key") < 4),
            metrics_fn=partition_metrics)       # snapshot 0: keys < 4
    t.write(results_df, metrics_fn=partition_metrics)  # snapshot 1: all
    snaps = t.snapshots()
    assert len(snaps) == 2
    early = t.read(spark, snapshot_id=0)
    full = t.read(spark, snapshot_id=1)
    assert set(r["part_key"] for r in
               early.select("part_key").distinct().collect()) == \
        set(snaps[0]["committed_keys"])
    assert full.count() == t.read(spark).count()
    assert early.count() < full.count()
    with pytest.raises(ValueError):
        t.read(spark, snapshot_id=7)


def test_snapshot_resolves_by_embedded_id(spark, tmp_path, results_df):
    """Snapshots resolve by their embedded snapshot_id, not by list
    position: removing an older snapshot file must not shift which
    snapshot a given id reads (round-1 advice item)."""
    from pyspark.sql import functions as F
    t = IcebergLike(str(tmp_path / "byid"))
    t.write(results_df.filter(F.col("part_key") < 2),
            metrics_fn=partition_metrics)       # snapshot 0
    t.write(results_df, metrics_fn=partition_metrics)  # snapshot 1
    full_before = t.read(spark, snapshot_id=1).count()
    os.remove(os.path.join(t.manifest_dir, "snapshot-00000.json"))
    assert t.read(spark, snapshot_id=1).count() == full_before
    with pytest.raises(ValueError, match="snapshot_id=0"):
        t.read(spark, snapshot_id=0)


def test_empty_snapshot_reads_empty(spark, tmp_path, results_df):
    """A snapshot with zero committed partitions returns an empty
    DataFrame with the table schema instead of an obscure zero-path
    read error (round-1 advice item)."""
    from pyspark.sql import functions as F
    t = IcebergLike(str(tmp_path / "empty"))
    t.write(results_df.filter(F.col("part_key") < 0))  # nothing pending
    snap = t.snapshots()[0]
    assert snap["committed_keys"] == []
    df = t.read(spark, snapshot_id=snap["snapshot_id"])
    assert df.count() == 0
    assert "conv_id" in df.columns and "part_key" in df.columns


def test_schema_evolution_reads_consistently(spark, tmp_path):
    """Partitions written before a column was added must read with the
    latest committed schema (missing column as null) — no dependence
    on which parquet footer Spark happens to sample (round-1 advice:
    with_block_stats changed the output schema mid-table)."""
    from pyspark.sql import functions as F
    t = IcebergLike(str(tmp_path / "evolve"))
    v1 = spark.range(0, 40).select(
        F.col("id"), (F.col("id") % 4).cast("int").alias("part_key"))
    t.write(v1.filter(F.col("part_key") < 2))
    v2 = v1.withColumn("extra_stat", F.col("id") * 2)
    t.write(v2)  # partitions 2,3 carry the new column
    out = t.read(spark)
    assert "extra_stat" in out.columns
    rows = {r["id"]: r["extra_stat"] for r in out.collect()}
    assert len(rows) == 40
    old = [rows[i] for i in range(40) if i % 4 < 2]
    new = {i: rows[i] for i in range(40) if i % 4 >= 2}
    assert all(v is None for v in old)  # pre-evolution partitions
    assert all(v == i * 2 for i, v in new.items())


def test_high_partition_count_commit_resume(spark, tmp_path):
    """2048-bucket commit + resume: exercises the thread-pooled
    promote/manifest path and the pruned (no per-path enumeration)
    snapshot read at a partition count where a sequential driver loop
    would visibly drag."""
    from pyspark.sql import functions as F
    n_buckets = 2048
    df = spark.range(0, 4 * n_buckets).select(
        F.col("id"),
        (F.col("id") % n_buckets).cast("int").alias("part_key"))
    t = IcebergLike(str(tmp_path / "wide"))
    with pytest.raises(RuntimeError, match="injected failure"):
        t.write(df, fail_after=100)
    assert len(t.committed_keys()) == 100
    snap = t.write(df)
    assert len(snap["committed_keys"]) == n_buckets
    assert len(snap["skipped_already_committed"]) == 100
    assert t.read(spark).count() == 4 * n_buckets
    # time-travel over the wide layout uses partition pruning, not an
    # explicit 2048-path list
    tt = t.read(spark, snapshot_id=snap["snapshot_id"])
    assert tt.count() == 4 * n_buckets
    # idempotent re-run
    assert t.write(df)["newly_committed"] == []
