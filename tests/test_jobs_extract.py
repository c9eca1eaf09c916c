"""End-to-end runs of the extraction job entrypoint
(jobs/run_extract.py): main() runs in-process over a parquet
transcripts input. A run killed after some partition commits and then
resumed must commit exactly the rows of an uninterrupted run; the
commit clusters whole buckets (one file each) unless AQE splits a hot
one; the Z-order layout extracts every turn once."""

from __future__ import annotations

import importlib
import json
import sys

import pytest
from pyspark.sql import functions as F

from textract_demo_spark.engine.pipeline import fixtures_to_dfs
from textract_demo_spark.engine.tables import (PART_COL, IcebergLike,
                                               with_part_key)

BUCKETS = 8


def _run(monkeypatch, capsys, input_path: str, out: str, *flags: str):
    monkeypatch.setattr(sys, "argv", [
        "run_extract.py", "--input", input_path, "--out", out,
        "--buckets", str(BUCKETS), "--salt", "4", *flags])
    import jobs.run_extract as rx
    importlib.reload(rx)
    rx.main()
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def _rows(spark, out: str) -> list[str]:
    return sorted(IcebergLike(out).read(spark).toJSON().collect())


def test_run_extract_kill_then_resume_matches_clean_run(
        spark, tmp_path, capsys, monkeypatch):
    input_path = str(tmp_path / "transcripts")
    transcripts = fixtures_to_dfs(spark, n_convs=30)["transcripts"]
    transcripts.write.parquet(input_path)
    n_turns = transcripts.count()

    clean = str(tmp_path / "clean")
    rec = _run(monkeypatch, capsys, input_path, clean)
    assert rec["rows_total"] == n_turns
    assert rec["committed_partitions"] == BUCKETS
    # the input's rebalance on part_key clusters whole buckets, so the
    # write needs no rebalance of its own to write one file per bucket
    table = IcebergLike(clean)
    assert [len(table.manifest(k)["files"])
            for k in sorted(table.committed_keys())] == [1] * BUCKETS

    killed = str(tmp_path / "killed")
    with pytest.raises(RuntimeError, match="injected failure"):
        _run(monkeypatch, capsys, input_path, killed, "--fail-after", "3")
    capsys.readouterr()
    assert len(IcebergLike(killed).committed_keys()) == 3

    rec = _run(monkeypatch, capsys, input_path, killed)
    assert rec["skipped_already_committed"] == 3
    assert rec["newly_committed"] == BUCKETS - 3
    assert rec["rows_total"] == n_turns
    assert _rows(spark, killed) == _rows(spark, clean)


def test_run_extract_splits_a_hot_conversation(spark, tmp_path, capsys,
                                               monkeypatch):
    """One 20,000-turn conversation next to 50 small ones, at the
    session's own AQE settings: the job's one exchange is AQE's
    rebalance on part_key, and the job sizes its skew split from the
    input (one task slot's share of the input bytes), so the hot
    bucket commits as several files, every turn is committed exactly
    once, and the session's split size is restored afterwards."""
    turn = F.col("turn_idx").cast("string")
    # hex digests: incompressible, so the input files' bytes track the
    # bytes the rebalance moves
    digest = F.concat(*[F.sha2(F.concat(F.lit(str(i)), "conv_id", turn), 256)
                        for i in range(4)])
    turns = (spark.range(20000)
             .select(F.lit("hot").alias("conv_id"),
                     F.col("id").cast("int").alias("turn_idx"))
             .unionByName(spark.range(250).select(
                 F.format_string("c%02d", F.col("id") % 50)
                 .alias("conv_id"),
                 (F.col("id") / 50).cast("int").alias("turn_idx")))
             .select("conv_id", "turn_idx",
                     F.lit("user").alias("role"),
                     F.concat_ws(" ", F.lit("turn"), turn, digest)
                     .alias("text"),
                     F.lit(None).cast("string").alias("tool"),
                     F.lit(None).cast("timestamp").alias("ts")))
    input_path = str(tmp_path / "transcripts")
    # several input files: AQE splits a partition at map-output bounds
    turns.repartition(8).write.parquet(input_path)
    out = str(tmp_path / "skewed")
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    prior = spark.conf.get(key)
    rec = _run(monkeypatch, capsys, input_path, out)
    assert spark.conf.get(key) == prior
    assert rec["rows_total"] == 20250
    table = IcebergLike(out)
    hot = with_part_key(spark.createDataFrame([("hot",)], "conv_id string"),
                        BUCKETS).first()[PART_COL]
    assert len(table.manifest(hot)["files"]) >= 4
    committed = table.read(spark).groupBy("conv_id", "turn_idx").count()
    assert committed.count() == 20250
    assert committed.filter("count != 1").count() == 0


def _sql_store(spark):
    """Spark's SQL status store (kept with the UI off), once every
    event of the finished executions has reached it."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return spark._jsparkSession.sharedState().statusStore()


def _last_execution_id(spark) -> int:
    execs = _sql_store(spark).executionsList()  # ascending ids
    n = execs.size()
    return execs.apply(n - 1).executionId() if n else -1


def _kernel_rows(spark, after: int) -> dict[int, int]:
    """Rows the extraction kernel emitted in each SQL execution after
    ``after``, by execution id. An execution that reads persisted
    rows emits none."""
    store = _sql_store(spark)
    execs = store.executionsList()
    out = {}
    for i in reversed(range(execs.size())):
        eid = execs.apply(i).executionId()
        if eid <= after:
            break
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for j in range(nodes.size()):
            if nodes.apply(j).name() != "MapInArrow":
                continue
            metrics = nodes.apply(j).metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                v = values.get(m.accumulatorId())
                if m.name() == "number of output rows" and v.isDefined():
                    out[eid] = out.get(eid, 0) + int(
                        v.get().replace(",", ""))
    return out


def test_run_extract_zorder_extracts_each_turn_once(
        spark, tmp_path, capsys, monkeypatch):
    """The Z-order key takes two quantile sketches of the extracted
    rows before the write: the rows are persisted, so the kernel runs
    in one SQL execution, not in each sketch and again in the write."""
    input_path = str(tmp_path / "transcripts")
    transcripts = fixtures_to_dfs(spark, n_convs=30)["transcripts"]
    transcripts.write.parquet(input_path)
    n_turns = transcripts.count()
    before = _last_execution_id(spark)
    rec = _run(monkeypatch, capsys, input_path, str(tmp_path / "z"),
               "--zorder-cols", "turn_idx,n_blocks_kept")
    assert rec["rows_total"] == n_turns
    passes = {e: n for e, n in _kernel_rows(spark, before).items() if n}
    assert list(passes.values()) == [n_turns], passes
