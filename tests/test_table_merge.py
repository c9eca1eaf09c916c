"""Atomic single-snapshot MERGE (engine/tables.py merge): the
Iceberg MERGE analog where one snapshot carries both the equality-
delete file and the appended data files, scoped by the strict
data/delete sequence rule. Covers atomicity (one snapshot, readers
never see matched keys absent), time travel around the merge,
crash/replay exactly-once, sequencing against later deletes,
changelog pairs, and rollback across a merge."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from textract_demo_spark.engine.tables import (IcebergLike,
                                               with_part_key)


def _wave(spark, lo, hi, v_expr=None):
    df = (spark.range(lo, hi)
          .select(F.concat(F.lit("c"), F.col("id").cast("string"))
                  .alias("conv_id"),
                  F.col("id").cast("long").alias("doc_id"),
                  (v_expr.cast("long") if v_expr is not None
                   else (F.col("id") % 7).cast("long")).alias("v")))
    return with_part_key(df, 4)


@pytest.fixture()
def table(spark, tmp_path):
    t = IcebergLike(str(tmp_path / "t"))
    t.write(_wave(spark, 0, 100), stat_cols=["doc_id"])
    return t


def _vals(df):
    return {r.doc_id: r.v for r in df.select("doc_id", "v").collect()}


def test_merge_is_one_snapshot(spark, table):
    n0 = len(table.snapshots())
    pre = table.snapshots()[-1]["snapshot_id"]
    snap = table.merge(_wave(spark, 90, 110, F.lit(999)), ["doc_id"])
    assert len(table.snapshots()) == n0 + 1  # atomic: ONE commit
    assert snap["op"] == "merge"
    assert snap["eq_cols"] == ["doc_id"]
    assert snap["n_delete_tuples"] == 20
    got = _vals(table.read(spark))
    assert len(got) == 110  # matched replaced, not duplicated
    assert all(got[i] == 999 for i in range(90, 110))
    assert all(got[i] == i % 7 for i in range(90))  # untouched
    # time travel brackets the merge atomically
    old = _vals(table.read(spark, snapshot_id=pre))
    assert len(old) == 100 and old[95] == 95 % 7
    now = _vals(table.read(spark, snapshot_id=snap["snapshot_id"]))
    assert now == got


def test_merge_delete_file_shares_snapshot(spark, table):
    snap = table.merge(_wave(spark, 50, 60, F.lit(1)), ["doc_id"])
    # the tombstone half is discoverable and sequenced AT the merge id
    dels = table._live_deletes()[0]
    assert [d["snapshot_id"] for d in dels] == [snap["snapshot_id"]]
    assert os.path.exists(os.path.join(table.delete_dir,
                                       snap["delete_file"]))


def test_later_delete_tombstones_merged_rows(spark, table):
    table.merge(_wave(spark, 95, 105, F.lit(999)), ["doc_id"])
    table.delete_rows(spark.createDataFrame([(99,), (101,)],
                                            "doc_id long"),
                      ["doc_id"])
    got = _vals(table.read(spark))
    assert 99 not in got and 101 not in got
    assert got[100] == 999


def test_merge_after_delete_survives_it(spark, table):
    table.delete_rows(spark.createDataFrame([(5,), (6,)],
                                            "doc_id long"),
                      ["doc_id"])
    table.merge(_wave(spark, 5, 6, F.lit(42)), ["doc_id"])
    got = _vals(table.read(spark))
    assert got[5] == 42      # re-inserted by the later merge
    assert 6 not in got      # still tombstoned


def test_merge_crash_replay_exactly_once(spark, table):
    """A merge killed mid-promote (after some partitions' appends are
    manifested, before the snapshot publish) must land exactly once
    when retried under the same run_id: the rerun strips the crashed
    attempt's unpublished appends first."""
    n0 = len(table.snapshots())
    up = _wave(spark, 90, 110, F.lit(999))
    with pytest.raises(RuntimeError, match="injected failure"):
        table.merge(up, ["doc_id"], run_id="merge-batch-7",
                    fail_after=2)
    assert len(table.snapshots()) == n0  # nothing published
    # matched keys are still present (old values) — never absent
    mid = _vals(table.read(spark, snapshot_id=table.snapshots()[-1]
                           ["snapshot_id"]))
    assert all(mid[i] == i % 7 for i in range(90, 100))
    # replay with the SAME run_id (the foreachBatch contract)
    table.merge(up, ["doc_id"], run_id="merge-batch-7")
    got = _vals(table.read(spark))
    assert len(got) == 110  # exactly one copy per key, no dup rows
    assert all(got[i] == 999 for i in range(90, 110))
    assert all(got[i] == i % 7 for i in range(90))
    # row metrics agree with the physical state after the strip
    rows = sum((table.manifest(k) or {}).get("metrics", {})
               .get("rows", 0) for k in table.committed_keys())
    raw = table.read(spark, apply_deletes=False).count()
    assert rows == raw


def test_merge_redelivery_after_publish_converges(spark, table):
    """foreachBatch redelivery AFTER a successful publish: the
    replay's delete outsequences and tombstones the first copy."""
    up = _wave(spark, 90, 110, F.lit(999))
    table.merge(up, ["doc_id"], run_id="cdc-batch-3")
    table.merge(up, ["doc_id"], run_id="cdc-batch-3")  # redelivery
    got = _vals(table.read(spark))
    assert len(got) == 110
    assert all(got[i] == 999 for i in range(90, 110))


def test_changelog_over_merge_emits_pair(spark, table):
    s0 = table.snapshots()[-1]["snapshot_id"]
    table.merge(_wave(spark, 10, 13, F.lit(500)), ["doc_id"])
    ch = table.read_changes(spark, s0).collect()
    ins = {(r.doc_id, r.v) for r in ch if r._change_type == "insert"}
    dels = {(r.doc_id, r.v) for r in ch if r._change_type == "delete"}
    assert ins == {(i, 500) for i in (10, 11, 12)}
    assert dels == {(i, i % 7) for i in (10, 11, 12)}


def test_rollback_across_merge_restores_and_drops_tombstones(
        spark, table):
    pre = table.snapshots()[-1]["snapshot_id"]
    snap = table.merge(_wave(spark, 40, 45, F.lit(7777)), ["doc_id"])
    delete_path = os.path.join(table.delete_dir, snap["delete_file"])
    assert os.path.exists(delete_path)
    table.rollback(spark, pre)
    got = _vals(table.read(spark))
    assert len(got) == 100
    assert all(got[i] == i % 7 for i in range(100))
    assert not os.path.exists(delete_path)  # tombstones discarded
    assert table._live_deletes()[0] == []


def test_expire_snapshots_retains_live_merge_tombstones(spark, table):
    snap = table.merge(_wave(spark, 0, 5, F.lit(1)), ["doc_id"])
    for lo in range(100, 200, 10):
        table.write(_wave(spark, lo, lo + 10), append=True)
    table.expire_snapshots(keep_last=3)
    # the merge snapshot survived below the cutoff: its delete file
    # is live, so expiring it would resurrect the replaced rows
    assert any(s["snapshot_id"] == snap["snapshot_id"]
               for s in table.snapshots())
    got = _vals(table.read(spark))
    assert all(got[i] == 1 for i in range(5))
