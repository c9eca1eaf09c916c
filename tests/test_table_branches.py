"""Branch refs on the IcebergLike layer: the write-audit-publish
pattern with a MUTABLE ref — create a branch, append commits under it
while main stays pinned, then fast-forward (publish) or abandon
(reject). Isolation rides the existing per-file sequence scoping; no
new read machinery (engine/tables.py branch section)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from textract_demo_spark.engine.tables import (PART_COL, IcebergLike,
                                               with_part_key)


def _wave(spark, lo, hi, bucket_offset=0, buckets=4):
    df = (spark.range(lo, hi)
          .select(F.concat(F.lit("c"), F.col("id").cast("string"))
                  .alias("conv_id"),
                  F.col("id").cast("long").alias("doc_id"),
                  (F.col("id") % 7).cast("long").alias("v")))
    df = with_part_key(df, buckets)
    if bucket_offset:
        df = df.withColumn(
            PART_COL, (F.col(PART_COL) + bucket_offset).cast("int"))
    return df


@pytest.fixture()
def table(spark, tmp_path):
    t = IcebergLike(str(tmp_path / "t"))
    t.write(_wave(spark, 0, 100), stat_cols=["doc_id"])
    return t


def _ids(df):
    return sorted(r.doc_id for r in df.select("doc_id").collect())


def test_branch_isolation_and_fast_forward(spark, table):
    table.create_branch("audit")
    table.write_to_branch("audit", _wave(spark, 100, 150))
    # main pinned at the pre-branch state; branch sees the append
    assert _ids(table.read(spark)) == list(range(100))
    assert _ids(table.read(spark, branch="audit")) == list(range(150))
    # a second branch append stacks on the branch, main still pinned
    table.write_to_branch("audit", _wave(spark, 150, 170))
    assert _ids(table.read(spark)) == list(range(100))
    assert _ids(table.read(spark, branch="audit")) == list(range(170))
    # publish: main = branch head, ref dropped, pin removed
    table.fast_forward("audit")
    assert _ids(table.read(spark)) == list(range(170))
    assert table.branches() == {}
    assert table._main_pin() is None


def test_main_readers_hide_branch_commits(spark, table):
    """Every main reader resolves its snapshot in one place, so while
    a branch is diverged none of them sees the branch's commits: not
    the pruned scan (neither its rows nor its file counts) and not
    the incremental or changelog reads, whose default end is main's
    head. An explicit end still reaches the branch."""
    first = table.snapshots()[-1]["snapshot_id"]
    ranges = [(100, 129), (90, 129), (0, None)]
    kept_before = {r: table.read_where(spark, "doc_id", *r)[1]
                   ["files_kept"] for r in ranges}
    table.create_branch("b")
    # appended files in main's partitions plus partitions of its own
    head = table.write_to_branch(
        "b", _wave(spark, 100, 120).unionByName(
            _wave(spark, 120, 130, bucket_offset=4)),
        stat_cols=["doc_id"])["snapshot_id"]
    assert _ids(table.read(spark)) == list(range(100))
    for lo, hi in ranges:
        out, rep = table.read_where(spark, "doc_id", lo, hi)
        assert _ids(out) == list(range(lo, 100)), (lo, hi)
        assert rep["files_kept"] == kept_before[(lo, hi)], (lo, hi, rep)
    assert table.read_incremental(spark, first).count() == 0
    assert table.read_changes(spark, first).count() == 0
    assert _ids(table.read_incremental(spark, first, head)) == list(
        range(100, 130))
    assert _ids(table.read_where(spark, "doc_id", 100, None,
                                 snapshot_id=head)[0]) == list(
        range(100, 130))



def test_tag_defaults_to_main_while_diverged(spark, table):
    """A tag made with no snapshot id while a branch is diverged names
    main's state, not the branch's unpublished head."""
    main = table.snapshots()[-1]["snapshot_id"]
    table.create_branch("b")
    table.write_to_branch("b", _wave(spark, 100, 115, bucket_offset=4))
    table.tag("v1")
    assert table.tags()["v1"] == main
    assert _ids(table.read(spark, tag="v1")) == list(range(100))

def test_plain_write_refused_while_diverged(spark, table):
    table.create_branch("audit")
    table.write_to_branch("audit", _wave(spark, 100, 120))
    with pytest.raises(ValueError, match="pinned"):
        table.write(_wave(spark, 200, 210, bucket_offset=8))
    # ...and allowed again after publish
    table.fast_forward("audit")
    table.write(_wave(spark, 200, 210, bucket_offset=8))
    assert 205 in _ids(table.read(spark))


def test_branch_abandon_rolls_back(spark, table):
    pre_snaps = len(table.snapshots())
    table.create_branch("audit")
    table.write_to_branch("audit", _wave(spark, 100, 140))
    table.drop_branch("audit", spark=spark)
    # main reads the pre-branch state and is writable again
    assert _ids(table.read(spark)) == list(range(100))
    assert table._main_pin() is None and table.branches() == {}
    table.write(_wave(spark, 300, 310, bucket_offset=8))
    assert 305 in _ids(table.read(spark))
    # branch data files are physically gone (rollback stripped them)
    assert len([s for s in table.snapshots()
                if s.get("branch") == "audit"]) == 0
    assert len(table.snapshots()) >= pre_snaps


def test_rollback_inside_branch_keeps_branch_writable(spark, table):
    """Rolling back to a branch commit after main's pin undoes the
    branch's later commits only: main stays pinned and unchanged, the
    branch keeps the target's rows and stays the writable tip, and
    publishing it unpins main."""
    table.create_branch("b")
    first = table.write_to_branch("b", _wave(spark, 100, 120))
    table.write_to_branch("b", _wave(spark, 120, 140))
    table.rollback(spark, first["snapshot_id"])
    assert _ids(table.read(spark)) == list(range(100))
    assert _ids(table.read(spark, branch="b")) == list(range(120))
    table.write_to_branch("b", _wave(spark, 140, 150))
    assert _ids(table.read(spark)) == list(range(100))
    assert _ids(table.read(spark, branch="b")) == (
        list(range(120)) + list(range(140, 150)))
    table.fast_forward("b")
    table.write(_wave(spark, 300, 310, bucket_offset=8))
    assert _ids(table.read(spark)) == (
        list(range(120)) + list(range(140, 150)) + list(range(300, 310)))
    assert table.branches() == {} and table._main_pin() is None


def test_single_divergent_branch_enforced(spark, table):
    table.create_branch("audit")
    with pytest.raises(ValueError, match="already exists"):
        table.create_branch("other")
    table.write_to_branch("audit", _wave(spark, 100, 110))
    table.fast_forward("audit")
    # after publish a new branch may be created
    table.create_branch("audit2")
    assert "audit2" in table.branches()


def test_expire_keeps_branch_head_and_pin(spark, table):
    table.create_branch("audit")
    for lo in range(100, 160, 10):
        table.write_to_branch("audit", _wave(spark, lo, lo + 10))
    pin = table._main_pin()
    head = table.branches()["audit"]
    table.expire_snapshots(keep_last=1)
    kept = {s["snapshot_id"] for s in table.snapshots()}
    assert pin in kept and head in kept
    # both refs still resolve
    assert _ids(table.read(spark)) == list(range(100))
    assert _ids(table.read(spark, branch="audit")) == list(range(160))


def test_branch_refs_in_meta_view(spark, table):
    table.tag("v1")
    table.create_branch("audit")
    table.write_to_branch("audit", _wave(spark, 100, 110))
    refs = {(r.name, r.type): r.snapshot_id
            for r in table.meta_tags(spark).collect()}
    assert refs[("v1", "tag")] == 0
    assert refs[("audit", "branch")] == table.branches()["audit"]
    assert refs[("main", "branch")] == table._main_pin()


def test_branch_write_requires_tip(spark, tmp_path):
    t = IcebergLike(str(tmp_path / "t2"))
    t.write(_wave(spark, 0, 50))
    snap0 = t.snapshots()[-1]["snapshot_id"]
    t.write(_wave(spark, 50, 100, bucket_offset=4))
    t.create_branch("old", snapshot_id=snap0)
    with pytest.raises(ValueError, match="tip"):
        t.write_to_branch("old", _wave(spark, 100, 110))
    os.remove(os.path.join(t.manifest_dir, "branch-old.json"))
