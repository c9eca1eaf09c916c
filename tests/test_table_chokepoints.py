"""Table invariants that hold by construction because every caller
passes one chokepoint of the IcebergLike layer: the diverged-main
guard (``_check_main_writable``), the snapshot CAS
(``_publish_snapshot``) and rollback's pin cleanup. Plus the plan gate
for the plain-read fast path, which must stay a bare scan."""

from __future__ import annotations

import threading

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


def _ids(df):
    return sorted(r.doc_id for r in df.select("doc_id").collect())


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _race(root, held_op, held, first):
    """Run ``held`` and ``first``, each on its own table handle over
    ``root``, in two threads that reach ``_publish_snapshot`` with the
    same provisional id; the snapshot whose op is ``held_op`` waits
    until the other one has published. Returns both results."""
    gate = threading.Barrier(2, timeout=180)
    published = threading.Event()

    class Gated(IcebergLike):
        def _publish_snapshot(self, snap, rebase=None):
            gate.wait()  # both reach publish with the same id
            if snap.get("op") == held_op:
                published.wait(180)  # the other one wins the id
                return super()._publish_snapshot(snap, rebase)
            try:
                return super()._publish_snapshot(snap, rebase)
            finally:
                published.set()

    out, errs = {}, []

    def go(name, fn):
        try:
            out[name] = fn(Gated(root))
        except Exception as e:  # surface thread failures in asserts
            errs.append((name, e))

    th = [threading.Thread(target=go, args=("held", held)),
          threading.Thread(target=go, args=("first", first))]
    for x in th:
        x.start()
    for x in th:
        x.join()
    assert not errs, errs
    return out["held"], out["first"]


def test_rollback_to_pin_unpins_main(spark, tmp_path):
    t = IcebergLike(str(tmp_path / "t"))
    t.write(_wave(spark, 0, 100))
    t.create_branch("audit")
    t.write_to_branch("audit", _wave(spark, 100, 130))
    pin = t._main_pin()
    t.rollback(spark, pin)
    # the branch ref died with its head, so the pin must go too: a
    # pin left behind refuses every main write with nothing to publish
    assert t.branches() == {} and t._main_pin() is None
    t.write(_wave(spark, 200, 220, bucket_offset=4))
    assert _ids(t.read(spark)) == list(range(100)) + list(range(200, 220))


def test_diverged_main_refuses_every_mutator(spark, tmp_path):
    t = IcebergLike(str(tmp_path / "t"))
    t.write(_wave(spark, 0, 100))
    t.write(_wave(spark, 100, 140), append=True)  # 2 files/partition
    t.create_branch("audit")
    t.write_to_branch("audit", _wave(spark, 200, 210))
    snaps = [s["snapshot_id"] for s in t.snapshots()]
    main = _ids(t.read(spark))
    assert main == list(range(140))
    keys = spark.createDataFrame([(5,)], "doc_id long")
    mutators = {
        "write": lambda: t.write(_wave(spark, 300, 310,
                                       bucket_offset=8)),
        "merge": lambda: t.merge(_wave(spark, 5, 6), ["doc_id"]),
        "delete_rows": lambda: t.delete_rows(keys, ["doc_id"]),
        "delete_where": lambda: t.delete_where(spark, "doc_id = 6"),
        "compact": lambda: t.compact(spark),
        "materialize_deletes": lambda: t.materialize_deletes(spark),
    }
    for name, op in mutators.items():
        with pytest.raises(ValueError, match="pinned"):
            op()
        assert [s["snapshot_id"] for s in t.snapshots()] == snaps, name
        assert _ids(t.read(spark)) == main, name
    # the branch is untouched and still publishes
    assert _ids(t.read(spark, branch="audit")) == (
        list(range(140)) + list(range(200, 210)))
    t.fast_forward("audit")
    t.compact(spark)
    assert _ids(t.read(spark)) == list(range(140)) + list(range(200, 210))


@pytest.mark.parametrize("op", ["compact", "materialize_deletes"])
def test_maintenance_op_races_write_through_cas(spark, tmp_path, op):
    """A maintenance op and a write reach publish with the same
    provisional snapshot id and the write lands first: the op must
    rebase instead of overwriting, both snapshots survive under
    distinct ids, and a materialization carries its renumbered id in
    the manifests it rewrote."""
    root = str(tmp_path / "t")
    t = IcebergLike(root)
    t.write(_wave(spark, 0, 100), run_id="base")
    if op == "compact":
        t.write(_wave(spark, 100, 150), append=True)  # small files
        expect = list(range(150))
    else:
        t.delete_rows(spark.createDataFrame([(7,), (13,)],
                                            "doc_id long"), ["doc_id"])
        expect = [i for i in range(100) if i not in (7, 13)]
    provisional = t._next_snapshot_id()
    maint, write = _race(
        root, op, lambda g: getattr(g, op)(spark),
        lambda g: g.write(_wave(spark, 200, 250, bucket_offset=4),
                          run_id="w"))
    assert maint["op"] == op
    assert write["snapshot_id"] == provisional
    assert maint["snapshot_id"] == provisional + 1
    assert maint["rebased_from"] == provisional
    t = IcebergLike(root)
    ops = {s["snapshot_id"]: s.get("op") for s in t.snapshots()}
    assert ops[maint["snapshot_id"]] == op
    assert ops[write["snapshot_id"]] is None  # a plain append
    if op == "materialize_deletes":
        assert maint["rewritten_keys"]
        for k in maint["rewritten_keys"]:
            m = t.manifest(k)
            assert m["data_snapshot_id"] == provisional + 1
            assert set(m["file_seq"].values()) == {provisional + 1}
    assert _ids(t.read(spark)) == expect + list(range(200, 250))


def test_materialize_keeps_a_racing_delete(spark, tmp_path):
    """A ``delete_rows`` that publishes while a materialization is
    held wins its provisional id; the materialization folded only the
    older delete, so the newer one must keep applying to the
    partition the materialization rewrote."""
    root = str(tmp_path / "t")
    t = IcebergLike(root)
    t.write(_wave(spark, 0, 100), run_id="base")
    t.delete_rows(spark.createDataFrame([(7,)], "doc_id long"),
                  ["doc_id"])
    part = (t.read(spark, apply_deletes=False)
            .filter("doc_id = 7").first()[PART_COL])
    late = (t.read(spark).filter(F.col(PART_COL) == part)
            .orderBy("doc_id").first().doc_id)
    provisional = t._next_snapshot_id()
    maint, delete = _race(
        root, "materialize_deletes", lambda g: g.materialize_deletes(spark),
        lambda g: g.delete_rows(
            spark.createDataFrame([(late,)], "doc_id long"), ["doc_id"]))
    assert delete["snapshot_id"] == provisional
    assert maint["snapshot_id"] == provisional + 1
    assert part in maint["rewritten_keys"]
    t = IcebergLike(root)
    assert _ids(t.read(spark)) == [i for i in range(100)
                                   if i not in (7, late)]


def test_plain_read_is_a_bare_scan(spark, tmp_path):
    """The plain latest read of a table with no deletes and no branch
    is the benchmark's scan path, and a ``read_where`` point lookup on
    it the benchmark's lookup path: no sequence-annotation join and no
    ``input_file_name``. A pending delete brings both in."""
    t = IcebergLike(str(tmp_path / "t"))
    t.write(_wave(spark, 0, 100))
    t.write(_wave(spark, 100, 120), append=True)
    lookup, _ = t.read_where(spark, "conv_id", "c105", "c105")
    for p in (_plan(t.read(spark)), _plan(lookup)):
        assert "Join" not in p, p[:3000]
        assert "input_file_name" not in p, p[:3000]
    t.delete_rows(spark.createDataFrame([(5,)], "doc_id long"),
                  ["doc_id"])
    p = _plan(t.read(spark))
    assert "Join" in p and "input_file_name" in p, p[:3000]
