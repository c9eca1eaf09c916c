"""Iceberg-v2 parity pieces of the IcebergLike layer: equality
deletes (merge-on-read + sequence-number scoping + materialization),
incremental snapshot reads, and manifest-stats scan pruning."""

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


def test_delete_rows_merge_on_read(spark, table):
    keys = spark.createDataFrame(
        [(i,) for i in range(0, 100, 10)], "doc_id long")
    snap = table.delete_rows(keys, ["doc_id"])
    assert snap["op"] == "delete" and snap["n_delete_tuples"] == 10
    # no data file was touched (merge-on-read)
    assert _ids(table.read(spark)) == [
        i for i in range(100) if i % 10 != 0]
    # raw read still holds every row
    assert len(_ids(table.read(spark, apply_deletes=False))) == 100


def test_delete_time_travel_pre_delete(spark, table):
    pre = table.snapshots()[-1]["snapshot_id"]
    table.delete_rows(spark.createDataFrame([(5,)], "doc_id long"),
                      ["doc_id"])
    assert 5 not in _ids(table.read(spark))
    assert 5 in _ids(table.read(spark, snapshot_id=pre))


def test_delete_sequence_scoping_spares_later_appends(spark, table):
    # delete tuples cover ids that a LATER wave will re-add
    table.delete_rows(
        spark.createDataFrame([(i,) for i in range(90, 110)],
                              "doc_id long"), ["doc_id"])
    table.write(_wave(spark, 100, 150, bucket_offset=4))
    ids = _ids(table.read(spark))
    # 90..99 (committed before the delete) are gone;
    # 100..109 (committed after) survive despite matching tuples
    assert all(i not in ids for i in range(90, 100))
    assert all(i in ids for i in range(100, 150))


def test_multi_column_and_stacked_deletes(spark, table):
    table.delete_rows(
        spark.createDataFrame([(3, 3), (4, 999)], "doc_id long, v long"),
        ["doc_id", "v"])  # (4, 999) matches nothing
    table.delete_rows(
        spark.createDataFrame([(7,)], "doc_id long"), ["doc_id"])
    ids = _ids(table.read(spark))
    assert 3 not in ids and 7 not in ids and 4 in ids
    assert len(ids) == 98


def test_materialize_deletes_rewrites_and_expires(spark, table):
    table.delete_rows(
        spark.createDataFrame([(i,) for i in range(0, 100, 3)],
                              "doc_id long"), ["doc_id"])
    expect = [i for i in range(100) if i % 3 != 0]
    snap = table.materialize_deletes(spark)
    assert snap["op"] == "materialize_deletes"
    assert snap["rewritten_keys"]  # every bucket held multiples of 3
    assert os.listdir(table.delete_dir) == []
    # rows physically gone: raw read agrees with logical read
    assert _ids(table.read(spark, apply_deletes=False)) == expect
    assert _ids(table.read(spark)) == expect
    # rewritten partitions outsequence the folded delete
    for k in snap["rewritten_keys"]:
        assert table.manifest(k)["data_snapshot_id"] == snap["snapshot_id"]
    # idempotent when nothing is pending
    again = table.materialize_deletes(spark)
    assert again["rewritten_keys"] == [] and again["folded_deletes"] == []


def test_materialize_crash_between_renames_recovers(spark, table, tmp_path):
    table.delete_rows(
        spark.createDataFrame([(1,)], "doc_id long"), ["doc_id"])
    # simulate the kill window: partition dir swapped away but the
    # staged replacement not yet promoted
    k = sorted(table.committed_keys())[0]
    dst = os.path.join(table.data_dir, f"{PART_COL}={k}")
    os.rename(dst, dst + ".old-crashed")
    t2 = IcebergLike(table.root)  # reopen repairs
    assert os.path.isdir(dst)
    assert 1 not in _ids(t2.read(spark))  # merge-on-read still holds


def test_read_incremental_returns_only_appends(spark, table):
    s0 = table.snapshots()[-1]["snapshot_id"]
    table.write(_wave(spark, 100, 160, bucket_offset=4))
    s1 = table.snapshots()[-1]["snapshot_id"]
    inc = table.read_incremental(spark, s0, s1)
    assert _ids(inc) == list(range(100, 160))
    # empty diff
    assert table.read_incremental(spark, s1, s1).count() == 0
    with pytest.raises(ValueError):
        table.read_incremental(spark, 999)


def test_read_where_prunes_from_manifest_stats(spark, tmp_path):
    t = IcebergLike(str(tmp_path / "t"))
    # range-partitioned keys: bucket i holds doc_id in [100i, 100i+100)
    df = (spark.range(0, 800)
          .select(F.concat(F.lit("c"), F.col("id").cast("string"))
                  .alias("conv_id"),
                  F.col("id").cast("long").alias("doc_id"))
          .withColumn(PART_COL, (F.col("doc_id") / 100).cast("int")))
    t.write(df, stat_cols=["doc_id"])
    out, report = t.read_where(spark, "doc_id", lo=250, hi=349)
    assert _ids(out) == list(range(250, 350))
    assert sorted(report["partitions_kept"]) == [2, 3]
    assert len(report["partitions_pruned"]) == 6
    # pruning happened at planning time: no file outside kept dirs
    touched = {f.split(f"{PART_COL}=")[1].split("/")[0]
               for f in out.inputFiles()}
    assert touched == {"2", "3"}
    # deletes still apply through the pruned scan
    t.delete_rows(spark.createDataFrame([(300,)], "doc_id long"),
                  ["doc_id"])
    out2, _ = t.read_where(spark, "doc_id", lo=250, hi=349)
    assert 300 not in _ids(out2)


def test_stats_written_in_manifest(spark, table):
    ks = sorted(table.committed_keys())
    mins = [table.manifest(k)["col_stats"]["doc_id"]["min"] for k in ks]
    maxs = [table.manifest(k)["col_stats"]["doc_id"]["max"] for k in ks]
    assert min(mins) == 0 and max(maxs) == 99
    for k in ks:
        assert table.manifest(k)["data_snapshot_id"] == 0


# ---- append mode / upsert / per-file sequencing ---------------------


def test_append_into_existing_partitions(spark, table):
    table.write(_wave(spark, 100, 140), append=True)  # SAME buckets
    assert _ids(table.read(spark)) == list(range(140))
    # manifests: merged files carry per-file sequence numbers
    for k in sorted(table.committed_keys()):
        m = table.manifest(k)
        assert set(m["files"]) == set(m["file_seq"])
        assert len(set(m["file_seq"].values())) == 2  # two commits
        assert any(f.startswith("s") for f in m["files"])


def test_append_file_level_delete_scoping(spark, table):
    # tombstone ids 50..120 BEFORE the append; appended rows with
    # matching ids must survive inside the SAME partition dirs
    table.delete_rows(
        spark.createDataFrame([(i,) for i in range(50, 120)],
                              "doc_id long"), ["doc_id"])
    table.write(_wave(spark, 100, 130), append=True)
    ids = _ids(table.read(spark))
    assert all(i not in ids for i in range(50, 100))   # wave-1 hits
    assert all(i in ids for i in range(100, 130))      # appended rows
    assert all(i in ids for i in range(0, 50))


def test_append_crash_leaves_no_orphans(spark, table):
    import os

    from textract_demo_spark.engine.tables import PART_COL, IcebergLike
    k = sorted(table.committed_keys())[0]
    d = os.path.join(table.data_dir, f"{PART_COL}={k}")
    orphan = os.path.join(d, "s00099-0000-crashed.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"not a real parquet")
    # a plain reopen does NOT sweep a YOUNG orphan: it could be a
    # concurrent appender's just-renamed file, one manifest write away
    # from being committed (deleting it would silently lose that
    # run's rows). Until the sweep, directory-glob reads can see the
    # crashed file — the same read-uncommitted window that exists
    # while any append is in flight; a recovery procedure calls
    # recover_orphans() before serving reads.
    t2 = IcebergLike(table.root)
    assert os.path.exists(orphan)
    # aged past the liveness threshold, the open-time sweep takes it
    old = os.path.getmtime(orphan) - 100_000
    os.utime(orphan, (old, old))
    t3 = IcebergLike(table.root)
    assert not os.path.exists(orphan)
    assert _ids(t3.read(spark)) == list(range(100))


def test_recover_orphans_explicit_sweep(spark, table):
    """The maintenance entry point removes a crashed append's
    unmanifested files immediately, regardless of age."""
    import os

    from textract_demo_spark.engine.tables import PART_COL
    k = sorted(table.committed_keys())[0]
    d = os.path.join(table.data_dir, f"{PART_COL}={k}")
    orphan = os.path.join(d, "s00099-0000-crashed.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"not a real parquet")
    table.recover_orphans()
    assert not os.path.exists(orphan)
    assert _ids(table.read(spark)) == list(range(100))


def test_upsert_replaces_matched_inserts_new(spark, table):
    up = (spark.range(90, 110)
          .select(F.concat(F.lit("c"), F.col("id").cast("string"))
                  .alias("conv_id"),
                  F.col("id").cast("long").alias("doc_id"),
                  F.lit(999).cast("long").alias("v")))
    from textract_demo_spark.engine.tables import with_part_key
    table.upsert(with_part_key(up, 4), ["doc_id"])
    rows = {r.doc_id: r.v for r in
            table.read(spark).select("doc_id", "v").collect()}
    assert len(rows) == 110  # no duplicates: matched rows replaced
    assert all(rows[i] == 999 for i in range(90, 110))  # new values
    assert all(rows[i] == i % 7 for i in range(0, 90))  # untouched


def test_expire_snapshots_keeps_live_deletes(spark, table):
    import os
    for lo in range(100, 160, 10):  # 6 append snapshots
        table.write(_wave(spark, lo, lo + 10), append=True)
    table.delete_rows(spark.createDataFrame([(1,)], "doc_id long"),
                      ["doc_id"])   # live tombstone, early-ish
    for lo in range(160, 200, 10):  # more history after it
        table.write(_wave(spark, lo, lo + 10), append=True)
    n_before = len(table.snapshots())
    out = table.expire_snapshots(keep_last=3)
    snaps = table.snapshots()
    assert len(snaps) < n_before
    # the live delete snapshot survived expiry below the cutoff
    assert any(s.get("op") == "delete" for s in snaps)
    assert 1 not in _ids(table.read(spark))  # tombstone still applies
    assert out["expired"]


def test_compact_skips_mixed_seq_with_pending_deletes(spark, table):
    table.delete_rows(spark.createDataFrame([(5,)], "doc_id long"),
                      ["doc_id"])
    table.write(_wave(spark, 100, 140), append=True)  # mixed seqs
    snap = table.compact(spark)
    assert snap["compacted_keys"] == []
    assert snap["skipped_mixed_seq"]
    expect = [i for i in range(140) if i != 5]
    assert _ids(table.read(spark)) == expect
    # fold the tombstones, then compaction proceeds and rows survive
    table.materialize_deletes(spark)
    snap2 = table.compact(spark)
    assert snap2["compacted_keys"]
    assert _ids(table.read(spark)) == expect


def test_model_based_operation_sequences(spark, tmp_path):
    """Model-based invariant: a seeded random interleaving of append /
    delete / upsert / compact / materialize / reopen / rollback /
    branch always reads back, through ``read`` and a full-range
    ``read_where`` alike, exactly the dict a plain Python model
    predicts. This is the cross-product coverage the single-op tests
    can't give — sequence scoping must hold through ANY op order.
    Rollback restores the model saved at its target snapshot, or is
    refused when a compact/materialize rewrite lies after the
    target; the branch step creates a branch, commits to it, checks
    main is unchanged, then publishes (fast_forward) or abandons
    (drop_branch with spark) it."""
    import random

    from textract_demo_spark.engine.tables import IcebergLike

    # 74: its 12 steps reach both rollback outcomes (restore and
    # refusal across a materialize) and both branch outcomes, plus
    # append, delete, compact and materialize
    rng = random.Random(74)
    t = IcebergLike(str(tmp_path / "t"))
    model: dict[int, int] = {i: i % 7 for i in range(40)}
    t.write(_wave(spark, 0, 40))
    next_id = 40
    # (snapshot id, model as of it) for every state rollback may target
    history = [(t.snapshots()[-1]["snapshot_id"], dict(model))]
    rewrites: list[int] = []  # compact/materialize snapshot ids

    def check(tag):
        # the plain read and a full-range pruned scan both read main
        for how, df in (("read", t.read(spark)),
                        ("read_where",
                         t.read_where(spark, "doc_id", 0, None)[0])):
            rows = df.select("doc_id", "v").collect()
            got = {r.doc_id: r.v for r in rows}
            assert len(got) == len(rows), (tag, how, "duplicate doc_id")
            assert got == model, (
                tag, how, sorted(set(got) ^ set(model))[:10])

    for step in range(12):
        op = rng.choice(["append", "delete", "upsert", "compact",
                         "materialize", "reopen", "rollback",
                         "branch"])
        if op == "append":
            lo, hi = next_id, next_id + rng.randint(5, 15)
            next_id = hi
            t.write(_wave(spark, lo, hi), append=True)
            model.update({i: i % 7 for i in range(lo, hi)})
        elif op == "delete":
            # mix of live, already-deleted and never-existing ids
            keys = rng.sample(range(next_id + 10),
                              k=min(8, next_id))
            t.delete_rows(
                spark.createDataFrame([(k,) for k in keys],
                                      "doc_id long"), ["doc_id"])
            for k in keys:
                model.pop(k, None)
        elif op == "upsert":
            keys = rng.sample(range(next_id + 5),
                              k=min(6, next_id))
            up = (spark.createDataFrame(
                      [(k, 1000 + step) for k in keys],
                      "doc_id long, v long")
                  .select(F.concat(F.lit("c"),
                                   F.col("doc_id").cast("string"))
                          .alias("conv_id"), "doc_id", "v"))
            t.upsert(with_part_key(up, 4), ["doc_id"])
            for k in keys:
                model[k] = 1000 + step
            # unmatched keys were inserted: later waves start past them
            next_id = max(next_id, max(keys) + 1)
        elif op in ("compact", "materialize"):
            snap = (t.compact(spark) if op == "compact"
                    else t.materialize_deletes(spark))
            if "snapshot_id" in snap:  # a no-op publishes nothing
                rewrites.append(snap["snapshot_id"])
        elif op == "rollback":
            sid, saved = rng.choice(history)
            if any(r > sid for r in rewrites):
                with pytest.raises(ValueError, match="physical-rewrite"):
                    t.rollback(spark, sid)
            else:
                t.rollback(spark, sid)
                model = dict(saved)
                history = [h for h in history if h[0] <= sid]
        elif op == "branch":
            pre = t.snapshots()[-1]["snapshot_id"]
            lo, hi = next_id, next_id + rng.randint(5, 15)
            next_id = hi
            t.create_branch("b")
            t.write_to_branch("b", _wave(spark, lo, hi))
            check((step, op, "main while diverged"))
            if rng.random() < 0.5:
                t.fast_forward("b")
                model.update({i: i % 7 for i in range(lo, hi)})
            else:
                t.drop_branch("b", spark=spark)
                history = [h for h in history if h[0] <= pre]
        else:
            t = IcebergLike(t.root)
        check((step, op))
        sid = t.snapshots()[-1]["snapshot_id"]
        if sid != history[-1][0]:
            history.append((sid, dict(model)))


def test_schema_evolution_on_append(spark, table):
    """Appending a wave with an extra column evolves the table: the
    snapshot schema picks it up, old files read the new column as
    null, and pre-evolution snapshots still read with their own
    schema."""
    pre = table.snapshots()[-1]["snapshot_id"]
    wave = _wave(spark, 100, 120).withColumn(
        "lang", F.lit("en"))
    table.write(wave, append=True)
    out = table.read(spark)
    assert "lang" in out.columns
    got = {r.doc_id: r.lang for r in
           out.select("doc_id", "lang").collect()}
    assert all(got[i] == "en" for i in range(100, 120))
    assert all(got[i] is None for i in range(100))  # old files null
    # time travel to the pre-evolution snapshot: original schema
    old = table.read(spark, snapshot_id=pre)
    assert "lang" not in old.columns


def test_metadata_tables(spark, table):
    """meta_snapshots / meta_files / meta_partitions surface the
    manifests as DataFrames consistent with the physical state."""
    table.write(_wave(spark, 100, 120), append=True)
    table.delete_rows(spark.createDataFrame([(1,)], "doc_id long"),
                      ["doc_id"])
    snaps = {r.snapshot_id: r.op
             for r in table.meta_snapshots(spark).collect()}
    assert snaps[0] == "append" and "delete" in snaps.values()
    files = table.meta_files(spark).collect()
    assert all(r.size_bytes and r.size_bytes > 0 for r in files)
    # per-file sequence numbers: base write 0, appended files 1
    seqs = {r.data_snapshot_id for r in files}
    assert seqs == {0, 1}
    parts = {r.part_key: r for r in
             table.meta_partitions(spark).collect()}
    for k in table.committed_keys():
        m = table.manifest(k)
        assert parts[k].n_files == len(m["files"])
        assert parts[k].rows == m["metrics"]["rows"]
    # file rows match the physical listing
    import os
    for r in files[:5]:
        assert os.path.exists(os.path.join(
            table.data_dir, f"part_key={r.part_key}", r.file))


def test_read_incremental_file_granular_appends(spark, table):
    """Appends into EXISTING partitions must show up in the
    incremental read (file-granular, not a partition-set diff)."""
    s0 = table.snapshots()[-1]["snapshot_id"]
    table.write(_wave(spark, 100, 130), append=True)  # same buckets
    inc = table.read_incremental(spark, s0)
    assert _ids(inc) == list(range(100, 130))


def test_read_changes_changelog(spark, table):
    """Changelog scan: deletes emit the tombstoned rows, upserts emit
    the delete(old)+insert(new) pair, in-window insert+delete nets
    out, and pre-window rows never appear."""
    s0 = table.snapshots()[-1]["snapshot_id"]
    # delete 5 existing rows
    table.delete_rows(
        spark.createDataFrame([(i,) for i in range(5)], "doc_id long"),
        ["doc_id"])
    # upsert 3 rows (replace) + 2 brand-new
    up = (spark.createDataFrame(
              [(i, 500) for i in (10, 11, 12, 200, 201)],
              "doc_id long, v long")
          .select(F.concat(F.lit("c"), F.col("doc_id").cast("string"))
                  .alias("conv_id"), "doc_id", "v"))
    table.upsert(with_part_key(up, 4), ["doc_id"])
    # insert then delete inside the window: nets out entirely
    table.write(_wave(spark, 300, 305), append=True)
    table.delete_rows(
        spark.createDataFrame([(i,) for i in range(300, 305)],
                              "doc_id long"), ["doc_id"])
    ch = table.read_changes(spark, s0)
    ins = {(r.doc_id, r.v) for r in ch.collect()
           if r._change_type == "insert"}
    dels = {(r.doc_id, r.v) for r in ch.collect()
            if r._change_type == "delete"}
    assert ins == {(i, 500) for i in (10, 11, 12, 200, 201)}
    assert dels == ({(i, i % 7) for i in range(5)}
                    | {(i, i % 7) for i in (10, 11, 12)})
    # consistency: read(a) + changes == read(now), as dicts
    base = {r.doc_id: r.v for r in
            table.read(spark, snapshot_id=s0)
            .select("doc_id", "v").collect()}
    for d, _ in dels:
        base.pop(d)
    for i, v in ins:
        base[i] = v
    now = {r.doc_id: r.v for r in
           table.read(spark).select("doc_id", "v").collect()}
    assert base == now


def test_time_travel_excludes_later_appends(spark, table):
    """The bug read_changes exposed: appended files land in
    already-committed partition DIRS, so the partition-set filter
    alone would leak post-snapshot rows into a historical read —
    time travel must also filter by per-file sequence."""
    s0 = table.snapshots()[-1]["snapshot_id"]
    table.write(_wave(spark, 100, 130), append=True)
    assert _ids(table.read(spark, snapshot_id=s0)) == list(range(100))
    assert _ids(table.read(spark)) == list(range(130))


# ---- z-order clustering --------------------------------------------


def _xy(spark, n=512):
    """Two independent dimensions: x ascending, y pseudorandom in
    [0, n) — a linear sort on x leaves y unclustered, the case
    z-order exists for."""
    return (spark.range(0, n)
            .select(F.concat(F.lit("c"), F.col("id").cast("string"))
                    .alias("conv_id"),
                    F.col("id").cast("long").alias("x"),
                    F.pmod(F.xxhash64("id"), F.lit(n))
                    .cast("long").alias("y")))


def _prune_frac(t, spark, col, lo, hi):
    _, rep = t.read_where(spark, col, lo=lo, hi=hi)
    n = len(rep["partitions_kept"]) + len(rep["partitions_pruned"])
    return len(rep["partitions_pruned"]) / n


def test_zorder_prunes_both_dimensions(spark, tmp_path):
    from textract_demo_spark.engine.tables import zorder_part_key

    df = _xy(spark)
    zt = IcebergLike(str(tmp_path / "z"))
    zt.write(zorder_part_key(df, ["x", "y"], 16, rel_err=0.0),
             stat_cols=["x", "y"])
    lt = IcebergLike(str(tmp_path / "lin"))
    lt.write(df.withColumn(PART_COL, (F.col("x") / 32).cast("int")),
             stat_cols=["x", "y"])
    # rows identical to a plain filter through either layout
    zout, _ = zt.read_where(spark, "y", lo=100, hi=199)
    assert sorted(r.x for r in zout.collect()) == sorted(
        r.x for r in df.filter(F.col("y").between(100, 199)).collect())
    # linear layout: perfect on x, near-useless on y
    assert _prune_frac(lt, spark, "x", 0, 127) >= 0.7
    assert _prune_frac(lt, spark, "y", 100, 199) <= 0.2
    # z-order: substantial pruning on BOTH dimensions
    assert _prune_frac(zt, spark, "x", 0, 127) >= 0.4
    assert _prune_frac(zt, spark, "y", 100, 199) >= 0.4
    assert _prune_frac(zt, spark, "y", 100, 199) > _prune_frac(
        lt, spark, "y", 100, 199)


def test_zorder_deterministic_and_balanced(spark, tmp_path):
    from textract_demo_spark.engine.tables import zorder_part_key

    df = _xy(spark)
    a = {(r.x): r[PART_COL] for r in
         zorder_part_key(df, ["x", "y"], 8, rel_err=0.0).collect()}
    b = {(r.x): r[PART_COL] for r in
         zorder_part_key(df, ["x", "y"], 8, rel_err=0.0).collect()}
    assert a == b  # content-derived: safe for resume semantics
    from collections import Counter
    sizes = Counter(a.values())
    assert len(sizes) == 8
    assert max(sizes.values()) <= 2 * (512 // 8)  # no straggler bucket


# ---- optimistic concurrency (CAS snapshot publish) ------------------


def _stale_once(t):
    """Make ``t``'s first snapshot-id derivation return 0 (a stale
    metadata read — the racing-writer window) and delegate after."""
    orig, seen = t._next_snapshot_id, []

    def f():
        if not seen:
            seen.append(1)
            return 0
        return orig()
    t._next_snapshot_id = f


def test_lost_snapshot_race_rebases_disjoint_write(spark, tmp_path):
    from textract_demo_spark.engine.tables import IcebergLike

    root = str(tmp_path / "t")
    ta = IcebergLike(root)
    ta.write(_wave(spark, 0, 50), run_id="a")  # wins snapshot 0
    tb = IcebergLike(root)
    _stale_once(tb)  # tb believes snapshot 0 is still free
    sb = tb.write(_wave(spark, 50, 100, bucket_offset=4), run_id="b")
    assert sb["snapshot_id"] == 1 and sb["rebased_from"] == 0
    t = IcebergLike(root)
    assert _ids(t.read(spark)) == list(range(100))
    # the loser's manifests were renumbered to its serialized id
    for k in sb["newly_committed"]:
        assert t.manifest(k)["data_snapshot_id"] == 1
    # so incremental/time-travel sequencing is consistent
    assert _ids(t.read_incremental(spark, 0)) == list(range(50, 100))
    assert _ids(t.read(spark, snapshot_id=0)) == list(range(50))


def test_same_partition_race_refused(spark, tmp_path):
    from textract_demo_spark.engine.tables import (CommitConflictError,
                                                   IcebergLike)

    root = str(tmp_path / "t")
    ta = IcebergLike(root)
    ta.write(_wave(spark, 0, 50), run_id="a")
    tb = IcebergLike(root)
    _stale_once(tb)
    with pytest.raises(CommitConflictError):
        tb.write(_wave(spark, 0, 50), append=True, run_id="b")


def test_concurrent_disjoint_writers_both_commit(spark, tmp_path):
    import threading

    from textract_demo_spark.engine.tables import IcebergLike

    gate = threading.Barrier(2, timeout=180)

    class Gated(IcebergLike):
        def _publish_snapshot(self, snap, rebase=None):
            gate.wait()  # both writers reach publish with the same id
            return super()._publish_snapshot(snap, rebase)

    root = str(tmp_path / "t")
    out, errs = {}, []

    def go(name, lo, hi, off):
        try:
            out[name] = Gated(root).write(
                _wave(spark, lo, hi, bucket_offset=off), run_id=name)
        except Exception as e:  # surface thread failures in asserts
            errs.append((name, e))

    th = [threading.Thread(target=go, args=("a", 0, 50, 0)),
          threading.Thread(target=go, args=("b", 50, 100, 4))]
    for x in th:
        x.start()
    for x in th:
        x.join()
    assert not errs
    assert {out["a"]["snapshot_id"], out["b"]["snapshot_id"]} == {0, 1}
    loser = out["a"] if out["a"]["snapshot_id"] == 1 else out["b"]
    assert loser["rebased_from"] == 0
    assert _ids(IcebergLike(root).read(spark)) == list(range(100))


def test_concurrent_delete_rebases_without_rename(spark, tmp_path):
    from textract_demo_spark.engine.tables import IcebergLike

    root = str(tmp_path / "t")
    ta = IcebergLike(root)
    ta.write(_wave(spark, 0, 100), run_id="a")  # snapshot 0
    tb = IcebergLike(root)
    _stale_once(tb)  # delete raced the write, lost the id
    sd = tb.delete_rows(
        spark.createDataFrame([(7,)], "doc_id long"), ["doc_id"])
    assert sd["snapshot_id"] == 1 and sd["rebased_from"] == 0
    # the delete file is run-unique and NEVER renamed on rebase (a
    # rename could move a path a published snapshot references)
    assert os.path.exists(os.path.join(tb.delete_dir, sd["delete_file"]))
    # serialized after the write -> tombstones its rows
    assert 7 not in _ids(IcebergLike(root).read(spark))


def test_concurrent_deletes_both_apply(spark, tmp_path):
    """Two delete_rows racing the same provisional snapshot id (two
    CDC streams upserting one table): both files must survive and
    BOTH tombstone sets must apply — the loser's rebase must not
    clobber or rename away the winner's just-published file."""
    import threading

    from textract_demo_spark.engine.tables import IcebergLike

    root = str(tmp_path / "t")
    IcebergLike(root).write(_wave(spark, 0, 100), run_id="a")
    gate = threading.Barrier(2, timeout=180)

    class Gated(IcebergLike):
        def _publish_snapshot(self, snap, rebase=None):
            gate.wait()  # both deleters reach publish with the same id
            return super()._publish_snapshot(snap, rebase)

    out, errs = {}, []

    def go(name, key):
        try:
            out[name] = Gated(root).delete_rows(
                spark.createDataFrame([(key,)], "doc_id long"),
                ["doc_id"], run_id=name)
        except Exception as e:  # surface thread failures in asserts
            errs.append((name, e))

    th = [threading.Thread(target=go, args=("da", 7)),
          threading.Thread(target=go, args=("db", 13))]
    for x in th:
        x.start()
    for x in th:
        x.join()
    assert not errs
    assert {out["da"]["snapshot_id"], out["db"]["snapshot_id"]} == {1, 2}
    t = IcebergLike(root)
    for s in (out["da"], out["db"]):
        assert os.path.exists(
            os.path.join(t.delete_dir, s["delete_file"]))
    ids = _ids(t.read(spark))
    assert 7 not in ids and 13 not in ids
    assert len(ids) == 98


# ---- rollback -------------------------------------------------------


def test_rollback_restores_prior_state(spark, tmp_path):
    from textract_demo_spark.engine.tables import IcebergLike

    t = IcebergLike(str(tmp_path / "t"))
    t.write(_wave(spark, 0, 100), stat_cols=["doc_id"])
    s1 = t.write(_wave(spark, 100, 150), append=True,
                 stat_cols=["doc_id"])
    t.write(_wave(spark, 150, 200, bucket_offset=4))
    t.delete_rows(spark.createDataFrame([(10,)], "doc_id long"),
                  ["doc_id"])
    assert _ids(t.read(spark)) == [i for i in range(200) if i != 10]
    res = t.rollback(spark, s1["snapshot_id"])
    assert res["dropped_partitions"] == [4, 5, 6, 7]
    assert _ids(t.read(spark)) == list(range(150))
    assert t._live_deletes()[0] == []  # the takedown was undone
    # the table keeps working after the rollback
    t.write(_wave(spark, 200, 220, bucket_offset=8))
    assert _ids(t.read(spark)) == (list(range(150))
                                   + list(range(200, 220)))


def test_rollback_strips_appends_and_recomputes_stats(spark, tmp_path):
    from textract_demo_spark.engine.tables import IcebergLike

    t = IcebergLike(str(tmp_path / "t"))
    s0 = t.write(_wave(spark, 0, 100), stat_cols=["doc_id"])
    t.write(_wave(spark, 100, 150), append=True, stat_cols=["doc_id"])
    res = t.rollback(spark, s0["snapshot_id"])
    assert res["stripped_partitions"] == sorted(t.committed_keys())
    assert _ids(t.read(spark)) == list(range(100))
    ks = sorted(t.committed_keys())
    assert sum(t.manifest(k)["metrics"]["rows"] for k in ks) == 100
    assert max(t.manifest(k)["col_stats"]["doc_id"]["max"]
               for k in ks) == 99
    # time travel at-or-before the target still works
    assert _ids(t.read(spark, snapshot_id=s0["snapshot_id"])) == \
        list(range(100))


def test_rollback_refuses_crossing_compaction(spark, table):
    s0 = table.snapshots()[-1]["snapshot_id"]
    table.write(_wave(spark, 100, 130), append=True)
    table.compact(spark)
    with pytest.raises(ValueError, match="physical-rewrite"):
        table.rollback(spark, s0)


def test_zorder_sampled_boundaries_stay_balanced(spark, tmp_path):
    """The 100-TB mode: boundary estimation from a seeded sample.
    Bucket balance degrades only statistically — assert no bucket
    exceeds 3x the ideal share at a 25% sample."""
    from collections import Counter

    from textract_demo_spark.engine.tables import zorder_part_key

    df = _xy(spark, n=2048)
    keys = [r[PART_COL] for r in
            zorder_part_key(df, ["x", "y"], 8,
                            sample_fraction=0.25).collect()]
    sizes = Counter(keys)
    assert max(sizes.values()) <= 3 * (2048 // 8)
    # and the assignment is still total: every row got a bucket
    assert sum(sizes.values()) == 2048


# ---- tags -----------------------------------------------------------


def test_tags_resolve_and_survive_expiry(spark, table):
    s0 = table.snapshots()[-1]["snapshot_id"]
    table.tag("v1")  # defaults to newest
    for i in range(12):  # push history past the expiry horizon
        table.write(_wave(spark, 100 + i, 101 + i, bucket_offset=4),
                    append=(i > 0))
    rep = table.expire_snapshots(keep_last=3)
    assert s0 not in rep["expired"]  # tagged: retained
    assert rep["expired"]  # untagged old snapshots did expire
    # read-by-tag == time travel to the tagged snapshot
    assert _ids(table.read(spark, tag="v1")) == list(range(100))
    assert table.tags() == {"v1": s0}
    table.drop_tag("v1")
    with pytest.raises(ValueError, match="no tag"):
        table.read(spark, tag="v1")


def test_tag_validation(spark, table):
    with pytest.raises(ValueError, match="bad tag name"):
        table.tag("no/slashes")
    with pytest.raises(ValueError, match="no snapshot 99"):
        table.tag("x", 99)
    table.tag("ok")
    with pytest.raises(ValueError, match="at most one"):
        table.read(spark, snapshot_id=0, tag="ok")


def test_write_audit_publish_pattern(spark, table):
    """WAP composition: commit a wave, AUDIT the appended rows with
    the declarative DQ pass (incremental read — audit cost is
    O(wave), never O(table)), and roll the wave back when the audit
    fails; tag the snapshot when it passes. The primitives compose
    into Iceberg's write-audit-publish flow without any new
    machinery."""
    from pyspark.sql import functions as F

    from textract_demo_spark.datapipe.dq import validate_constraints

    good = table.snapshots()[-1]["snapshot_id"]
    # bad wave: doc_id collides with committed rows (uniqueness audit)
    table.write(_wave(spark, 50, 80, bucket_offset=4))
    wave = table.read_incremental(spark, good)
    audit = validate_constraints(
        table.read(spark), [{"kind": "unique", "col": "doc_id"}])
    assert audit.filter(~F.col("passed")).count() == 1
    table.rollback(spark, good)
    assert _ids(table.read(spark)) == list(range(100))
    # good wave: disjoint ids -> audit passes -> publish via tag
    table.write(_wave(spark, 100, 130, bucket_offset=4))
    audit2 = validate_constraints(
        table.read(spark), [{"kind": "unique", "col": "doc_id"}])
    assert audit2.filter(~F.col("passed")).count() == 0
    table.tag("published")
    assert _ids(table.read(spark, tag="published")) == list(range(130))
    assert wave is not None  # incremental handle stayed usable


def test_read_where_conjunctive_multi_dim_pruning(spark, tmp_path):
    """The query shape z-order exists for: a range on BOTH dimensions
    prunes multiplicatively on a z-ordered layout (each predicate
    skips any partition whose stats miss it), and the surviving rows
    equal a plain two-predicate filter."""
    from textract_demo_spark.engine.tables import zorder_part_key

    df = _xy(spark)
    t = IcebergLike(str(tmp_path / "z"))
    t.write(zorder_part_key(df, ["x", "y"], 16, rel_err=0.0),
            stat_cols=["x", "y"])
    out, rep = t.read_where(
        spark, preds={"x": (0, 127), "y": (100, 199)})
    exp = df.filter(F.col("x").between(0, 127)
                    & F.col("y").between(100, 199))
    assert sorted(r.x for r in out.collect()) == sorted(
        r.x for r in exp.collect())
    single_x = len(t.read_where(spark, "x", 0, 127)[1]
                   ["partitions_pruned"])
    single_y = len(t.read_where(spark, "y", 100, 199)[1]
                   ["partitions_pruned"])
    both = len(rep["partitions_pruned"])
    assert both >= max(single_x, single_y)
    assert both > min(single_x, single_y)  # the second dim helped
    with pytest.raises(ValueError, match="not both"):
        t.read_where(spark, "x", 0, 1, preds={"y": (0, 1)})


def test_meta_tags_view(spark, table):
    assert table.meta_tags(spark).count() == 0
    table.tag("a")
    table.write(_wave(spark, 100, 110, bucket_offset=4))
    table.tag("b")
    rows = {r.name: r.snapshot_id
            for r in table.meta_tags(spark).collect()}
    assert rows == table.tags() == {"a": 0, "b": 1}


def test_compaction_preserves_zorder_pruning(spark, tmp_path):
    """Maintenance must not break clustering metadata: after append
    waves and a compaction rewrite, the manifests still carry the
    z-order column stats and read_where prunes exactly as before."""
    from textract_demo_spark.engine.tables import zorder_part_key

    df = _xy(spark)
    t = IcebergLike(str(tmp_path / "z"))
    t.write(zorder_part_key(df, ["x", "y"], 8, rel_err=0.0),
            stat_cols=["x", "y"])
    # append a slice into the same layout (small files accrete)
    extra = _xy(spark).filter(F.col("x") < 64)
    t.write(zorder_part_key(df, ["x", "y"], 8, rel_err=0.0)
            .join(extra.select("x"), "x", "semi"),
            append=True, stat_cols=["x", "y"])
    before = t.read_where(spark, preds={"x": (0, 63),
                                        "y": (100, 199)})[1]
    snap = t.compact(spark, min_files=2)
    assert snap["compacted_keys"]
    after_df, after = t.read_where(spark, preds={"x": (0, 63),
                                                 "y": (100, 199)})
    assert after["partitions_pruned"] == before["partitions_pruned"]
    exp = df.filter(F.col("x").between(0, 63)
                    & F.col("y").between(100, 199))
    # appended duplicates of the x<64 slice are still there (2 copies)
    assert after_df.count() == 2 * exp.count()


def test_read_where_composes_with_time_travel(spark, tmp_path):
    """Pruned scan scoped to a tagged snapshot: the pruned, scoped
    result equals the plain time-travel read under the same residual
    filter — stale (widened) stats may keep extra partitions but
    never change rows."""
    t = IcebergLike(str(tmp_path / "t"))
    # range-partitioned so stats prune crisply
    df1 = (spark.range(0, 400)
           .select(F.concat(F.lit("c"), F.col("id").cast("string"))
                   .alias("conv_id"),
                   F.col("id").cast("long").alias("doc_id"))
           .withColumn(PART_COL, (F.col("doc_id") / 100).cast("int")))
    t.write(df1, stat_cols=["doc_id"])
    t.tag("v1")
    # post-tag churn: delete some v1 rows, append into partition 1
    t.delete_rows(spark.createDataFrame([(150,), (155,)],
                                        "doc_id long"), ["doc_id"])
    late = (spark.range(1000, 1020)
            .select(F.concat(F.lit("x"), F.col("id").cast("string"))
                    .alias("conv_id"),
                    F.col("id").cast("long").alias("doc_id"))
            .withColumn(PART_COL, F.lit(1).cast("int")))
    t.write(late, append=True, stat_cols=["doc_id"])
    # latest pruned read: delete applied, late rows in range excluded
    now, rep_now = t.read_where(spark, "doc_id", lo=100, hi=199)
    assert _ids(now) == [i for i in range(100, 200)
                         if i not in (150, 155)]
    # tagged pruned read: pre-delete, pre-append state
    v1, rep_v1 = t.read_where(spark, "doc_id", lo=100, hi=199,
                              tag="v1")
    assert _ids(v1) == list(range(100, 200))
    assert rep_v1["partitions_pruned"]  # pruning still effective
    # equivalent to plain time travel + filter
    assert _ids(v1) == _ids(t.read(spark, tag="v1").filter(
        F.col("doc_id").between(100, 199)))
    with pytest.raises(ValueError, match="not both"):
        t.read_where(spark, "doc_id", 0, 1, snapshot_id=0, tag="v1")


# ---- ADVICE round-4 regressions: stats staleness + sweep liveness ---


def test_append_without_stats_drops_stale_range(spark, tmp_path):
    """ADVICE r4 (high): an append that passes no stat_cols — exactly
    what upsert()/CDC do — must INVALIDATE the partition's recorded
    range, not keep it. A kept stale range would let read_where
    silently prune the appended rows."""
    t = IcebergLike(str(tmp_path / "t"))
    df = (spark.range(0, 200)
          .select(F.concat(F.lit("c"), F.col("id").cast("string"))
                  .alias("conv_id"),
                  F.col("id").cast("long").alias("doc_id"))
          .withColumn(PART_COL, (F.col("doc_id") / 100).cast("int")))
    t.write(df, stat_cols=["doc_id"])
    # append rows OUTSIDE the recorded ranges, with no stats
    extra = (spark.createDataFrame([(900,), (901,)], "doc_id long")
             .select(F.lit("cx").alias("conv_id"), "doc_id")
             .withColumn(PART_COL, F.lit(0).cast("int")))
    t.write(extra, append=True)
    # the stale [0, 99] range for bucket 0 is gone -> conservative keep
    assert "doc_id" not in (t.manifest(0).get("col_stats") or {})
    out, rep = t.read_where(spark, "doc_id", lo=900, hi=901)
    assert _ids(out) == [900, 901]
    assert 0 in rep["partitions_kept"]
    # bucket 1 kept its tight stats and still prunes
    assert 1 in rep["partitions_pruned"]


def test_append_with_stats_widens_range(spark, tmp_path):
    """The both-sides-tracked path still widens (never drops)."""
    t = IcebergLike(str(tmp_path / "t"))
    df = (spark.range(0, 100)
          .select(F.concat(F.lit("c"), F.col("id").cast("string"))
                  .alias("conv_id"),
                  F.col("id").cast("long").alias("doc_id"))
          .withColumn(PART_COL, F.lit(0).cast("int")))
    t.write(df, stat_cols=["doc_id"])
    extra = (spark.createDataFrame([(900,)], "doc_id long")
             .select(F.lit("cx").alias("conv_id"), "doc_id")
             .withColumn(PART_COL, F.lit(0).cast("int")))
    t.write(extra, append=True, stat_cols=["doc_id"])
    st = t.manifest(0)["col_stats"]["doc_id"]
    assert st["min"] == 0 and st["max"] == 900


def test_live_staging_survives_concurrent_write(spark, tmp_path):
    """ADVICE r4: write() must not rm -rf a concurrent live writer's
    in-progress staging dir; only dirs older than the liveness
    threshold are swept."""
    import os

    t = IcebergLike(str(tmp_path / "t"))
    live = os.path.join(t.staging_dir, "run-live")
    os.makedirs(os.path.join(live, f"{PART_COL}=0"))
    with open(os.path.join(live, f"{PART_COL}=0", "x.parquet"),
              "wb") as fh:
        fh.write(b"in-progress")
    dead = os.path.join(t.staging_dir, "run-dead")
    os.makedirs(dead)
    old = os.path.getmtime(dead) - 100_000
    os.utime(dead, (old, old))
    t.write(_wave(spark, 0, 50))
    assert os.path.exists(live)      # young: possibly a live writer
    assert not os.path.exists(dead)  # aged out: reclaimed


# ---- position deletes (the other Iceberg-v2 delete flavor) -----------


def test_position_delete_merge_on_read(spark, table):
    files0 = {k: (table.manifest(k) or {}).get("files")
              for k in table.committed_keys()}
    snap = table.delete_where(spark, "doc_id % 10 = 3")
    assert snap["op"] == "pos_delete" and snap["n_delete_rows"] == 10
    # merge-on-read: no data file touched, raw read still full
    assert {k: (table.manifest(k) or {}).get("files")
            for k in table.committed_keys()} == files0
    assert _ids(table.read(spark)) == [
        i for i in range(100) if i % 10 != 3]
    assert len(_ids(table.read(spark, apply_deletes=False))) == 100


def test_position_delete_stores_coordinates_not_values(spark, table):
    """The privacy property that motivates the flavor: the tombstone
    file holds (partition, file, ordinal) — the purged VALUES never
    persist (an equality delete's file IS the key values)."""
    snap = table.delete_where(spark, F.col("doc_id") < 5)
    d = spark.read.parquet(
        os.path.join(table.delete_dir, snap["delete_file"]))
    assert sorted(d.columns) == sorted([PART_COL, "_fname", "_pos"])
    assert d.count() == 5


def test_position_delete_time_travel(spark, table):
    pre = table.snapshots()[-1]["snapshot_id"]
    table.delete_where(spark, "doc_id = 7")
    assert 7 not in _ids(table.read(spark))
    assert 7 in _ids(table.read(spark, snapshot_id=pre))


def test_position_delete_spares_later_appends(spark, table):
    """A position delete names concrete pre-existing files; rows
    appended later survive even when they match the predicate."""
    table.delete_where(spark, "doc_id % 10 = 3")
    table.write(_wave(spark, 100, 150), append=True)
    ids = _ids(table.read(spark))
    assert 103 in ids and 113 in ids  # appended matches survive
    assert 3 not in ids and 93 not in ids
    # a SECOND delete now reaches the mixed-age files
    table.delete_where(spark, "doc_id >= 140")
    ids = _ids(table.read(spark))
    assert ids == [i for i in range(140)
                   if not (i < 100 and i % 10 == 3)]


def test_position_delete_already_dead_rows_not_rerecorded(spark, table):
    s1 = table.delete_where(spark, "doc_id < 10")
    s2 = table.delete_where(spark, "doc_id < 10")
    assert s1["n_delete_rows"] == 10 and s2["n_delete_rows"] == 0
    table.delete_rows(spark.createDataFrame([(20,)], "doc_id long"),
                      ["doc_id"])
    s3 = table.delete_where(spark, "doc_id = 20")  # eq-dead already
    assert s3["n_delete_rows"] == 0


def test_position_delete_stacks_with_equality(spark, table):
    table.delete_where(spark, "doc_id % 10 = 3")
    table.delete_rows(spark.createDataFrame(
        [(4,), (14,)], "doc_id long"), ["doc_id"])
    ids = _ids(table.read(spark))
    assert ids == [i for i in range(100)
                   if i % 10 != 3 and i not in (4, 14)]


def test_position_delete_incremental_and_changes(spark, table):
    pre = table.snapshots()[-1]["snapshot_id"]
    table.delete_where(spark, "doc_id % 10 = 3")
    table.write(_wave(spark, 100, 140), append=True)
    table.delete_where(spark, "doc_id >= 130")
    inc = table.read_incremental(spark, pre)
    assert _ids(inc) == list(range(100, 130))  # window net of deletes
    ch = table.read_changes(spark, pre)
    dels = _ids(ch.filter("_change_type = 'delete'"))
    assert dels == [i for i in range(100) if i % 10 == 3]
    ins = _ids(ch.filter("_change_type = 'insert'"))
    assert ins == list(range(100, 130))


def test_compact_skips_pos_delete_partitions(spark, table):
    table.write(_wave(spark, 100, 150), append=True)  # 2+ files/part
    table.delete_where(spark, "doc_id = 7")
    c = table.compact(spark)
    hit = {int(r[0]) for r in spark.read.parquet(os.path.join(
        table.delete_dir, table._live_deletes()[1][0]
        ["delete_file"])).select(PART_COL).collect()}
    assert set(c["skipped_pos_delete"]) >= hit
    assert not (set(c["compacted_keys"]) & hit)
    # rows intact either way
    assert len(_ids(table.read(spark))) == 149
    # materialize folds the tombstones; compaction then proceeds
    m = table.materialize_deletes(spark)
    assert table._live_deletes()[1] == []
    c2 = table.compact(spark)
    assert c2["skipped_pos_delete"] == []
    assert len(_ids(table.read(spark))) == 149


def test_rollback_drops_position_deletes(spark, table):
    pre = table.snapshots()[-1]["snapshot_id"]
    table.delete_where(spark, "doc_id < 50")
    assert len(_ids(table.read(spark))) == 50
    table.rollback(spark, pre)
    assert len(_ids(table.read(spark))) == 100
    assert os.listdir(table.delete_dir) == []


def test_expire_retains_live_position_deletes(spark, table):
    table.delete_where(spark, "doc_id = 1")
    pos_sid = table.snapshots()[-1]["snapshot_id"]
    for i in range(12):
        table.write(_wave(spark, 200 + i * 10, 210 + i * 10),
                    append=True)
    table.expire_snapshots(keep_last=3)
    assert pos_sid in {s["snapshot_id"] for s in table.snapshots()}
    assert 1 not in _ids(table.read(spark))


def test_position_delete_column_predicate(spark, table):
    snap = table.delete_where(spark, F.col("v") == 0)
    expect = [i for i in range(100) if i % 7 != 0]
    assert _ids(table.read(spark)) == expect
    assert snap["n_delete_rows"] == 100 - len(expect)
