"""IcebergLike table layer: partitioned parquet + JSON manifest
commits with atomic rename — checkpointed per partition with lineage
manifests and per-partition extraction metrics, resumable from the
last committed snapshot (north rule, BASELINE.json:6,14).

Why not real Iceberg: no Iceberg runtime jar is available offline in
this sandbox (SURVEY.md §1.5). This layer reproduces the properties
the north rule actually uses — per-partition atomic commits, snapshot
manifests, resume-skips-committed — behind a thin seam; on a
networked cluster swap in
``--packages org.apache.iceberg:iceberg-spark-runtime`` and
``df.writeTo(table).append()``.

The reference analog: each pipeline stage persists its artifact to a
deterministic S3 key ({prefix}/{srckey}.textract.json,
fn-call-textract/main.py:42-46,98-107) and the draft async design
uses an idempotent ClientRequestToken (main.py:73-75) — deterministic
partition paths + manifest-gated renames are the same idempotency
idea, done per partition instead of per document.

Layout:
    {root}/data/part_key={k}/*.parquet     -- committed data
    {root}/_manifests/part-{k}.json        -- per-partition manifest
    {root}/_manifests/snapshot-{n}.json    -- table snapshot
    {root}/_staging/{run_id}/...           -- pre-commit scratch
    {root}/_deletes/delete-{n}.parquet     -- equality-delete files
    {root}/_deletes/posdelete-{n}.parquet  -- position-delete files

Iceberg-v2 parity pieces beyond the commit protocol:

- **Equality deletes (merge-on-read)**: ``delete_rows`` writes a
  delete FILE (the tuples to drop), never touches data. Sequence
  semantics match Iceberg: every data partition records the snapshot
  id it was committed under (``data_snapshot_id``), and a delete
  applies only to files sequenced STRICTLY BEFORE it — rows appended
  later with the same key survive. ``merge`` builds on exactly that
  rule to commit an atomic single-snapshot MERGE: its delete file and
  its new data files share one sequence number, so readers flip from
  old rows to new rows at a single publish. Reads apply deletes as a
  broadcast anti-join (delete sets are dimension-sized next to 100 TB
  of data); ``materialize_deletes`` is the ``rewrite_data_files``-
  style compaction that folds them in. This is the takedown/PII-purge
  path: deleting 10^4 documents from a 10^12-row corpus must not
  rewrite the corpus.
- **Position deletes (merge-on-read)**: ``delete_where`` is the
  OTHER Iceberg-v2 delete flavor — rows identified by (data file,
  row ordinal) instead of by key values, the form engines emit for
  predicate deletes where no natural key exists. Positions come from
  the parquet scan's ``_metadata.row_index`` hidden column (stable
  physical ordinals, JVM-side, split-safe), so recording AND
  re-applying them is a narrow projection plus a broadcast anti-join
  on (partition, file, pos). Sequence rule per the Iceberg spec: a
  position delete applies to files sequenced AT-OR-BEFORE it (>=,
  vs. equality's strictly-before) — it names concrete existing
  files, so it can never touch rows appended later. ``compact``
  refuses partitions referenced by a pending position delete
  (rewriting would rename the files out from under the tombstones —
  materialize first, the Iceberg rewrite ordering).
- **Incremental reads**: ``read_incremental(a, b)`` returns exactly
  the rows appended between two snapshots (committed partitions are
  immutable, so the diff of their committed-key sets IS the append
  set) — the Iceberg incremental-scan analog that lets downstream
  consumers process only what's new.
- **Scan pruning from manifest column stats**: ``write(...,
  stat_cols=[...])`` records per-partition min/max in the manifests;
  ``read_where`` prunes partitions whose range cannot match BEFORE
  Spark ever lists their files — at 10^5 partitions the planning-time
  skip is the difference between touching 10^5 directories and 10^1.
- **File-level skipping**: the same commits also record per-FILE
  min/max (read once from the parquet footers at promote time — the
  Iceberg data-file stats analog), and ``read_where`` prunes
  individual files WITHIN kept partitions. Unlike partition stats,
  file stats are attached to immutable objects, so they never widen,
  never go stale, and stay exact inside mixed-age partitions where
  appends forced the partition-level range open (the case that
  matters for an append-heavy ingest at 10^12 rows: each append wave
  is skippable on its own bounds).
- **Bloom file skipping**: ``write(bloom_cols=)`` records a per-file
  bloom filter over each column's distinct values (the Iceberg
  puffin-blob analog, inlined in the manifest at <=1 KiB per
  file-column) and ``read_where`` point predicates drop files whose
  bloom definitely excludes the value — the interleaved-key lookup
  where every file's [min, max] straddles the probe and range stats
  keep everything. At 10^12 rows this is the "find one conversation
  by id" path: O(files) driver-side bit probes instead of a scan.
- **Z-order clustering**: ``zorder_part_key`` assigns partitions as
  contiguous Morton-curve ranges over several columns, so the
  manifest stats above are tight in EVERY clustered dimension and
  ``read_where`` prunes on any of them (the Delta OPTIMIZE ZORDER /
  Iceberg z-sort-order analog).
- **Optimistic concurrency**: snapshots publish via an atomic
  create-if-absent CAS (``_publish_snapshot``); a writer that loses
  the id race renumbers its manifests' sequence fields and retries
  serialized after the winner, and same-partition conflicts raise
  ``CommitConflictError`` (the Iceberg commit protocol /
  ValidationException analog). Disjoint-partition concurrent ingest —
  the case that matters with many writers — commits loss-free. Every
  snapshot, ``compact`` / ``materialize_deletes`` / ``rollback``
  included, publishes through that one CAS, so no race overwrites a
  snapshot.
- **Rollback**: ``rollback(spark, snapshot_id)`` undoes commits back
  to a snapshot at O(undone work) cost — drops later partitions,
  strips later appended files (recomputing only the touched
  manifests' stats), discards later delete files; refuses to cross a
  physical rewrite. Physical restore instead of Iceberg's pointer
  move, because reads here resolve from the manifest set. Rolling
  back to or before main's branch pin unpins main.
- **Tags**: ``tag(name)`` / ``read(tag=...)`` name a snapshot as a
  durable reproducibility handle; tagged snapshots survive
  ``expire_snapshots``, and ``rollback`` drops (and reports) tags
  whose state it removed.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

PART_COL = "part_key"


def _safe_name(s: str) -> str:
    """File-name-safe slug of a caller-supplied run id."""
    return re.sub(r"[^A-Za-z0-9._-]", "_", s)[:80]


def _parquet_files(dirpath: str) -> list[str]:
    return sorted(f for f in os.listdir(dirpath) if f.endswith(".parquet"))


class CommitConflictError(RuntimeError):
    """Two writers committed overlapping partitions concurrently (the
    Iceberg ValidationException analog): the loser's data cannot be
    serialized after the winner's, so the commit is refused."""

# promote/manifest I/O parallelism: renames and small JSON writes are
# GIL-releasing syscalls, so a thread pool turns the driver-side
# commit from O(partitions) sequential waits into parallel batches
# (the round-1 scale watch-item at 10^4-10^5 partitions)
PROMOTE_THREADS = 32
# Liveness thresholds for the two hygiene sweeps. Both sweeps exist
# only to reclaim disk after a KILLED run (correctness never depends
# on them: a crashed write re-stages idempotently under its own
# run_id, and unmanifested ``s*-`` append files are invisible to
# reads, which resolve file lists from the manifests). Age-gating
# them keeps a sweep from destroying a CONCURRENT live run's
# in-progress staging dir or an appender's just-renamed-but-not-yet-
# manifested files.
STAGING_SWEEP_MIN_AGE_SEC = 3600.0
ORPHAN_SWEEP_MIN_AGE_SEC = 300.0


_STAT_SAFE = (int, float, str)  # JSON-round-trippable, order-preserved


def _footer_stats(md, cols: list[str]) -> dict:
    """Per-file min/max for ``cols`` read from the parquet FOOTER
    ``md`` (a file's metadata, or its path) — the Iceberg data-file
    stats analog, collected once at commit time (a cluster deployment
    would have write tasks report these; here the committer reads
    footers, which costs O(files) metadata reads and zero data). A
    column is omitted (=> pruning keeps the file) unless every row
    group carries usable min/max of a JSON-safe, order-preserving
    scalar type: int/float/str. str is safe because parquet truncates
    string bounds conservatively (min down, max up) and UTF-8 byte
    order equals code-point order, which is Python's ``<``.
    Timestamps/bytes/bools are skipped — partition-level col_stats
    still cover them."""
    if isinstance(md, str):
        import pyarrow.parquet as pq
        md = pq.read_metadata(md)
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    out = {}
    for c in cols:
        i = idx.get(c)
        if i is None:
            continue
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            cmd = md.row_group(rg).column(i)
            st = cmd.statistics
            if st is None or not st.has_min_max:
                if st is not None and st.num_values == 0:
                    continue  # all-null group constrains nothing
                mins = None  # a group with values but no bounds:
                break        # no valid whole-file range
            mn, mx = st.min, st.max
            if type(mn) not in _STAT_SAFE or type(mx) not in _STAT_SAFE:
                mins = None
                break
            mins.append(mn)
            maxs.append(mx)
        if mins:  # None (unusable) and [] (all groups null) both skip
            out[c] = {"min": min(mins), "max": max(maxs)}
    return out


def _tracked_cols(per_file: dict | None) -> list[str]:
    """Columns a manifest's ``file_stats`` / ``file_blooms`` map
    covers (the union over its files)."""
    return sorted({c for v in (per_file or {}).values() for c in v})


def _file_meta(dirpath: str, names: list[str], stat_cols: list[str],
               bloom_cols: list[str]) -> tuple[dict, dict]:
    """``({file name: footer stats}, {file name: blooms})`` for the
    named files over ``stat_cols`` / ``bloom_cols``, opening each file
    once; files that yield nothing are left out (absent entry == keep
    on read)."""
    stats, blooms = {}, {}
    if not (stat_cols or bloom_cols):
        return stats, blooms
    import pyarrow.parquet as pq
    for f in names:
        try:
            pf = pq.ParquetFile(os.path.join(dirpath, f))
        except Exception:
            continue
        st = _footer_stats(pf.metadata, stat_cols)
        b = _file_bloom(pf, bloom_cols)
        if st:
            stats[f] = st
        if b:
            blooms[f] = b
    return stats, blooms


BLOOM_MAX_BITS = 1 << 13  # 1 KiB/file-column inline cap (see below)


def _bloom_params(ndv: int) -> tuple[int, int]:
    """Bits/hashes for ``ndv`` distinct keys: ~10 bits per key
    (fpp ~1%) rounded up to a power of two, capped at BLOOM_MAX_BITS
    so the bitmap inlines in the manifest JSON — a cluster deployment
    would store these as Iceberg puffin blobs; past the cap the fpp
    degrades gracefully (pruning keeps more files, never drops a
    match). k=6 is near-optimal across the whole 64..8192 range."""
    m = 64
    while m < 10 * ndv and m < BLOOM_MAX_BITS:
        m *= 2
    return m, 6


def _bloom_positions(value, m: int, k: int) -> list[int]:
    """Double-hashing bit positions for ``value``. Values hash by
    their canonical string form (int 5 and str "5" collide — safe:
    collisions only ADD bits / keep files, the false-positive
    direction). blake2b is keyed by nothing and build+probe are both
    driver-side Python, so no cross-engine hash contract is needed
    (unlike datapipe/bloom.py's xxhash64/md5 family)."""
    d = hashlib.blake2b(str(value).encode("utf-8"),
                        digest_size=16).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:], "little") | 1
    return [(h1 + i * h2) % m for i in range(k)]


def _file_bloom(pf, cols: list[str]) -> dict:
    """Per-file bloom filters over the DISTINCT values of ``cols`` in
    the open parquet file ``pf`` — the Iceberg puffin-blob analog for
    point-lookup file skipping, built once at commit time from a
    column-only read (footer stats answer range predicates; blooms
    answer ``col = v`` inside files whose [min, max] straddles v, the
    interleaved-key case range stats cannot touch). A column is
    recorded only when every value is int or str (bool/float/bytes/
    timestamp excluded: no canonical cross-type string form); absent
    entry == keep on read."""
    have = [c for c in cols if c in pf.schema_arrow.names]
    if not have:
        return {}
    try:
        import pyarrow.compute as pc
        tbl = pf.read(columns=have)
    except Exception:
        return {}
    out = {}
    for c in have:
        try:
            vals = [v for v in pc.unique(tbl.column(c)).to_pylist()
                    if v is not None]
        except Exception:
            continue
        if not vals or any(type(v) not in (int, str) for v in vals):
            continue
        m_bits, kh = _bloom_params(len(vals))
        bits = bytearray(m_bits // 8)
        for v in vals:
            for pos in _bloom_positions(v, m_bits, kh):
                bits[pos >> 3] |= 1 << (pos & 7)
        out[c] = {"m": m_bits, "k": kh, "hex": bytes(bits).hex()}
    return out


def _bloom_probe_value(value):
    """Normalize a point-predicate value for probing, or None when
    the bloom cannot answer it. Integral floats fold to int (probe
    5.0 must hit files holding int 5 — parquet int columns surface
    Python ints at build time); non-integral floats, bools and other
    types skip the probe (file kept, residual filter decides)."""
    if isinstance(value, bool) or type(value) not in (int, str, float):
        return None
    if isinstance(value, float):
        if not value.is_integer():
            return None
        return int(value)
    return value


def _bloom_maybe_contains(entry: dict, value) -> bool:
    bits = bytes.fromhex(entry["hex"])
    return all((bits[p >> 3] >> (p & 7)) & 1
               for p in _bloom_positions(value, entry["m"], entry["k"]))


def _stats_miss(stats: dict, preds: dict) -> bool:
    """True when some ``{col: (lo, hi)}`` range misses that column's
    recorded [min, max] in ``stats`` (a partition's ``col_stats`` or
    one file's ``file_stats`` entry). Missing or all-null stats never
    miss: pruning is an optimization, never a filter."""
    for c, (lo_, hi_) in preds.items():
        st = stats.get(c)
        if st is None or st["min"] is None:
            continue
        if ((lo_ is not None and st["max"] < lo_)
                or (hi_ is not None and st["min"] > hi_)):
            return True
    return False


def with_part_key(df: DataFrame, n_buckets: int,
                  col: str = "conv_id") -> DataFrame:
    """Deterministic partition key: bucket of conv_id (the Iceberg
    ``bucket(N, conv_id)`` transform analog)."""
    return df.withColumn(
        PART_COL, F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int"))


def _rank_in_bounds(value, bounds: list[float]):
    """Index of ``value`` in the sorted boundary list = number of
    boundaries <= value — a plan-time-literal binary-search substitute
    (O(len(bounds)) JVM fold per row, zero shuffle, no join). NULL
    ranks 0."""
    arr = F.array(*[F.lit(float(b)) for b in bounds])
    return F.aggregate(
        arr, F.lit(0),
        lambda acc, b: acc + F.when(value >= b, 1).otherwise(0))


def zorder_part_key(df: DataFrame, cols: list[str], n_buckets: int,
                    grid_bits: int = 8,
                    rel_err: float = 0.001,
                    sample_fraction: float | None = None) -> DataFrame:
    """Z-order clustering transform — the Iceberg
    ``sort_order(zorder(a, b))`` / Delta ``OPTIMIZE ZORDER BY``
    analog: assign ``PART_COL`` so each table partition covers one
    contiguous range of the Z-curve (Morton order) over ``cols``.
    Because the Z-curve preserves locality in EVERY dimension, the
    per-partition min/max recorded by ``write(stat_cols=cols)`` is
    tight for ALL the clustered columns at once, and ``read_where``
    can prune on any of them — a linear sort gives that for only its
    leading column.

    Scale shape: two single-pass mergeable quantile sketches
    (``approxQuantile`` — one multi-column call for the per-dimension
    grids, one for the Z-key split points) and otherwise pure narrow
    JVM expressions; the grid/split boundaries travel as plan-time
    literals (2^grid_bits + n_buckets doubles — KBs), so there is no
    extra shuffle and no join. Quantile-based grids (not
    uniform-width) keep the curve balanced under skew; quantile-based
    Z splits give near-equal partition row counts, so no straggler
    partitions at commit time.

    ``sample_fraction`` estimates BOTH boundary sets from a seeded
    sample instead of full scans — the Delta OPTIMIZE-style move when
    the input is 100 TB: boundary quality degrades only as
    O(1/sqrt(sample rows)) while the estimation passes shrink by the
    fraction, and the per-row assignment (the only full-data work)
    stays identical. Default None keeps the exact, bit-deterministic
    path; sampled boundaries are deterministic for a fixed input
    layout (fixed seed), which is looser than content-determinism —
    use the exact path when resume identity across relayouts matters.
    """
    if len(cols) < 2:
        raise ValueError("zorder needs >= 2 columns")
    if grid_bits * len(cols) > 62:
        raise ValueError("grid_bits * len(cols) must fit a long")
    est = (df.sample(fraction=sample_fraction, seed=42)
           if sample_fraction else df)
    n_grid = 1 << grid_bits
    probs = [i / n_grid for i in range(1, n_grid)]
    qs = est.stat.approxQuantile(cols, probs, rel_err)
    z = F.lit(0).cast("long")
    for j, (c, bounds) in enumerate(zip(cols, qs)):
        coord = _rank_in_bounds(
            F.col(c).cast("double"),
            sorted(set(bounds))).cast("long")
        for i in range(grid_bits):
            z = z.bitwiseOR(F.shiftleft(
                F.shiftright(coord, i).bitwiseAND(F.lit(1)),
                i * len(cols) + j))
    zprobs = [i / n_buckets for i in range(1, n_buckets)]
    zbounds = (est.withColumn("_zkey", z)
               .stat.approxQuantile("_zkey", zprobs, rel_err))
    return df.withColumn(
        PART_COL,
        _rank_in_bounds(z.cast("double"),
                        sorted(set(zbounds))).cast("int"))


class IcebergLike:
    def __init__(self, root: str):
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.manifest_dir = os.path.join(root, "_manifests")
        self.staging_dir = os.path.join(root, "_staging")
        self.delete_dir = os.path.join(root, "_deletes")
        self.spec_path = os.path.join(root, "spec.json")
        for d in (self.data_dir, self.manifest_dir, self.staging_dir,
                  self.delete_dir):
            os.makedirs(d, exist_ok=True)
        self._branch_writer: str | None = None
        self._recover_compaction()
        self._recover_appends()

    def _recover_compaction(self) -> None:
        """Repair a compaction killed between its two renames.

        ``compact`` swaps a partition dir via rename(dst -> dst.old-*)
        then rename(staged -> dst); a kill between them leaves the
        partition present only as ``.old``. Opening the table restores
        it (the compaction is simply redone later — idempotent). A
        leftover ``.old`` WITH a live dst means the kill happened
        after the swap completed: the old files are garbage, drop
        them. Runs before any read so the ``part_key=*`` glob never
        sees ``.old`` dirs."""
        for d in os.listdir(self.data_dir):
            if ".old-" not in d:
                continue
            src = os.path.join(self.data_dir, d)
            dst = os.path.join(self.data_dir, d.split(".old-", 1)[0])
            if os.path.exists(dst):
                shutil.rmtree(src)
            else:
                os.rename(src, dst)

    # -- manifest bookkeeping ------------------------------------------------

    def _part_dir(self, k: int) -> str:
        return os.path.join(self.data_dir, f"{PART_COL}={k}")

    def _manifest_path(self, k: int) -> str:
        return os.path.join(self.manifest_dir, f"part-{k:05d}.json")

    def _snapshot_path(self, sid: int) -> str:
        return os.path.join(self.manifest_dir, f"snapshot-{sid:05d}.json")

    def _ref_path(self, name: str, kind: str = "branch") -> str:
        return os.path.join(self.manifest_dir, f"{kind}-{name}.json")

    def _set_ref(self, name: str, snapshot_id: int,
                 kind: str = "branch") -> dict:
        obj = {"name": name, "snapshot_id": snapshot_id,
               "created_at": time.time()}
        self._write_json_atomic(self._ref_path(name, kind), obj)
        return obj

    def _refs(self, kind: str) -> list[dict]:
        """Every ``kind`` ("tag" or "branch", main's pin included) ref
        record, in name order."""
        out = []
        for f in sorted(os.listdir(self.manifest_dir)):
            if f.startswith(f"{kind}-") and f.endswith(".json"):
                with open(os.path.join(self.manifest_dir, f)) as fh:
                    out.append(json.load(fh))
        return out

    def _write_manifest(self, k: int, m: dict) -> None:
        self._write_json_atomic(self._manifest_path(k), m)

    @staticmethod
    def _file_seq(m: dict, f: str) -> int:
        """Sequence number of file ``f`` in manifest ``m``: its
        ``file_seq`` entry, else (files predating the field) the
        partition's ``data_snapshot_id``, else 0 (oldest: every
        delete applies)."""
        fseq = m.get("file_seq") or {}
        return int(fseq.get(f, m.get("data_snapshot_id", 0)))

    def committed_keys(self) -> set[int]:
        out = set()
        for f in os.listdir(self.manifest_dir):
            if f.startswith("part-") and f.endswith(".json"):
                out.add(int(f[5:-5]))
        return out

    def uncommitted(self, df: DataFrame,
                    committed: set[int] | None = None) -> DataFrame:
        """Rows of ``df`` (keyed by ``part_key``) whose partition is not
        committed yet — the resume predicate. ``write`` guards with it;
        a job whose key derives from its input (``with_part_key`` over
        conv_id) also applies it to that input, so a resume never
        extracts turns it will not commit."""
        if committed is None:
            committed = self.committed_keys()
        if not committed:
            return df
        return df.filter(
            ~F.col(PART_COL).isin(sorted(int(k) for k in committed)))

    def manifest(self, part_key: int) -> dict | None:
        p = self._manifest_path(part_key)
        if not os.path.exists(p):
            return None
        with open(p) as fh:
            return json.load(fh)

    def snapshots(self) -> list[dict]:
        out = []
        for f in sorted(os.listdir(self.manifest_dir)):
            if f.startswith("snapshot-"):
                with open(os.path.join(self.manifest_dir, f)) as fh:
                    out.append(json.load(fh))
        return out

    def _snapshot(self, snapshot_id: int | None) -> dict | None:
        """The snapshot whose embedded id is ``snapshot_id`` (never a
        list position); ``None`` asks for the newest, which is None
        on a table with no snapshots."""
        snaps = self.snapshots()
        if snapshot_id is None:
            return snaps[-1] if snaps else None
        for s in snaps:
            if s["snapshot_id"] == snapshot_id:
                return s
        have = sorted(s["snapshot_id"] for s in snaps)
        raise ValueError(f"no snapshot with snapshot_id={snapshot_id};"
                         f" have {have}")

    def _latest_id(self) -> int | None:
        return (self._snapshot(None) or {}).get("snapshot_id")

    def _write_json_atomic(self, path: str, obj: dict) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(obj, fh, indent=1, sort_keys=True, default=str)
        os.replace(tmp, path)  # atomic on POSIX

    # -- commit protocol -----------------------------------------------------

    def _next_snapshot_id(self) -> int:
        return (max((s.get("snapshot_id", -1) for s in self.snapshots()),
                    default=-1) + 1)

    def _publish_snapshot(self, snap: dict, rebase=None) -> dict:
        """Publish a snapshot with optimistic concurrency — the
        Iceberg commit protocol, and the ONLY code that writes a
        snapshot file: create-if-absent (``os.link`` is an atomic
        fail-if-exists on POSIX; ``os.replace`` would silently
        overwrite a concurrent winner's snapshot), and on conflict
        re-derive the next id, let ``rebase(snap, new_id)`` rewrite
        whatever embeds the old id (default ``_rebased``; writers
        whose partition manifests record the id renumber them too),
        and retry. Two writers racing the same table thus both land,
        serialized, under distinct snapshot ids — no metadata is
        lost."""
        while True:
            path = self._snapshot_path(snap["snapshot_id"])
            tmp = f"{path}.tmp-{os.getpid()}-{threading.get_ident()}"
            with open(tmp, "w") as fh:
                json.dump(snap, fh, indent=1, sort_keys=True,
                          default=str)
            try:
                os.link(tmp, path)
            except FileExistsError:
                os.remove(tmp)
                snap = (rebase or self._rebased)(
                    snap, self._next_snapshot_id())
                continue
            os.remove(tmp)
            return snap

    def _rebased(self, snap: dict, new_id: int) -> dict:
        """Lost the snapshot id race: serialize after the winner under
        ``new_id``, with the partition set as of the retry. A delete
        file keeps its run-unique name (renaming it could move a path
        the winner's published snapshot references), and a position
        delete stays exact — it names files that existed at scan
        time, so the winner's new files are untouched."""
        return {**snap, "snapshot_id": new_id,
                "committed_keys": sorted(self.committed_keys()),
                "rebased_from": snap["snapshot_id"]}

    def _renumber_manifests(self, keys, old: int, new: int) -> None:
        """Rewrite the sequence fields that the manifests of ``keys``
        recorded under the lost snapshot id ``old`` to ``new``."""
        for k in sorted(keys):
            m = self.manifest(k)
            if m is None:
                continue
            if m.get("data_snapshot_id") == old:
                m["data_snapshot_id"] = new
            m["file_seq"] = {f: (new if int(s_) == old else s_)
                             for f, s_ in (m.get("file_seq") or {}).items()}
            for a in m.get("appends", []):
                if a.get("snapshot_id") == old:
                    a["snapshot_id"] = new
            self._write_manifest(k, m)

    def _check_main_writable(self) -> None:
        """Diverged-main guard, called by every main-lineage mutator
        before its first side effect: while a branch is ahead of the
        pinned main, a main commit would land files sequenced INTO
        the branch's lineage (the linear store has one sequence), and
        a compaction would take the branch's sequence numbers and
        vanish from main reads — refuse instead of silently merging
        histories. Branch commits and ``rollback`` (the abandon
        path) are exempt."""
        pin = self._main_pin() if self._branch_writer is None else None
        if pin is None:
            return
        latest = self._latest_id()
        if latest is not None and latest > pin:
            raise ValueError(
                f"main is pinned at {pin} behind branch commits"
                f" (latest {latest}); fast_forward or drop the branch"
                " before writing main")

    def partition_spec(self):
        """The table's hidden-partitioning spec (list of
        PartitionField) or None for ad-hoc PART_COL layouts."""
        if not os.path.exists(self.spec_path):
            return None
        from .partition_spec import spec_from_json
        with open(self.spec_path) as f:
            return spec_from_json(json.load(f))

    def _bind_spec(self, df: DataFrame, spec) -> DataFrame:
        """Resolve + persist the hidden-partitioning spec and key the
        DataFrame with it. First spec-keyed write pins the spec;
        later writes must pass an identical spec (partition-spec
        EVOLUTION is intentionally unsupported here — Iceberg handles
        it by tracking a spec_id per data file; this layer derives
        key arithmetic from one table-wide spec, so a silent spec
        change would make old keys prune wrongly. Evolving = new
        table + backfill)."""
        from .partition_spec import spec_part_key, spec_to_json
        df, resolved = spec_part_key(df, spec)
        new_json = spec_to_json(resolved)
        prior = self.partition_spec()
        if prior is None:
            self._write_json_atomic(self.spec_path, new_json)
        elif spec_to_json(prior) != new_json:
            raise ValueError(
                f"partition spec mismatch: table has"
                f" {spec_to_json(prior)}, write passed {new_json}")
        return df

    def write(self, df: DataFrame, metrics_fn=None, run_id: str | None = None,
              input_fingerprint: str = "", fail_after: int | None = None,
              rebalance: bool = True,
              stat_cols: list[str] | None = None,
              bloom_cols: list[str] | None = None,
              append: bool = False,
              snapshot_extra: dict | None = None,
              partition_spec=None) -> dict:
        """Commit all not-yet-committed partitions of ``df`` (must
        carry PART_COL).

        One Spark job writes every pending partition to staging
        (partitionBy), then each partition is promoted by an atomic
        directory rename followed by its manifest write — a kill
        between promotions loses nothing: committed partitions stay,
        staging is recomputed idempotently on the next run, and
        already-committed partitions are filtered out BEFORE the job
        (the resume anti-join). ``fail_after=N`` injects a crash: the
        first N staged keys in sorted order are promoted, then the
        write raises (used by the kill/resume test).

        ``rebalance`` inserts an AQE REBALANCE(part_key) exchange
        before the partitionBy write. Without it every upstream task
        writes one file into every bucket it touches — tasks x buckets
        files, which anti-scales with parallelism (measured: the
        commit phase lost ~0.2 efficiency 4->32 cores from file-open
        overhead alone) and explodes at cluster scale (10^4 tasks x
        10^5 buckets). With it, each output task holds whole buckets
        (file count ~= bucket count, independent of parallelism) and
        AQE splits oversized buckets so a hot bucket doesn't become a
        straggler. A caller that already rebalanced its input on the
        same key, ahead of narrow work that recomputes it (the extract
        job, ``jobs/run_extract.py commit_frame``), passes False so the
        rows are not shuffled a second time.

        ``metrics_fn(staged)`` returns named aggregate Columns (e.g.
        ``metrics.partition_metrics``) and ``stat_cols`` names columns
        whose per-partition min/max go into the manifests (the Iceberg
        data-file stats analog) for ``read_where`` scan pruning; the
        row count, both of those and the bounds are ONE
        ``groupBy(part_key)`` aggregate over the staged files
        (``_partition_aggregates``), so stats cost no extra pass.

        ``bloom_cols`` names int/str columns that additionally get a
        per-FILE bloom filter over their distinct values (the Iceberg
        puffin-blob analog, inlined in the manifest capped at 1 KiB
        per file-column): ``read_where`` point predicates (lo == hi)
        then skip files whose bloom definitely excludes the value —
        the interleaved-key case where every file's [min, max]
        straddles the probe and range stats keep everything.

        ``partition_spec`` keys the DataFrame via hidden-partitioning
        transforms (partition_spec.py: days/hours/months/truncate +
        xxhash64 buckets) and pins the spec in the table's spec.json;
        ``read_where`` then prunes partitions for predicates on the
        spec's SOURCE columns by key arithmetic alone — planning-time
        skipping with no column stats collected.

        ``append=True`` adds rows to partitions that ALREADY exist
        (the Iceberg append-files-to-partition mode; the default
        keeps the resume contract where an existing partition means
        "this input is already committed" and is skipped). Appended
        files land under collision-free ``s{snap}-`` names and carry
        their OWN sequence number in the manifest's ``file_seq`` map
        — per-FILE sequencing, exactly Iceberg's model — so equality
        deletes scope correctly inside a mixed-age partition. A kill
        mid-append leaves only unmanifested ``s*-`` files — invisible
        to reads (file lists resolve from manifests) and reclaimed by
        the age-gated ``_recover_appends`` sweep or an explicit
        ``recover_orphans()`` (manifested appends are durable; the
        crashed run re-stages idempotently).
        """
        self._check_main_writable()
        if partition_spec is not None:
            df = self._bind_spec(df, partition_spec)
        committed = self.committed_keys()
        run_id = run_id or f"run-{int(time.time() * 1000)}"
        if append:
            # replay idempotence: a crashed earlier attempt of THIS
            # run_id may have manifested appends whose snapshot never
            # published — strip them so the rerun lands exactly once.
            # (Callers must not share a run_id across LIVE runs.)
            self._strip_run_appends(run_id)
        # the snapshot id this commit WILL append — computed up front
        # so partition manifests can record it (data_snapshot_id: the
        # Iceberg data-sequence-number analog that scopes equality
        # deletes to data committed at-or-before them). A crashed run
        # re-derives the same id (no snapshot file was appended).
        snap_id = self._next_snapshot_id()
        # sweep staging left by DEAD runs only (their committed
        # partitions are already promoted; staging is recomputed
        # idempotently). Age-gated: a concurrent LIVE writer's
        # in-progress staging dir must never be swept — removing it
        # mid-commit would fail its staged read or promote renames,
        # leaving partitions manifested without a snapshot. A crashed
        # run younger than the threshold merely keeps its disk a bit
        # longer; rerunning the same run_id overwrites it regardless.
        now = time.time()
        for stale in os.listdir(self.staging_dir):
            p = os.path.join(self.staging_dir, stale)
            try:
                if now - os.path.getmtime(p) < STAGING_SWEEP_MIN_AGE_SEC:
                    continue
            except OSError:
                continue  # vanished: another sweeper got it
            shutil.rmtree(p, ignore_errors=True)
        pending_df = df if append else self.uncommitted(df, committed)
        if rebalance:
            pending_df = pending_df.hint("rebalance", F.col(PART_COL))
        staging = os.path.join(self.staging_dir, run_id)
        t_stage0 = time.time()
        (pending_df.write.mode("overwrite")
         .partitionBy(PART_COL).parquet(staging))
        t_stage = time.time() - t_stage0

        spark = df.sparkSession
        staged_keys = sorted(
            int(d.split("=", 1)[1]) for d in os.listdir(staging)
            if d.startswith(f"{PART_COL}="))
        aggregates: dict[int, tuple[dict, dict]] = {}
        t_metrics0 = time.time()
        if staged_keys:
            # the schema just written: no footer-inference job
            staged = spark.read.schema(df.schema).parquet(staging)
            aggregates = self._partition_aggregates(
                staged, metrics_fn(staged) if metrics_fn else [],
                stat_cols or [])
        t_metrics = time.time() - t_metrics0

        t_promote0 = time.time()

        def _promote(k: int) -> int:
            """Promote one staged partition: atomic dir rename + its
            manifest. Partitions are independent, so promotes run in a
            thread pool (renames + small JSON writes release the GIL);
            a kill mid-pool loses nothing — each finished promote is
            already durable, unfinished ones are recomputed from the
            idempotent staging on the next run."""
            src = os.path.join(staging, f"{PART_COL}={k}")
            dst = self._part_dir(k)
            metrics, col_stats = aggregates.get(k, ({}, {}))
            prior = self.manifest(k) if append else None
            if prior is not None and os.path.exists(dst):
                return self._append_into(k, src, dst, prior, run_id,
                                         snap_id, metrics, col_stats,
                                         stat_cols, bloom_cols)
            if os.path.exists(dst):
                shutil.rmtree(dst)  # stale partial from a dead run
            os.rename(src, dst)  # atomic promote
            files = _parquet_files(dst)
            fs, fb = _file_meta(dst, files, stat_cols or [],
                                bloom_cols or [])
            m = {
                "part_key": k,
                "run_id": run_id,
                "data_snapshot_id": snap_id,
                "committed_at": time.time(),
                "input_fingerprint": input_fingerprint,
                "files": files,
                "file_seq": {f: snap_id for f in files},
                "metrics": metrics,
                **({"col_stats": col_stats} if col_stats else {}),
                **({"file_stats": fs} if fs else {}),
                **({"file_blooms": fb} if fb else {}),
            }
            self._write_manifest(k, m)
            return k

        # crash injection (kill/resume tests): promote only the first
        # ``fail_after`` keys in sorted order, then die
        todo = staged_keys if fail_after is None else staged_keys[:fail_after]
        with ThreadPoolExecutor(max_workers=PROMOTE_THREADS) as pool:
            promoted = sorted(pool.map(_promote, todo))
        if len(todo) < len(staged_keys):
            raise RuntimeError(
                f"injected failure after {fail_after} commits")

        shutil.rmtree(staging, ignore_errors=True)
        snapshot = {
            "snapshot_id": snap_id,
            "run_id": run_id,
            **(snapshot_extra if snapshot_extra is not None
               else ({"op": "append"} if append else {})),
            "committed_keys": sorted(self.committed_keys()),
            "newly_committed": promoted,
            "skipped_already_committed":
                [] if append else sorted(committed),
            # table schema at commit time: snapshot reads use it
            # explicitly (no footer sampling, stable across schema
            # evolution of older partitions)
            "schema_json": df.schema.json(),
            "phase_sec": {"stage_write": round(t_stage, 2),
                          "metrics": round(t_metrics, 2),
                          "promote": round(time.time() - t_promote0, 2)},
        }
        def _rebase(snap: dict, new_id: int) -> dict:
            """A concurrent writer won our snapshot id. Serialize
            after it: refuse if it committed any of OUR partitions
            (same-partition racers interleave promotes — the Iceberg
            ValidationException case; disjoint-partition concurrent
            ingest, the case that matters at scale, is safe because
            every per-partition artifact is its own file), then
            renumber the sequence fields our manifests recorded under
            the lost id and retry under the new one."""
            old = snap["snapshot_id"]
            mine = set(snap["newly_committed"])
            for s in self.snapshots():
                if s["snapshot_id"] < old or s.get("run_id") == run_id:
                    continue
                theirs = set(s.get("newly_committed") or [])
                if mine & theirs:
                    raise CommitConflictError(
                        f"partitions {sorted(mine & theirs)} were"
                        f" committed concurrently by run"
                        f" {s.get('run_id')} (snapshot"
                        f" {s['snapshot_id']}); rerun this write")
            self._renumber_manifests(mine, old, new_id)
            return self._rebased(snap, new_id)

        return self._publish_snapshot(snapshot, rebase=_rebase)

    def _append_into(self, k: int, src: str, dst: str, prior: dict,
                     run_id: str, snap_id: int, metrics: dict,
                     stats: dict | None,
                     stat_cols: list[str] | None = None,
                     bloom_cols: list[str] | None = None) -> int:
        """Append staged files into an EXISTING partition dir under
        collision-free ``s{snap}-`` names, then merge the manifest:
        files + per-file sequence numbers, summed row metric, min/max-
        merged column stats. The manifest write is the commit point —
        files moved before a crash are unmanifested ``s*-`` orphans,
        invisible to reads and reclaimed by the age-gated
        ``_recover_appends`` sweep / explicit ``recover_orphans``."""
        new_names = []
        for i, f in enumerate(_parquet_files(src)):
            name = f"s{snap_id:05d}-{i:04d}-{f[-24:]}"
            os.rename(os.path.join(src, f), os.path.join(dst, name))
            new_names.append(name)
        m = dict(prior)
        files = sorted(set(m.get("files", [])) | set(new_names))
        fseq = {f: self._file_seq(m, f) for f in m.get("files", [])}
        fseq.update({f: snap_id for f in new_names})
        m.update({"files": files, "file_seq": fseq})
        old_rows = (m.get("metrics") or {}).get("rows")
        new_rows = metrics.get("rows")
        if isinstance(old_rows, int) and isinstance(new_rows, int):
            m["metrics"] = {**m["metrics"], "rows": old_rows + new_rows}
        # Column-stats merge must uphold read_where's invariant that
        # a recorded [min, max] bounds EVERY non-null value in the
        # partition. A column tracked on only one side (an append
        # without stat_cols over a stats-carrying base, or vice
        # versa) has no range for the untracked side's rows — keeping
        # the one-sided range would let pruning silently drop the
        # other side's rows. Drop that column's entry instead:
        # read_where treats missing stats as "keep the partition".
        prior_stats = dict(m.get("col_stats") or {})
        merged = {}
        for c in set(prior_stats) | set(stats or {}):
            old, new = prior_stats.get(c), (stats or {}).get(c)
            if old is None or new is None:
                continue  # one-sided: no valid combined range
            if old.get("min") is None:
                merged[c] = new  # prior rows all-null in c
            elif new["min"] is None:
                merged[c] = old  # appended rows all-null in c
            else:
                merged[c] = {"min": min(old["min"], new["min"]),
                             "max": max(old["max"], new["max"])}
        if merged:
            m["col_stats"] = merged
        else:
            m.pop("col_stats", None)
        # Per-FILE stats need no merge law at all: each appended file
        # gets its own immutable footer bounds. An append without
        # stat_cols still records stats for the columns earlier
        # commits tracked, so a stats-carrying base stays file-
        # prunable after upsert/CDC appends (whose stat_cols defaults
        # to None) — the file-level fix for exactly the widening that
        # forces the partition-level entry above to drop columns.
        # Blooms inherit the same way (immutable per-file artifacts,
        # tracked columns carried forward when the append names none).
        prior_fs = dict(m.get("file_stats") or {})
        prior_fb = dict(m.get("file_blooms") or {})
        fs, fb = _file_meta(
            dst, new_names,
            list(stat_cols or []) or _tracked_cols(prior_fs),
            list(bloom_cols or []) or _tracked_cols(prior_fb))
        prior_fs.update(fs)
        prior_fb.update(fb)
        if prior_fs:
            m["file_stats"] = prior_fs
        if prior_fb:
            m["file_blooms"] = prior_fb
        m.setdefault("appends", []).append(
            {"run_id": run_id, "snapshot_id": snap_id,
             "files": new_names,
             # per-append row count: lets _strip_run_appends subtract
             # exactly when undoing a crashed attempt's manifests
             **({"rows": new_rows} if isinstance(new_rows, int)
                else {})})
        self._write_manifest(k, m)
        return k

    @staticmethod
    def _refresh_file_stats(m: dict, dirpath: str,
                            files: list[str]) -> None:
        """After a physical REWRITE (compact / materialize_deletes)
        the old per-file bounds name files that no longer exist —
        recompute from the new files' footers over the columns the
        manifest tracked (file_stats' union, falling back to
        col_stats' keys), or drop the entry when nothing is
        recoverable (absent == pruning keeps everything). Per-file
        blooms are rebuilt the same way over THEIR tracked columns
        (no col_stats fallback: blooms exist only where a write asked
        for them)."""
        fs, fb = _file_meta(
            dirpath, files,
            (_tracked_cols(m.pop("file_stats", None))
             or sorted((m.get("col_stats") or {}).keys())),
            _tracked_cols(m.pop("file_blooms", None)))
        if fs:
            m["file_stats"] = fs
        if fb:
            m["file_blooms"] = fb

    @staticmethod
    def _partition_aggregates(df: DataFrame, metric_aggs: list,
                              stat_cols: list[str]
                              ) -> dict[int, tuple[dict, dict]]:
        """``{part_key: (metrics, col_stats)}`` from ONE
        ``groupBy(part_key)`` job over ``df``: the row count and the
        caller's named ``metric_aggs`` become ``metrics``, and each
        of ``stat_cols`` gets its ``{"min", "max"}`` in ``col_stats``
        — the only code that computes a manifest's row metrics or
        column bounds."""
        aggs = [F.count(F.lit(1)).alias("rows"), *metric_aggs]
        for c in stat_cols:
            aggs += [F.min(c).alias(f"_mn_{c}"),
                     F.max(c).alias(f"_mx_{c}")]
        out = {}
        for r in df.groupBy(PART_COL).agg(*aggs).collect():
            d = r.asDict()
            k = int(d.pop(PART_COL))
            out[k] = (d, {c: {"min": d.pop(f"_mn_{c}"),
                              "max": d.pop(f"_mx_{c}")}
                          for c in stat_cols})
        return out

    def _recount(self, spark: SparkSession, m: dict, k: int) -> None:
        """After rows left partition ``k`` (rollback stripped files,
        materialize_deletes folded tombstones), recompute its exact
        ``rows`` metric and tracked ``col_stats`` bounds from what
        remains — one tiny agg over that partition only. A stale
        count/min/max would silently corrupt metadata-only answers
        (``stats_agg``)."""
        stat_cols = sorted((m.get("col_stats") or {}).keys())
        metrics, stats = self._partition_aggregates(
            self._scan(spark, None, [self._part_dir(k)]), [],
            stat_cols)[k]
        m["metrics"] = {**(m.get("metrics") or {}), **metrics}
        if stat_cols:
            m["col_stats"] = stats

    def _swap_in(self, staging: str, k: int, run_id: str,
                 crash: bool = False) -> list[str]:
        """Replace partition ``k``'s dir with its rewrite staged under
        ``staging`` without copying data: rename(dst -> dst.old-run),
        rename(staged -> dst), rm old. A kill between the renames is
        repaired by ``_recover_compaction`` on the next open; ``crash``
        injects exactly that kill. Returns the new file list."""
        dst = self._part_dir(k)
        old = f"{dst}.old-{run_id}"
        os.rename(dst, old)
        if crash:
            raise RuntimeError(
                "injected failure between compaction renames")
        os.rename(os.path.join(staging, f"{PART_COL}={k}"), dst)
        shutil.rmtree(old)
        return _parquet_files(dst)

    def _forget_files(self, k: int, m: dict, drop: set[str]) -> None:
        """Delete ``drop`` from partition ``k``'s dir and from its
        manifest ``m`` (file list, per-file sequence numbers, stats
        and blooms). Surviving files are untouched, so their immutable
        footer bounds and blooms stay valid."""
        d = self._part_dir(k)
        for f in sorted(drop):
            try:
                os.remove(os.path.join(d, f))
            except OSError:
                pass  # already gone (the orphan sweep got it)
        m["files"] = [f for f in m.get("files", []) if f not in drop]
        m["file_seq"] = {f: s_ for f, s_ in (m.get("file_seq") or {}).items()
                         if f not in drop}
        for fk in ("file_stats", "file_blooms"):
            kept = {f: v for f, v in (m.pop(fk, None) or {}).items()
                    if f not in drop}
            if kept:
                m[fk] = kept

    def _recover_appends(
            self,
            min_age_sec: float = ORPHAN_SWEEP_MIN_AGE_SEC) -> None:
        """Remove ``s*-`` append files not listed in their partition
        manifest (a crashed append's partial moves; completed appends
        are manifested atomically). Base-write files never carry the
        prefix, so they are never candidates.

        Age-gated: a CONCURRENT appender sits in exactly the window
        between os.rename of its files and its manifest write, so an
        un-gated sweep on every table open would delete a live run's
        files and let it commit a manifest listing nonexistent files
        (silent row loss). The cost of the gate: until the sweep, a
        crashed append's files stay visible to the directory-glob
        scan paths — the same read-uncommitted window that exists
        WHILE any append is in flight (a glob scan cannot tell the
        two apart; manifest-scoped reads like ``read_incremental``
        are unaffected). A recovery procedure that knows no appender
        is live calls ``recover_orphans()`` before serving reads."""
        for k in self.committed_keys():
            d = self._part_dir(k)
            if not os.path.isdir(d):
                continue
            cands = [f for f in os.listdir(d)
                     if f.endswith(".parquet") and f.startswith("s")
                     and "-" in f and f.split("-", 1)[0][1:].isdigit()]
            if not cands:
                continue  # manifest JSON read only when needed: the
                # sweep must stay cheap at 10^5 partitions per open
            listed = set((self.manifest(k) or {}).get("files", []))
            now = time.time()
            for f in cands:
                if f in listed:
                    continue
                p = os.path.join(d, f)
                try:
                    if now - os.path.getmtime(p) < min_age_sec:
                        continue  # possibly a live appender mid-move
                    os.remove(p)
                except OSError:
                    pass  # vanished: its appender manifested or a
                    # concurrent sweeper removed it

    def recover_orphans(self, min_age_sec: float = 0.0) -> None:
        """Explicit maintenance sweep (the Iceberg
        ``remove_orphan_files`` analog): remove crashed-append
        orphans immediately, regardless of age. Run this only when no
        appender is live against the table."""
        self._recover_appends(min_age_sec=min_age_sec)

    def _strip_run_appends(self, run_id: str) -> list[int]:
        """Undo manifested appends left by a CRASHED earlier attempt
        of ``run_id`` — entries whose snapshot id was never published
        (a kill between the per-partition manifest writes and the
        snapshot CAS). The rerun then lands exactly once instead of
        doubling rows in the partitions the first attempt reached.
        Row metrics are subtracted from the per-append counts;
        column stats are left as-is (possibly wider than the data —
        safe: wide stats only keep extra partitions in read_where,
        they never wrongly prune). Published appends with the same
        run_id are NEVER touched."""
        published = {s["snapshot_id"] for s in self.snapshots()}
        stripped = []
        for k in self.committed_keys():
            m = self.manifest(k) or {}
            appends = m.get("appends") or []
            dead = [a for a in appends
                    if a.get("run_id") == run_id
                    and a.get("snapshot_id") not in published]
            if not dead:
                continue
            self._forget_files(
                k, m, {f for a in dead for f in a.get("files", [])})
            m["appends"] = [a for a in appends if a not in dead]
            rows = (m.get("metrics") or {}).get("rows")
            dead_rows = [a.get("rows") for a in dead]
            if isinstance(rows, int) and all(
                    isinstance(r, int) for r in dead_rows):
                m["metrics"] = {**m["metrics"],
                                "rows": rows - sum(dead_rows)}
            elif isinstance(rows, int):
                m["metrics"] = {c: v for c, v in m["metrics"].items()
                                if c != "rows"}  # unknown: drop
            self._write_manifest(k, m)
            stripped.append(k)
        return stripped

    def merge(self, df: DataFrame, eq_cols: list[str],
              run_id: str | None = None,
              stat_cols: list[str] | None = None,
              fail_after: int | None = None) -> dict:
        """Atomic MERGE — the Iceberg single-commit MERGE analog: ONE
        snapshot carries BOTH an equality-delete file over ``df``'s
        key tuples AND ``df``'s appended data files. The delete and
        the new files share the snapshot's sequence number, and
        equality deletes apply only to STRICTLY older files
        (``_del_cond``), so the new rows survive their own tombstones
        while every matched pre-existing row is replaced; unmatched
        keys are plain inserts; untouched rows are untouched.
        Merge-on-read: no data partition is rewritten.

        Visibility: readers switch from old to new rows atomically at
        the snapshot publish — there is NO state where matched keys
        are absent (the gap the old two-commit upsert had). Before
        the publish, appended files are already manifested, so a
        concurrent glob-scan reader can briefly see new rows
        ALONGSIDE the old — the same read-uncommitted window any
        in-flight append has (manifest-scoped reads are unaffected).

        Crash/replay: a rerun with the SAME run_id first strips the
        crashed attempt's unpublished appends (exactly-once per
        run_id), and a foreachBatch REdelivery after a successful
        publish also converges — the replay's delete outsequences and
        tombstones the earlier copy's rows before re-appending.
        ``fail_after`` injects a crash after N partition promotes
        (before the snapshot publish), for the kill/replay tests."""
        run_id = run_id or f"merge-{int(time.time() * 1000)}"
        # sweep delete files left by crashed attempts of THIS run_id
        # (never referenced by a published snapshot — pure dead weight)
        referenced = {s.get("delete_file") for s in self.snapshots()}
        prefix = f"delete-merge-{_safe_name(run_id)}-"
        for f in os.listdir(self.delete_dir):
            if f.startswith(prefix) and f not in referenced:
                shutil.rmtree(os.path.join(self.delete_dir, f),
                              ignore_errors=True)
        # run-unique name, written once, never renamed or overwritten
        # (a published snapshot may reference it — delete_rows's rule)
        name = f"{prefix}{uuid.uuid4().hex[:8]}.parquet"
        path = os.path.join(self.delete_dir, name)
        tuples = df.select(*eq_cols).distinct()
        tuples.coalesce(1).write.mode("overwrite").parquet(path)
        n = df.sparkSession.read.parquet(path).count()
        return self.write(
            df, run_id=run_id, append=True, stat_cols=stat_cols,
            fail_after=fail_after,
            snapshot_extra={"op": "merge", "eq_cols": list(eq_cols),
                            "delete_file": name,
                            "n_delete_tuples": int(n)})

    def upsert(self, df: DataFrame, eq_cols: list[str],
               run_id: str | None = None,
               stat_cols: list[str] | None = None) -> dict:
        """Upsert = atomic single-snapshot ``merge`` (see there).
        Kept as the CDC-facing name; returns the merge snapshot."""
        return self.merge(df, eq_cols, run_id=run_id,
                          stat_cols=stat_cols)

    # -- tags (named snapshots) ------------------------------------------------

    def tag(self, name: str, snapshot_id: int | None = None) -> dict:
        """Name a snapshot (the Iceberg tag analog — 'the corpus we
        trained run X on'). Defaults to main's current state, which
        while a branch is diverged is main's pin, not the branch's
        unpublished head. Tagged snapshots survive
        ``expire_snapshots``, so a tag is the durable handle for
        reproducing a historical read."""
        if not re.fullmatch(r"[A-Za-z0-9._-]{1,128}", name):
            raise ValueError(f"bad tag name: {name!r}")
        if snapshot_id is None:
            snapshot_id = self._main_head()
            if snapshot_id is None:
                raise ValueError("no snapshots to tag")
        elif not any(s["snapshot_id"] == snapshot_id
                     for s in self.snapshots()):
            raise ValueError(f"no snapshot {snapshot_id} to tag")
        return self._set_ref(name, snapshot_id, "tag")

    def tags(self) -> dict[str, int]:
        return {o["name"]: o["snapshot_id"] for o in self._refs("tag")}

    def drop_tag(self, name: str) -> None:
        p = self._ref_path(name, "tag")
        if os.path.exists(p):
            os.remove(p)

    def _resolve_tag(self, tag: str) -> int:
        t = self.tags()
        if tag not in t:
            raise ValueError(f"no tag {tag!r}; have {sorted(t)}")
        return t[tag]

    # -- branches (mutable named refs) -----------------------------------------

    # A branch is a MUTABLE ref -> snapshot id (Iceberg branch
    # analog); a tag is the immutable flavor. The storage layer keeps
    # ONE linear snapshot sequence, and snapshot reads scope by
    # per-file sequence number, so pinning "main" at a snapshot and
    # committing further appends under a branch gives real isolation
    # with zero new read machinery: main readers filter out the
    # branch's later-sequenced files exactly like any time-travel
    # read. The supported shape is the write-audit-publish / staging
    # pattern — ONE divergent branch ahead of main at a time (the
    # linear store cannot represent two divergent heads); creating a
    # second concurrent branch or plain-writing while diverged raises
    # instead of corrupting either lineage.

    def create_branch(self, name: str,
                      snapshot_id: int | None = None) -> dict:
        """Create branch ``name`` at ``snapshot_id`` (default: the
        current main state). ``write_to_branch`` then advances it
        without moving main; ``fast_forward`` publishes it."""
        if not re.fullmatch(r"[A-Za-z0-9._-]{1,128}", name):
            raise ValueError(f"bad branch name: {name!r}")
        if name == "main":
            raise ValueError("'main' is the implicit trunk ref")
        if self.branches():
            raise ValueError(
                f"a branch already exists ({sorted(self.branches())});"
                " the linear store supports one divergent branch —"
                " fast_forward or drop it first")
        snaps = self.snapshots()
        if snapshot_id is None:
            snapshot_id = self._main_head()
            if snapshot_id is None:
                raise ValueError("no snapshots to branch from")
        elif not any(s["snapshot_id"] == snapshot_id for s in snaps):
            raise ValueError(f"no snapshot {snapshot_id} to branch")
        return self._set_ref(name, snapshot_id)

    def branches(self) -> dict[str, int]:
        return {o["name"]: o["snapshot_id"] for o in self._refs("branch")
                if o["name"] != "main"}

    def _main_pin(self) -> int | None:
        p = self._ref_path("main")
        if not os.path.exists(p):
            return None
        with open(p) as fh:
            return json.load(fh)["snapshot_id"]

    def _main_head(self) -> int | None:
        """Current MAIN state: the pin while diverged, else the
        newest snapshot (back-compat: no-branch tables never pin)."""
        pin = self._main_pin()
        return pin if pin is not None else self._latest_id()

    def _resolve_branch(self, name: str) -> int:
        if name == "main":
            head = self._main_head()
            if head is None:
                raise ValueError("empty table has no main state")
            return head
        b = self.branches()
        if name not in b:
            raise ValueError(f"no branch {name!r}; have {sorted(b)}")
        return b[name]

    def _resolve_read(self, snapshot_id: int | None = None,
                      tag: str | None = None,
                      branch: str | None = None) -> int | None:
        """The snapshot a reader sees, the one place every reader maps
        its ref arguments: at most one of ``snapshot_id`` / ``tag`` /
        ``branch``; with none, MAIN's state — the pin while a branch
        is ahead (per-file sequence scoping then hides the branch's
        appends), else None (the newest snapshot)."""
        given = [n for n, x in (("snapshot_id", snapshot_id),
                                ("tag", tag), ("branch", branch))
                 if x is not None]
        if len(given) > 1:
            raise ValueError("pass at most one of snapshot_id/tag/"
                             f"branch, not both {given[0]} and"
                             f" {given[1]}")
        if tag is not None:
            return self._resolve_tag(tag)
        if branch is not None:
            return self._resolve_branch(branch)
        return self._main_pin() if snapshot_id is None else snapshot_id

    def write_to_branch(self, name: str, df: DataFrame,
                        **write_kwargs) -> dict:
        """Append-commit ``df`` under branch ``name``: main readers
        keep seeing the pre-branch state (pinned on first divergence),
        branch readers (``read(branch=name)``) see the appends. Only
        the tip branch is writable (linear store)."""
        head = self._resolve_branch(name)
        latest = self._latest_id()
        if head != latest:
            raise ValueError(
                f"branch {name!r} head {head} is not the newest"
                f" snapshot {latest}; only the tip branch is writable")
        if self._main_pin() is None:
            # first divergent commit: freeze main where it is
            self._set_ref("main", head)
        if write_kwargs.pop("append", True) is not True:
            raise ValueError("branch commits are append-mode")
        self._branch_writer = name
        try:
            snap = self.write(
                df, append=True,
                snapshot_extra={
                    **(write_kwargs.pop("snapshot_extra", None) or {}),
                    "branch": name},
                **write_kwargs)
        finally:
            self._branch_writer = None
        self._set_ref(name, snap["snapshot_id"])
        return snap

    def fast_forward(self, name: str, drop: bool = True) -> dict:
        """Publish branch ``name``: move main to the branch head (the
        Iceberg ``fast_forward('main', branch)`` analog — the publish
        half of write-audit-publish). With ``drop`` the branch ref is
        removed; the pin is removed too when main lands back on the
        newest snapshot, restoring the zero-join plain-read path."""
        head = self._resolve_branch(name)
        main = self._main_head()
        if main is not None and main > head:
            raise ValueError(
                f"main at {main} is ahead of branch {name!r} at"
                f" {head}: not a fast-forward")
        latest = self._latest_id()
        main_path = self._ref_path("main")
        if head == latest and os.path.exists(main_path):
            os.remove(main_path)  # main floats with latest again
        elif head != latest:
            self._set_ref("main", head)
        if drop and name != "main":
            self.drop_branch(name)
        return {"main": head, "from_branch": name}

    def drop_branch(self, name: str,
                    spark: SparkSession | None = None) -> None:
        """Remove branch ``name``'s ref. With ``spark``, ABANDON the
        branch physically: roll back to main's pin so the branch's
        unpublished commits (and the pin) are gone — the reject half
        of write-audit-publish. Without it, only the ref is dropped
        (the pin stays, so main reads stay correct; the orphaned
        commits remain time-travelable until expiry/rollback)."""
        p = self._ref_path(name)
        if os.path.exists(p):
            os.remove(p)
        pin = self._main_pin() if spark is not None else None
        if pin is not None:
            self.rollback(spark, pin)  # also removes the pin

    def stats_agg(self, cols: tuple[str, ...] = ()) -> dict:
        """Metadata-only aggregates — ``COUNT(*)`` plus per-column
        MIN/MAX answered ENTIRELY from the partition manifests, zero
        data files opened (the Iceberg metadata-aggregate-pushdown
        analog: at 10^12 rows "how many rows / what's the ts range"
        should cost O(partitions) driver-side JSON reads, not a scan).

        Exactness is proven, not assumed — raises when the metadata
        cannot answer exactly:

        - any live delete (equality or position) snapshot exists:
          manifest row counts predate merge-on-read tombstones
          (``materialize_deletes`` folds them in and restores
          answerability);
        - a diverged branch pins main: the newest manifests include
          branch-only files, so counts would leak unpublished rows;
        - a partition lacks a ``rows`` metric, or a requested column
          lacks min/max stats in some partition (appends without
          stat_cols widen-to-unknown rather than lie — same
          conservative rule as ``read_where`` pruning).

        Returns ``{"rows": n, "min": {col: v}, "max": {col: v}}``.
        """
        if any(self._live_deletes()):
            raise ValueError(
                "live delete files make manifest counts stale —"
                " materialize_deletes() first")
        if self._main_pin() is not None:
            raise ValueError(
                "main is pinned behind a branch: metadata includes"
                " unpublished branch rows — fast_forward or drop the"
                " branch first")
        total = 0
        mins: dict[str, object] = {}
        maxs: dict[str, object] = {}
        for k in sorted(self.committed_keys()):
            m = self.manifest(k) or {}
            rows = (m.get("metrics") or {}).get("rows")
            if not isinstance(rows, int):
                raise ValueError(
                    f"partition {k} has no exact row metric")
            total += rows
            if rows == 0:
                continue
            cs = m.get("col_stats") or {}
            for c in cols:
                st = cs.get(c)
                if (st is None or st.get("min") is None
                        or st.get("max") is None):
                    raise ValueError(
                        f"partition {k} lacks min/max stats for"
                        f" {c!r} — cannot answer exactly")
                if c not in mins or st["min"] < mins[c]:
                    mins[c] = st["min"]
                if c not in maxs or st["max"] > maxs[c]:
                    maxs[c] = st["max"]
        return {"rows": total, "min": mins, "max": maxs}

    def expire_snapshots(self, keep_last: int = 10) -> dict:
        """Drop snapshot metadata older than the newest ``keep_last``
        (the Iceberg ``expire_snapshots`` analog: time-travel history
        is bounded; data files are untouched). Delete snapshots whose
        delete FILE is still live (not yet materialized) are always
        retained — expiring one would resurrect its tombstoned rows
        in every future read. Tagged snapshots are always retained —
        a tag is a durable reproducibility handle."""
        snaps = self.snapshots()
        if len(snaps) <= keep_last:
            return {"expired": []}
        cutoff = sorted(s["snapshot_id"] for s in snaps)[-keep_last]
        tagged = set(self.tags().values())
        # branch heads and a pinned main are live refs — expiring
        # their snapshots would orphan the ref they resolve through
        tagged |= set(self.branches().values())
        if self._main_pin() is not None:
            tagged.add(self._main_pin())
        expired = []
        for s in snaps:
            sid = s["snapshot_id"]
            if sid >= cutoff or sid in tagged:
                continue
            if (s.get("op") in ("delete", "merge", "pos_delete")
                    and os.path.exists(os.path.join(
                        self.delete_dir, s["delete_file"]))):
                continue  # live tombstones: must stay discoverable
            os.remove(self._snapshot_path(sid))
            expired.append(sid)
        return {"expired": expired, "cutoff": cutoff}

    def rollback(self, spark: SparkSession, snapshot_id: int) -> dict:
        """Restore the table to its state at ``snapshot_id`` — the
        Iceberg ``rollback_to_snapshot`` analog, the undo for a bad
        commit (a corrupted ingest wave, a wrong takedown list).

        Deviation from real Iceberg, documented: Iceberg moves a
        metadata pointer and keeps the orphaned snapshots; this layer
        resolves reads from the manifest SET, not a pointer, so the
        rollback restores physically — partitions first committed
        after the target are removed, files appended after it are
        stripped from surviving partitions (their manifests' row
        metric and column stats recomputed from what remains, one
        tiny per-partition agg over only the touched partitions),
        delete files sequenced after it are dropped, and the
        invalidated snapshot metadata is expired. Time travel to
        snapshots at-or-before the target keeps working. Rolling back
        ACROSS a physical rewrite (``compact`` /
        ``materialize_deletes``) is refused: those rewrote rows in
        place and cannot be undone. Cost is O(undone work), never
        O(table). A target after main's pin stays on the branch: the
        branch moves to the rollback snapshot and main stays pinned.
        Otherwise branch refs whose head is rolled away die, and a
        target at-or-before main's pin removes the pin (this is how
        ``drop_branch(spark=...)`` abandons a branch)."""
        target = self._snapshot(snapshot_id)
        snaps = self.snapshots()
        later = [s for s in snaps if s["snapshot_id"] > snapshot_id]
        rewrites = [s["snapshot_id"] for s in later
                    if s.get("op") in ("compact", "materialize_deletes")]
        if rewrites:
            raise ValueError(
                f"cannot roll back across physical-rewrite snapshots"
                f" {rewrites}: compacted/materialized partitions were"
                f" rewritten in place")
        keep = {int(k) for k in target["committed_keys"]}
        dropped_parts, stripped = [], []
        for k in sorted(self.committed_keys()):
            if k not in keep:
                shutil.rmtree(self._part_dir(k), ignore_errors=True)
                os.remove(self._manifest_path(k))
                dropped_parts.append(k)
                continue
            m = self.manifest(k) or {}
            late = {f for f in m.get("files", [])
                    if self._file_seq(m, f) > snapshot_id}
            if not late:
                continue
            self._forget_files(k, m, late)
            m["appends"] = [a for a in m.get("appends", [])
                            if a.get("snapshot_id", 0) <= snapshot_id]
            self._recount(spark, m, k)
            self._write_manifest(k, m)
            stripped.append(k)
        dropped_snaps = []
        for s in later:
            if s.get("op") in ("delete", "merge", "pos_delete"):
                p = os.path.join(self.delete_dir, s["delete_file"])
                if os.path.isdir(p):
                    shutil.rmtree(p, ignore_errors=True)
                elif os.path.exists(p):
                    os.remove(p)
            os.remove(self._snapshot_path(s["snapshot_id"]))
            dropped_snaps.append(s["snapshot_id"])
        dropped_tags = [name for name, sid in self.tags().items()
                        if sid > snapshot_id]
        for name in dropped_tags:  # would dangle: their state is gone
            self.drop_tag(name)
        pin = self._main_pin()
        moved = []
        for name, sid in list(self.branches().items()):
            if pin is not None and pin < snapshot_id <= sid:
                # the target is inside the branch: the branch keeps
                # it, at the rollback snapshot (re-pointed below)
                moved.append(name)
            elif sid > snapshot_id:  # branch head rolled away: ref dies
                os.remove(self._ref_path(name))
        if pin is not None and snapshot_id <= pin:
            # main's lineage is the whole history again: a pin left
            # behind would refuse every later main commit with no
            # branch left to fast-forward
            os.remove(self._ref_path("main"))
        # pin the schema as of the target (rolls back schema
        # evolution too); delete-op targets carry none, so walk back
        schema_json = next(
            (s.get("schema_json") for s in reversed(snaps)
             if s["snapshot_id"] <= snapshot_id
             and s.get("schema_json")), None)
        snapshot = {
            "snapshot_id": self._next_snapshot_id(), "op": "rollback",
            "rollback_to": snapshot_id,
            "committed_keys": sorted(self.committed_keys()),
            "dropped_partitions": dropped_parts,
            "stripped_partitions": stripped,
            "dropped_snapshots": dropped_snaps,
            "dropped_tags": dropped_tags,
            **({"schema_json": schema_json} if schema_json else {}),
        }
        snapshot = self._publish_snapshot(snapshot)
        for name in moved:
            # it holds the target's state and is the newest snapshot,
            # so the branch stays the writable tip
            self._set_ref(name, snapshot["snapshot_id"])
        return snapshot

    def compact(self, spark: SparkSession,
                part_keys: list[int] | None = None,
                min_files: int = 2, target_mb: int = 128,
                run_id: str | None = None,
                fail_after_first_rename: int | None = None) -> dict:
        """Rewrite small-file partitions into few large files — the
        Iceberg ``rewrite_data_files`` (binpack) analog. At 10^5
        commits/day a streaming or incremental writer accretes
        thousands of small files per partition; scan cost then tracks
        file COUNT, not byte count, and compaction is the standard
        operational fix.

        Scale shape: ONE Spark job reads every selected partition and
        re-stages it with an AQE REBALANCE(part_key) whose advisory
        size is ``target_mb`` — output file count per partition tracks
        bytes/target (and a hot partition splits instead of
        straggling), never tasks x partitions. The swap is per
        partition and crash-safe WITHOUT ever copying data: atomic
        rename(dst -> dst.old-run), rename(staged -> dst), rm old; a
        kill between the renames is repaired by
        ``_recover_compaction`` on the next open (restore the old
        dir, redo the compaction later). Committed ROWS are never
        mutated — manifests keep their metrics and record
        files_before; a ``compact`` snapshot is appended. Deviation
        from real Iceberg, documented: partitions are rewritten in
        place, so time travel preserves the partition SET of an old
        snapshot, not its physical file list.

        ``fail_after_first_rename=N`` injects a crash right after the
        N-th partition's first rename (kill/recovery tests).
        """
        self._check_main_writable()
        committed = self.committed_keys()
        keys = sorted(committed if part_keys is None else
                      [k for k in part_keys if k in committed])
        dels, pdels = self._live_deletes()
        # partitions referenced by a pending POSITION delete can never
        # be compacted: rewriting renames the files the tombstones
        # address, silently resurrecting the deleted rows. Those
        # partitions are skipped (materialize_deletes first — the
        # Iceberg rewrite ordering). The delete files are
        # dimension-sized, so listing their partitions is one tiny
        # driver-side read each.
        pos_parts: set[int] = set()
        for s in pdels:
            p = os.path.join(self.delete_dir, s["delete_file"])
            pos_parts |= {int(r[0]) for r in
                          spark.read.parquet(p)
                          .select(PART_COL).distinct().collect()}
        todo: dict[int, list[str]] = {}
        skipped_mixed_seq: list[int] = []
        skipped_pos_delete: list[int] = []
        for k in keys:
            if k in pos_parts:
                skipped_pos_delete.append(k)
                continue
            files = _parquet_files(self._part_dir(k))
            if len(files) < min_files:
                continue
            m = self.manifest(k) or {}
            seqs = {self._file_seq(m, f) for f in files}
            if dels and len(seqs) > 1:
                # compacting mixes files of different sequence
                # numbers into one; a pending delete sequenced
                # BETWEEN them could no longer scope correctly —
                # materialize_deletes first, then compact (the
                # Iceberg rewrite ordering for the same reason)
                skipped_mixed_seq.append(k)
                continue
            todo[k] = files
        run_id = run_id or f"compact-{int(time.time() * 1000)}"
        if not todo:
            return {"run_id": run_id, "compacted_keys": [],
                    "skipped_mixed_seq": skipped_mixed_seq,
                    "skipped_pos_delete": skipped_pos_delete,
                    "files_before": 0, "files_after": 0}

        staging = os.path.join(self.staging_dir, run_id)
        latest = self._snapshot(None)
        df = self._scan(spark, latest, [self._part_dir(k) for k in todo])
        advisory_key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        prev_advisory = spark.conf.get(advisory_key, None)
        spark.conf.set(advisory_key, str(target_mb * 1024 * 1024))
        try:
            (df.hint("rebalance", F.col(PART_COL))
             .write.mode("overwrite").partitionBy(PART_COL)
             .parquet(staging))
        finally:
            if prev_advisory is None:
                spark.conf.unset(advisory_key)
            else:
                spark.conf.set(advisory_key, prev_advisory)

        compacted, files_before, files_after = [], 0, 0
        for i, (k, old_files) in enumerate(sorted(todo.items())):
            new_files = self._swap_in(
                staging, k, run_id,
                crash=(fail_after_first_rename is not None
                       and i >= fail_after_first_rename))
            m = self.manifest(k) or {"part_key": k}
            # merged files inherit the MAX of the old sequences
            # (uniform when deletes are pending — the todo guard;
            # otherwise only future deletes matter and they
            # outsequence any current value)
            seq = max((self._file_seq(m, f) for f in old_files),
                      default=0)
            m.update({"files": new_files, "compacted_by": run_id,
                      "file_seq": {f: seq for f in new_files},
                      "files_before_compaction": len(old_files)})
            self._refresh_file_stats(m, self._part_dir(k), new_files)
            self._write_manifest(k, m)
            compacted.append(k)
            files_before += len(old_files)
            files_after += len(new_files)

        shutil.rmtree(staging, ignore_errors=True)
        snapshot = {
            "snapshot_id": self._next_snapshot_id(), "op": "compact",
            "run_id": run_id,
            "committed_keys": sorted(self.committed_keys()),
            "compacted_keys": compacted,
            "skipped_mixed_seq": skipped_mixed_seq,
            "skipped_pos_delete": skipped_pos_delete,
            "files_before": files_before, "files_after": files_after,
            **({"schema_json": latest["schema_json"]}
               if (latest or {}).get("schema_json") else {}),
        }
        return self._publish_snapshot(snapshot)

    def _stored_schema(self, snap: dict | None) -> T.StructType | None:
        sj = (snap or {}).get("schema_json")
        if sj is None:
            return None
        return T.StructType.fromJson(json.loads(sj))

    def read(self, spark: SparkSession,
             snapshot_id: int | None = None,
             apply_deletes: bool = True,
             tag: str | None = None,
             branch: str | None = None) -> DataFrame:
        """Read the table; with ``snapshot_id`` (or a ``tag`` naming
        one), time-travel to the partition set committed as of that
        snapshot (Iceberg ``VERSION AS OF`` analog). Committed partitions are immutable
        (resume never rewrites them), so an old snapshot is exactly
        the subset of partition directories it recorded.

        Equality-delete files at-or-before the requested snapshot are
        applied (``apply_deletes=False`` reads raw data rows) as a
        broadcast anti-join scoped by sequence number: a delete drops
        a row only when ``delete.snapshot_id > file.sequence_number``
        (STRICTLY older data — Iceberg's rule) — rows appended at or
        after the delete survive, including a ``merge``'s own appends
        under their shared snapshot id.

        Scale design: one glob scan of the partitioned layout + a
        partition-column filter — Spark prunes directories from the
        filter, so a snapshot read never enumerates one path per
        partition (the round-1 watch-item at 10^4-10^5 partitions).
        The schema comes from the snapshot manifest when present: no
        parquet footer sampling, and partitions written before a
        schema evolution read consistently (missing columns as null).
        Snapshots resolve by their embedded snapshot_id, never by
        list position. Time travel filters by PER-FILE sequence
        number, not just the partition set — append mode adds
        later-sequenced files into already-committed partition dirs,
        and a snapshot read must not see them. With no ref the read
        is MAIN's state: while a branch is diverged, main's pin."""
        return self._live_scan(
            spark, self._resolve_read(snapshot_id, tag, branch),
            apply_deletes=apply_deletes)

    def _scan(self, spark: SparkSession, snap: dict | None,
              paths: list[str] | None = None) -> DataFrame:
        """Bare scan of ``paths`` (default: the ``part_key=*`` glob)
        under ``snap``'s stored schema — no footer sampling, and
        partitions written before a schema evolution read it with
        the missing columns null. Nothing to scan (no paths, or a
        snapshot that commits no partition) gives an empty frame of
        that schema instead of an obscure zero-path read error."""
        if paths is None and (snap is None or snap["committed_keys"]):
            paths = [os.path.join(self.data_dir, f"{PART_COL}=*")]
        schema = self._stored_schema(snap)
        if not paths:
            if schema is None:
                raise ValueError(
                    f"snapshot {(snap or {}).get('snapshot_id')} has"
                    " nothing to scan and records no schema")
            return spark.createDataFrame([], schema=schema)
        reader = spark.read.option("basePath", self.data_dir)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*paths)

    def _live_scan(self, spark: SparkSession, snapshot_id: int | None,
                   paths: list[str] | None = None,
                   apply_deletes: bool = True,
                   keep_pos: bool = False) -> DataFrame:
        """The scan every reader shares: the rows of ``paths``
        (default: every partition) live at the resolved
        ``snapshot_id`` (None = newest). Time travel keeps only that
        snapshot's partitions and files sequenced at-or-before it;
        the live deletes at-or-before it are anti-joined. Both need
        the ``_dseq`` per-file sequence annotation, attached HERE on
        the scan because ``input_file_name()`` rejects multi-source
        plans. ``keep_pos`` returns the annotated frame (``_dseq``,
        ``_fname``, ``_pos``) for callers that address rows by
        position. A plain latest read with nothing to scope stays a
        bare scan (no annotation join in the plan), and nothing to
        scan gives ``_scan``'s empty frame, unannotated."""
        snap = self._snapshot(snapshot_id)
        df = self._scan(spark, snap, paths)
        deletes = (self._live_deletes(snapshot_id) if apply_deletes
                   else ([], []))
        empty = (not paths if paths is not None
                 else snap is not None and not snap["committed_keys"])
        if empty or (snapshot_id is None and not any(deletes)
                     and not keep_pos):
            return df
        if paths is None and snapshot_id is not None:
            df = df.filter(F.col(PART_COL).isin(
                [int(k) for k in snap["committed_keys"]]))
        ann = self._annotate_seq(spark, df,
                                 keep_pos=keep_pos or bool(deletes[1]),
                                 upto=snapshot_id)
        ann = self._drop_deleted(spark, ann, deletes)
        return ann if keep_pos else self._unannotate(ann)

    # -- equality deletes (merge-on-read) -------------------------------------

    def _live_deletes(self, upto: int | None = None
                      ) -> tuple[list[dict], list[dict]]:
        """(equality, position) delete snapshots at-or-before ``upto``
        whose delete file is still live (``materialize_deletes``
        removes the ones it folds). "merge" snapshots carry an
        equality delete file too (their tombstone half); both ops
        scope identically by sequence number."""
        eq, pos = [], []
        for s in self.snapshots():
            op = s.get("op")
            if (op in ("delete", "merge", "pos_delete")
                    and (upto is None or s["snapshot_id"] <= upto)
                    and os.path.exists(os.path.join(
                        self.delete_dir, s["delete_file"]))):
                (pos if op == "pos_delete" else eq).append(s)
        return eq, pos

    def _drop_deleted(self, spark: SparkSession, ann: DataFrame,
                      deletes: tuple[list[dict], list[dict]]
                      ) -> DataFrame:
        """Anti-join an annotated scan (``_dseq``, plus ``_fname`` and
        ``_pos`` when position deletes are given) against the
        ``_live_deletes`` pair: equality deletes first, then position
        deletes, each as a broadcast dimension scoped by sequence
        number."""
        dels, pdels = deletes
        for eq_cols, d in self._delete_dims(spark, dels):
            ann = ann.join(F.broadcast(d), self._del_cond(eq_cols),
                           "left_anti")
        if pdels:
            ann = ann.join(F.broadcast(self._pos_dim(spark, pdels)),
                           self._pos_cond(), "left_anti")
        return ann

    def _file_seq_df(self, spark: SparkSession) -> DataFrame:
        """(file name, sequence number) dimension from the manifests —
        per-FILE sequencing (Iceberg's model), so appended files in a
        mixed-age partition scope deletes independently
        (``_file_seq``)."""
        rows = []
        for k in sorted(self.committed_keys()):
            m = self.manifest(k) or {}
            for f in m.get("files", []):
                # keyed by (partition, name): one writer task serves
                # several partition dirs with the SAME file name, so
                # the name alone is not unique table-wide
                rows.append((k, f, self._file_seq(m, f)))
        return spark.createDataFrame(
            rows or [(None, None, None)],
            f"{PART_COL} int, _fname string, _dseq long").filter(
            F.col("_fname").isNotNull())

    def _annotate_seq(self, spark: SparkSession, df: DataFrame,
                      keep_pos: bool = False,
                      upto: int | None = None) -> DataFrame:
        """Attach each row's file sequence number as ``_dseq``. MUST
        run directly on the scan frame: ``input_file_name()`` and the
        ``_metadata`` pseudo-column reject plans that already contain
        more than one source. ``keep_pos`` additionally keeps
        ``_fname`` and attaches ``_pos`` (the row's physical ordinal
        in its file, from parquet's ``_metadata.row_index`` — the
        coordinate system position deletes address). ``upto`` keeps
        only files sequenced at-or-before that snapshot (time travel
        is FILE-granular: appends land in existing partition dirs)."""
        cols = {"_fname": F.element_at(
            F.split(F.input_file_name(), "/"), -1)}
        if keep_pos:
            cols["_pos"] = F.col("_metadata.row_index")
        out = (df.withColumns(cols)
               .join(F.broadcast(self._file_seq_df(spark)),
                     [PART_COL, "_fname"], "left")
               .withColumn("_dseq", F.coalesce(F.col("_dseq"),
                                               F.lit(0).cast("long"))))
        if upto is not None:
            out = out.filter(F.col("_dseq") <= upto)
        return out if keep_pos else out.drop("_fname")

    def _delete_dims(self, spark: SparkSession,
                     dels: list[dict]) -> list[tuple[tuple[str, ...],
                                                     DataFrame]]:
        """Window the delete files into per-eq_cols dimension frames
        carrying their snapshot id as ``_delseq``."""
        by_cols: dict[tuple[str, ...], list[dict]] = {}
        for s in dels:
            by_cols.setdefault(tuple(s["eq_cols"]), []).append(s)
        return [(eq_cols, reduce(DataFrame.unionByName, [
            spark.read.parquet(os.path.join(self.delete_dir,
                                            s["delete_file"]))
            .select(*[F.col(c).alias(f"_del_{c}") for c in eq_cols],
                    F.lit(int(s["snapshot_id"])).cast("long")
                    .alias("_delseq"))
            for s in group]))
            for eq_cols, group in by_cols.items()]

    @staticmethod
    def _del_cond(eq_cols: tuple[str, ...]):
        # STRICTLY older — Iceberg's data/delete sequence rule: an
        # equality delete applies only to data files whose sequence
        # number is LESS than the delete's. Standalone deletes never
        # share an id with a data commit (snapshot ids are unique per
        # commit), so < and <= coincide for them; the strict form is
        # what lets ``merge`` publish its delete file and its new data
        # files under ONE snapshot — the new rows share the delete's
        # sequence number and therefore survive their own tombstones.
        cond = F.col("_delseq") > F.col("_dseq")
        for c in eq_cols:
            cond = cond & (F.col(c) == F.col(f"_del_{c}"))
        return cond

    # -- position deletes (merge-on-read, the other v2 flavor) ----------------

    def _pos_dim(self, spark: SparkSession,
                 pdels: list[dict]) -> DataFrame:
        """Union the position-delete files into one dimension frame
        (each is a takedown-scale row list, broadcastable next to the
        data) carrying its snapshot id as ``_pdelseq``."""
        return reduce(DataFrame.unionByName, [
            spark.read.parquet(os.path.join(self.delete_dir,
                                            s["delete_file"]))
            .select(F.col(PART_COL).alias("_pd_part"),
                    F.col("_fname").alias("_pd_fname"),
                    F.col("_pos").alias("_pd_pos"),
                    F.lit(int(s["snapshot_id"])).cast("long")
                    .alias("_pdelseq"))
            for s in pdels])

    @staticmethod
    def _pos_cond():
        # AT-OR-BEFORE (>=) — the Iceberg position-delete sequence
        # rule: a position delete names concrete files that existed
        # when it was written (same-sequence included: an engine may
        # delete from files it just committed), and can never name a
        # later file, so >= is both the spec rule and a no-op guard
        # against recycled file names.
        return ((F.col(PART_COL) == F.col("_pd_part"))
                & (F.col("_fname") == F.col("_pd_fname"))
                & (F.col("_pos") == F.col("_pd_pos"))
                & (F.col("_pdelseq") >= F.col("_dseq")))

    @staticmethod
    def _unannotate(df: DataFrame) -> DataFrame:
        return df.drop("_dseq", "_fname", "_pos")

    def delete_where(self, spark: SparkSession, cond,
                     run_id: str | None = None) -> dict:
        """Commit a POSITION delete (Iceberg v2 position-delete-file
        analog): scan the current live rows, record (partition, file,
        row ordinal) for every row matching ``cond`` (a Column or SQL
        string over the table's columns), and publish a
        ``pos_delete`` snapshot — no data partition is touched
        (merge-on-read). This is the predicate-takedown path when no
        natural key exists ("purge every row whose text matches this
        PII pattern"): the delete file stores coordinates, not
        values, so the purged content itself never persists in the
        tombstones (unlike an equality delete, whose file IS the key
        values). Ordinals come from the scan's
        ``_metadata.row_index`` — physical, split-safe, and stable
        because data files are immutable (``compact`` refuses
        partitions with pending position deletes).

        Rows already dead under pending deletes are not re-recorded;
        rows appended later are untouched (they cannot be named by
        position in files that already existed). Reads re-apply the
        file as a broadcast anti-join on (partition, file, pos)."""
        self._check_main_writable()
        run_id = run_id or f"posdelete-{int(time.time() * 1000)}"
        snap_id = self._next_snapshot_id()
        ann = self._live_scan(spark, None, keep_pos=True)
        if "_pos" not in ann.columns:
            return {"run_id": run_id, "n_delete_rows": 0,
                    "noop": "empty table"}
        cond_col = F.expr(cond) if isinstance(cond, str) else cond
        hits = ann.filter(cond_col).select(PART_COL, "_fname", "_pos")
        # run-unique name, written once, never renamed (delete_rows's
        # concurrency rule: a published snapshot may reference it)
        name = (f"posdelete-{snap_id:05d}-"
                f"{uuid.uuid4().hex[:8]}.parquet")
        path = os.path.join(self.delete_dir, name)
        hits.coalesce(1).write.mode("overwrite").parquet(path)
        n = spark.read.parquet(path).count()
        snapshot = {
            "snapshot_id": snap_id, "op": "pos_delete",
            "run_id": run_id,
            "committed_keys": sorted(self.committed_keys()),
            "delete_file": name, "n_delete_rows": int(n),
            "predicate": str(cond),
        }
        return self._publish_snapshot(snapshot)

    def delete_rows(self, keys_df: DataFrame, eq_cols: list[str],
                    run_id: str | None = None) -> dict:
        """Commit an equality delete: persist the distinct ``eq_cols``
        tuples of ``keys_df`` as a delete FILE and append a ``delete``
        snapshot — no data partition is touched (merge-on-read). The
        delete applies to every partition committed at-or-before this
        snapshot; rows appended later survive even if their keys
        match. Delete sets are dimension-sized (a takedown list, a PII
        scan's hit list), so reads apply them as broadcast anti-joins;
        fold them into the data with ``materialize_deletes`` when the
        accumulated delete count warrants a rewrite. Losing the
        snapshot id race serializes the delete after the winner, so it
        tombstones whatever is committed at that position (matching
        rows the winner appended included) — the at-or-before rule.
        """
        self._check_main_writable()
        run_id = run_id or f"delete-{int(time.time() * 1000)}"
        snap_id = self._next_snapshot_id()
        # Run-unique file name, written ONCE and never renamed. Two
        # concurrent delete_rows (e.g. two CDC upsert streams) both
        # compute the same provisional snap_id; a shared
        # delete-{snap_id}.parquet name would make the loser's write
        # clobber the winner's just-published file (and a post-CAS
        # rename leaves a window where a published snapshot references
        # a missing file — _live_deletes would silently skip the
        # tombstones). The numeric prefix is cosmetic (the PROVISIONAL
        # id); identity lives in the snapshot record's delete_file.
        name = (f"delete-{snap_id:05d}-"
                f"{uuid.uuid4().hex[:8]}.parquet")
        path = os.path.join(self.delete_dir, name)
        tuples = keys_df.select(*eq_cols).distinct()
        tuples.coalesce(1).write.mode("overwrite").parquet(path)
        n = keys_df.sparkSession.read.parquet(path).count()
        snapshot = {
            "snapshot_id": snap_id, "op": "delete", "run_id": run_id,
            "committed_keys": sorted(self.committed_keys()),
            "eq_cols": list(eq_cols), "delete_file": name,
            "n_delete_tuples": int(n),
        }
        return self._publish_snapshot(snapshot)

    def materialize_deletes(self, spark: SparkSession,
                            run_id: str | None = None) -> dict:
        """Fold pending equality deletes into the data (the
        ``rewrite_data_files``-with-deletes analog): rewrite ONLY the
        partitions that actually hold matching rows, bump their
        ``data_snapshot_id`` past every folded delete (so re-applying
        those deletes is a no-op by the sequence rule), then drop the
        delete files. Crash-safe like ``compact``: the per-partition
        swap is the same rename pair ``_recover_compaction`` repairs,
        and a kill before the delete files are removed just leaves
        merge-on-read in force (idempotent — the rows are already
        gone, and rewritten partitions outsequence the deletes).
        A delete that publishes while the materialization runs is not
        folded and keeps applying: the rewritten files stay sequenced
        before it (see ``_rebase`` below).

        Documented deviation from real Iceberg (same family as
        ``compact``'s): materializing EXPIRES the folded delete files
        immediately — a later time-travel read to a snapshot between
        the delete and the materialize sees raw rows (Iceberg keeps
        delete files until ``expire_snapshots``). Reads at-or-after
        the materialize snapshot are exact.
        """
        self._check_main_writable()
        run_id = run_id or f"materialize-{int(time.time() * 1000)}"
        # the id first: every delete sequenced below it is already
        # published, so the listing folds all of them
        snap_id = self._next_snapshot_id()
        dels, pdels = self._live_deletes()
        if not dels and not pdels:
            return {"run_id": run_id, "rewritten_keys": [],
                    "folded_deletes": []}
        raw = self.read(spark, apply_deletes=False)
        clean = self.read(spark)
        # partitions with rows to drop: raw minus clean, per key —
        # driver-side list bounded by the partition count
        hit = (raw.groupBy(PART_COL).count()
               .join(clean.groupBy(PART_COL).count()
                     .withColumnRenamed("count", "c2"),
                     PART_COL, "left")
               .filter(F.col("count") != F.coalesce("c2", F.lit(0)))
               .select(PART_COL).collect())
        keys = sorted(int(r[PART_COL]) for r in hit)
        staging = os.path.join(self.staging_dir, run_id)
        if keys:
            (clean.filter(F.col(PART_COL).isin(keys))
             .hint("rebalance", F.col(PART_COL))
             .write.mode("overwrite").partitionBy(PART_COL)
             .parquet(staging))
            for k in keys:
                files = self._swap_in(staging, k, run_id)
                m = self.manifest(k) or {"part_key": k}
                m.update({
                    "files": files,
                    "file_seq": {f: snap_id for f in files},
                    "data_snapshot_id": snap_id,
                    "deletes_materialized_by": run_id,
                })
                self._recount(spark, m, k)
                self._refresh_file_stats(m, self._part_dir(k), files)
                self._write_manifest(k, m)
            shutil.rmtree(staging, ignore_errors=True)
        folded = [s["snapshot_id"] for s in dels + pdels]
        for s in dels + pdels:
            shutil.rmtree(os.path.join(self.delete_dir,
                                       s["delete_file"]),
                          ignore_errors=True)
        snapshot = {
            "snapshot_id": snap_id, "op": "materialize_deletes",
            "run_id": run_id,
            "committed_keys": sorted(self.committed_keys()),
            "rewritten_keys": keys, "folded_deletes": folded,
        }

        seq = snap_id  # the rewritten files' sequence number

        def _rebase(snap: dict, new_id: int) -> dict:
            """Lost the id race: the rewritten files must stay
            sequenced at-or-after every delete this run folded and
            before every delete it did not — one that won an id at or
            after ours still applies to them. Absent such a delete
            they take the new id, else the last folded delete's."""
            nonlocal seq
            raced = any(s.get("op") in ("delete", "merge", "pos_delete")
                        and s["snapshot_id"] >= snap_id
                        for s in self.snapshots())
            new_seq = max(folded) if raced else new_id
            self._renumber_manifests(keys, seq, new_seq)
            seq = new_seq
            return self._rebased(snap, new_id)

        return self._publish_snapshot(snapshot, rebase=_rebase)

    # -- incremental scan ------------------------------------------------------

    def _resolve_window(self, from_snapshot_id: int,
                        to_snapshot_id: int | None) -> tuple[int, int]:
        snaps = {s["snapshot_id"] for s in self.snapshots()}
        if from_snapshot_id not in snaps:
            raise ValueError(f"no snapshot {from_snapshot_id}")
        to_snapshot_id = self._resolve_read(to_snapshot_id)
        if to_snapshot_id is None:
            to_snapshot_id = max(snaps)
        if to_snapshot_id not in snaps:
            raise ValueError(f"no snapshot {to_snapshot_id}")
        return from_snapshot_id, to_snapshot_id

    def _window_files(self, lo_excl: int, hi_incl: int) -> list[str]:
        """Paths of the live data files whose sequence number falls in
        (lo_excl, hi_incl] — FILE-granular (append mode adds files to
        existing partitions, so a partition-set diff alone
        under-reports)."""
        out = []
        for k in sorted(self.committed_keys()):
            m = self.manifest(k) or {}
            out += [os.path.join(self._part_dir(k), f)
                    for f in m.get("files", [])
                    if lo_excl < self._file_seq(m, f) <= hi_incl]
        return out

    def read_incremental(self, spark: SparkSession, from_snapshot_id: int,
                         to_snapshot_id: int | None = None) -> DataFrame:
        """Rows appended AFTER ``from_snapshot_id`` up to
        ``to_snapshot_id`` (default: main's head — while a branch is
        diverged, main's pin, so the branch's unpublished commits stay
        out) — the Iceberg incremental-scan analog, FILE-granular: new
        partitions and files appended into existing partitions both
        count (the scan reads exactly the files whose sequence number
        falls in the window). Deletes in the window apply under the
        same sequence rule as ``read``. Caveat shared with ``read``:
        files rewritten by compaction/materialization carry merged
        sequence numbers (documented there)."""
        a, b = self._resolve_window(from_snapshot_id, to_snapshot_id)
        files = self._window_files(a, b)
        if not files:
            return (self.read(spark, snapshot_id=b)
                    .filter(F.lit(False)))
        return self._live_scan(spark, b, files)

    def read_changes(self, spark: SparkSession, from_snapshot_id: int,
                     to_snapshot_id: int | None = None) -> DataFrame:
        """NET row-level changes between two snapshots — the Iceberg
        changelog-scan (CDC read) analog: every output row carries
        ``_change_type`` ∈ {'insert', 'delete'}.

        - insert = a row visible at ``to`` that was not visible at
          ``from`` (file-granular incremental read, window deletes
          already applied — a row inserted AND deleted inside the
          window nets out);
        - delete = a row visible at ``from`` that a window delete
          tombstones under the sequence rule (an upsert therefore
          emits delete(old) + insert(new), the classic changelog
          pair).

        ``to_snapshot_id`` defaults to main's head, as in
        ``read_incremental``: while a branch is diverged, the changes
        stop at main's pin. Valid while the window's delete files are
        retained (``materialize_deletes`` expires them — documented
        deviation shared with time travel)."""
        a, b = self._resolve_window(from_snapshot_id, to_snapshot_id)
        inserts = (self.read_incremental(spark, a, b)
                   .withColumn("_change_type", F.lit("insert")))
        dels, pdels = self._live_deletes(b)
        window_dels = [s for s in dels if s["snapshot_id"] > a]
        window_pos = [s for s in pdels if s["snapshot_id"] > a]
        # annotate ONCE at scan level (input_file_name rejects
        # multi-source plans), then derive visible-at-a (anti-join
        # deletes <= a) and the tombstoned set (semi-join window
        # deletes) from the same annotated frame
        ann = self._live_scan(spark, a, keep_pos=True)
        hits = [ann.join(F.broadcast(d), self._del_cond(eq_cols),
                         "left_semi")
                for eq_cols, d in self._delete_dims(spark,
                                                    window_dels)]
        if window_pos:
            hits.append(ann.join(
                F.broadcast(self._pos_dim(spark, window_pos)),
                self._pos_cond(), "left_semi"))
        if hits:
            deleted = self._unannotate(
                reduce(DataFrame.unionByName, hits)).distinct()
        else:
            deleted = self._unannotate(ann).filter(F.lit(False))
        deleted = deleted.withColumn("_change_type", F.lit("delete"))
        return inserts.unionByName(deleted.select(inserts.columns))

    # -- stats-pruned scan -----------------------------------------------------

    def read_where(self, spark: SparkSession, col: str | None = None,
                   lo=None, hi=None,
                   preds: dict | None = None,
                   snapshot_id: int | None = None,
                   tag: str | None = None) -> tuple[DataFrame, dict]:
        """Scan with manifest-stats partition pruning: keep only
        partitions whose recorded [min, max] overlaps the requested
        range (missing stats keep the partition — pruning is an
        optimization, never a filter), then prune individual FILES
        within kept partitions by their immutable footer bounds
        (``file_stats``) and — for point predicates — per-file bloom
        filters (``file_blooms``, recorded by ``write(bloom_cols=)``;
        ``files_pruned_bloom`` counts the files only the bloom could
        drop), then apply the residual predicate(s).
        Returns (df, prune_report); the report records how many
        partitions the manifests eliminated BEFORE any file listing
        (``partitions_pruned``, split into ``pruned_by_spec`` /
        ``pruned_by_stats``) and the per-file skip counts
        (``files_kept`` / ``files_pruned``, counted only where file
        stats exist) — the Iceberg planning-time data-skipping
        analog.

        ``preds`` = ``{col: (lo, hi)}`` prunes on a CONJUNCTION of
        ranges — a partition is skipped when ANY predicate's range
        misses its stats. On a z-ordered layout every clustered
        column's stats are tight, so a multi-dimensional point/range
        lookup prunes multiplicatively (the query shape z-order
        exists for); on a linear layout only the sort column
        contributes.

        ``snapshot_id`` / ``tag`` scope the pruned scan to a
        historical snapshot (pruning composed with time travel — the
        'reproduce the exact training-corpus slice' read). With
        neither, the scan is MAIN's state, as in ``read``: while a
        branch is diverged, main's pin, so the branch's unpublished
        partitions and files are neither scanned nor counted in the
        report. Pruning stays conservative under time travel: later
        appends only WIDEN a partition's recorded min/max, so stale
        stats can keep an extra partition but never wrongly drop one.
        """
        snapshot_id = self._resolve_read(snapshot_id, tag)
        snap = self._snapshot(snapshot_id)
        if preds is None:
            if col is None:
                raise ValueError("pass col or preds")
            preds = {col: (lo, hi)}
        elif col is not None:
            raise ValueError("pass col or preds, not both")
        scan_keys = sorted(self.committed_keys())
        if snapshot_id is not None:
            as_of = {int(x) for x in snap["committed_keys"]}
            scan_keys = [k for k in scan_keys if k in as_of]
        # hidden-partitioning pruning: if the table has a partition
        # spec, predicates on the spec's SOURCE columns eliminate
        # partitions by key arithmetic alone (partition_spec.py) —
        # no col_stats needed, exactly Iceberg's transform pruning.
        # Stats pruning still runs on the survivors.
        keyfn = None
        spec = self.partition_spec()
        if spec is not None:
            from .partition_spec import key_pruner
            keyfn = key_pruner(spec, preds, spark)
        kept, pruned, spec_pruned = [], [], []
        for k in scan_keys:
            if keyfn is not None and not keyfn(k):
                spec_pruned.append(k)
                continue
            stats = (self.manifest(k) or {}).get("col_stats", {})
            (pruned if _stats_miss(stats, preds) else kept).append(k)
        # file-level skipping WITHIN kept partitions: per-file footer
        # bounds recorded at commit time are immutable (files never
        # change in place), so unlike the partition entry they stay
        # exact in mixed-age partitions — a range scan over an
        # append-heavy table skips every non-overlapping append wave
        # file-by-file even though the partition range widened to
        # cover them all. Files without a recorded entry are kept
        # (pruning is an optimization, never a filter).
        # point predicates (lo == hi) additionally probe per-file
        # BLOOMS — the case range bounds cannot touch: every file's
        # [min, max] straddles the probe value when keys interleave
        # across write waves, yet only a few files actually hold it.
        points = {}
        for c, (lo_, hi_) in preds.items():
            if lo_ is not None and hi_ is not None and lo_ == hi_:
                pv = _bloom_probe_value(lo_)
                if pv is not None:
                    points[c] = pv
        sources, files_kept, files_pruned = [], 0, 0
        files_pruned_bloom = 0
        for k in kept:
            m = self.manifest(k) or {}
            fstats = m.get("file_stats") or {}
            fblooms = m.get("file_blooms") or {}
            names = m.get("files") or []
            if not names or (not fstats and not fblooms):
                sources.append(self._part_dir(k))
                continue
            for f in names:
                if (snapshot_id is not None
                        and self._file_seq(m, f) > snapshot_id):
                    continue  # not yet written as of the snapshot
                drop = _stats_miss(fstats.get(f) or {}, preds)
                if not drop and points and f in fblooms:
                    for c, pv in points.items():
                        ent = fblooms[f].get(c)
                        if ent is not None and \
                                not _bloom_maybe_contains(ent, pv):
                            drop = True
                            files_pruned_bloom += 1
                            break
                if drop:
                    files_pruned += 1
                else:
                    files_kept += 1
                    sources.append(os.path.join(self._part_dir(k), f))
        report = {"preds": {c: list(r) for c, r in preds.items()},
                  "col": col, "lo": lo, "hi": hi,
                  "partitions_kept": kept,
                  "partitions_pruned": sorted(pruned + spec_pruned),
                  "pruned_by_spec": spec_pruned,
                  "pruned_by_stats": pruned,
                  "files_kept": files_kept,
                  "files_pruned": files_pruned,
                  "files_pruned_bloom": files_pruned_bloom}
        df = self._live_scan(spark, snapshot_id, sources)
        if not sources:
            return df, report
        for c, (lo_, hi_) in preds.items():
            if lo_ is not None:
                df = df.filter(F.col(c) >= F.lit(lo_))
            if hi_ is not None:
                df = df.filter(F.col(c) <= F.lit(hi_))
        return df, report


def write_bucketed(df: DataFrame, table: str, path: str,
                   keys: list[str], buckets: int,
                   sort: bool = True) -> None:
    """Persist ``df`` as a BUCKETED external table (Spark's stored
    co-location contract — the open-format analog of Iceberg's
    bucket partition transform).

    Two tables bucketed by the same keys into the same bucket count
    join WITHOUT any Exchange: each task reads matching bucket files
    from both sides (plan-gated in tests/test_bucketed.py). At 100 TB
    this is the difference between re-shuffling the fact table on
    every join and paying the shuffle ONCE at write time — the right
    call for any join key used repeatedly (conv_id, doc_id, user_id).
    Bucket pruning applies to equality filters on the bucket key.
    External LOCATION keeps the data at ``path`` (no warehouse
    coupling); re-writing overwrites idempotently.

    ``sort=True`` sorts within buckets (and the pre-write repartition
    keeps one file per bucket, so each bucket IS globally sorted on
    disk). Note the planner still re-Sorts SMJ inputs — Spark dropped
    sorted-bucket-scan trust (SPARK-24528 lineage) because it cannot
    statically prove single-file buckets; the Exchange (the part that
    moves data between executors) is what bucketing eliminates, and
    the residual Sort is per-task over already-clustered rows.
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # co-locate each bucket's rows in one task: repartition uses the
    # same Murmur3 hash as the bucket spec, so the writer emits one
    # file per bucket instead of tasks x buckets small files
    df = df.repartition(buckets, *[F.col(k) for k in keys])
    w = df.write.mode("overwrite").bucketBy(buckets, *keys)
    if sort:
        w = w.sortBy(*keys)
    w.option("path", path).format("parquet").saveAsTable(table)


def _meta_snapshots(self, spark: SparkSession) -> DataFrame:
    """Iceberg ``t.snapshots`` metadata-table analog: commit history
    as a DataFrame (driver-side, manifests only — no data files
    touched)."""
    rows = [(int(s.get("snapshot_id", -1)),
             str(s.get("op", "append")),
             str(s.get("run_id", "")),
             len(s.get("committed_keys", [])),
             len(s.get("newly_committed", [])))
            for s in self.snapshots()]
    return spark.createDataFrame(
        rows or [(None, None, None, None, None)],
        "snapshot_id long, op string, run_id string,"
        " n_committed_keys int, n_newly_committed int").filter(
        F.col("snapshot_id").isNotNull())


def _meta_files(self, spark: SparkSession) -> DataFrame:
    """Iceberg ``t.files`` analog: one row per live data file with
    its partition, sequence number, size, per-file column bounds
    (``file_stats_json`` — the footer stats ``read_where`` skips on)
    and which columns carry a point-lookup bloom (``bloom_cols``) —
    the operational view behind compaction targeting and skew
    checks."""
    rows = []
    for k in sorted(self.committed_keys()):
        m = self.manifest(k) or {}
        fstats = m.get("file_stats") or {}
        fblooms = m.get("file_blooms") or {}
        for f in m.get("files", []):
            p = os.path.join(self._part_dir(k), f)
            try:
                size = os.path.getsize(p)
            except OSError:
                size = None
            rows.append((k, f, self._file_seq(m, f), size,
                         json.dumps(fstats[f], sort_keys=True)
                         if f in fstats else None,
                         ",".join(sorted(fblooms[f]))
                         if f in fblooms else None))
    return spark.createDataFrame(
        rows or [(None, None, None, None, None, None)],
        f"{PART_COL} int, file string, data_snapshot_id long,"
        " size_bytes long, file_stats_json string,"
        " bloom_cols string").filter(
        F.col("file").isNotNull())


def _meta_partitions(self, spark: SparkSession) -> DataFrame:
    """Iceberg ``t.partitions`` analog: per-partition file count, row
    metric and recorded column stats."""
    rows = []
    for k in sorted(self.committed_keys()):
        m = self.manifest(k) or {}
        rows.append((k, str(m.get("run_id", "")),
                     len(m.get("files", [])),
                     (m.get("metrics") or {}).get("rows"),
                     json.dumps(m.get("col_stats"))
                     if m.get("col_stats") else None))
    return spark.createDataFrame(
        rows or [(None, None, None, None, None)],
        f"{PART_COL} int, run_id string, n_files int, rows long,"
        " col_stats_json string").filter(
        F.col(PART_COL).isNotNull())


def _meta_tags(self, spark: SparkSession) -> DataFrame:
    """Iceberg ``t.refs`` analog: named refs as a DataFrame —
    ``type`` distinguishes immutable tags from mutable branches
    (including a pinned main while a branch is diverged)."""
    rows = [(str(o["name"]), kind, int(o["snapshot_id"]),
             float(o.get("created_at", 0.0)))
            for kind in ("branch", "tag") for o in self._refs(kind)]
    return spark.createDataFrame(
        rows or [(None, None, None, None)],
        "name string, type string, snapshot_id long,"
        " created_at double").filter(F.col("name").isNotNull())


# Iceberg metadata-table analogs (``SELECT * FROM t.files`` etc.):
# the manifests surfaced AS DataFrames, so operational queries — file
# counts, skew, commit history, stats coverage — run in SQL instead
# of ad-hoc JSON spelunking.
IcebergLike.meta_snapshots = _meta_snapshots
IcebergLike.meta_files = _meta_files
IcebergLike.meta_partitions = _meta_partitions
IcebergLike.meta_tags = _meta_tags
