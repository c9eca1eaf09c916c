"""The workloads: set-up, the timed closed loop and the checks.

Each workload drives the production code: ``jobs/run_extract.py``'s
``main()`` called in-process with the job's own flags, and
``IcebergLike.read`` / ``read_where`` on the committed table. One client,
closed loop: the next operation starts when the previous one returns.
Outputs are checked after each operation, outside its timed span; an
operation that fails or does not verify counts against ``ok_frac``.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import json
import os
import shutil
import sys
import time
from dataclasses import dataclass, field

from pyspark.sql import Observation
from pyspark.sql import functions as F

from inputs import Inputs, chat_inputs, mixed_inputs, write_parquet
from textract_demo_spark.engine.tables import (PART_COL, IcebergLike,
                                               with_part_key)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUCKETS = 32
SCANS_PER_REP = 3  # one scan takes under a second: measure several


def _load_job():
    spec = importlib.util.spec_from_file_location(
        "run_extract", os.path.join(ROOT, "jobs", "run_extract.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def data_bytes(table: str) -> tuple[int, int]:
    """(Parquet data bytes, Parquet data files) under ``table``."""
    size = files = 0
    for dirpath, _, names in os.walk(os.path.join(table, "data")):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return size, files


@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.notes) < 20:
                self.notes.append(what)


@dataclass
class Lookup:
    plan_s: float
    exec_s: float
    files_kept: int
    files_pruned: int


class Workload:
    """Fresh-table ``run_extract`` reps over one seeded input, each
    followed by full scans of the table it committed; subclasses choose
    the input. ``on_op`` (set by the traced run) is called with None
    before each operation and with its span record after it."""

    def __init__(self, spark, workdir: str, seed: int, turns: int,
                 spans):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.turns = turns
        self.spans = spans
        self.on_op = None
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self.tally = Tally()
        self.job = _load_job()
        self.input_dir = os.path.join(workdir, "input")
        self.tables = os.path.join(workdir, "tables")
        self.inputs: Inputs | None = None
        self.table: str | None = None  # the latest committed table
        self.killed: str | None = None
        self.partitions = 0  # partitions the input fills
        self._n = 0

    def generate(self) -> Inputs:
        raise NotImplementedError

    def make_inputs(self) -> None:
        self.inputs = self.generate()
        write_parquet(self.inputs, self.input_dir)

    # -- program calls -------------------------------------------------

    def _new_table(self) -> str:
        self._n += 1
        return os.path.join(self.tables, f"t{self._n:04d}")

    def _replace_table(self, out: str) -> None:
        if self.table:
            shutil.rmtree(self.table, ignore_errors=True)
        self.table = out

    @contextlib.contextmanager
    def _op(self, name: str):
        # let Spark finish processing the events of the checks run
        # before, so they do not slow the operation about to be timed
        self._bus.waitUntilEmpty()
        if self.on_op is not None:
            self.on_op(None)  # drop the stages of those checks
        with self.spans.span(name) as sp:
            yield sp
        if self.on_op is not None:
            self.on_op(sp)

    def call_job(self, out: str, *flags: str) -> tuple[dict, float]:
        """Run ``run_extract.main`` in-process with the job's flags;
        returns its JSON record and the call's wall seconds."""
        argv = ["run_extract.py", "--input", self.input_dir, "--out", out,
                "--buckets", str(BUCKETS), *flags]
        buf = io.StringIO()
        saved = sys.argv
        sys.argv = argv
        try:
            t0 = time.perf_counter()
            with contextlib.redirect_stdout(buf):
                self.job.main()
            dt = time.perf_counter() - t0
        finally:
            sys.argv = saved
        return json.loads(buf.getvalue().strip().splitlines()[-1]), dt

    def job_rep(self, count: bool = True) -> float:
        """One job run on a fresh table; checked against the goldens."""
        out = self._new_table()
        with self._op("job") as sp:
            rec, dt = self.call_job(out)
            sp["phase_sec"] = rec.get("phase_sec", {})
        ok = (rec.get("rows_total") == self.inputs.n_turns
              and self.matches_golden(out))
        if count:
            self.tally.record(ok, f"job rep {self._n} did not verify")
        self._replace_table(out)
        return dt

    def make_killed(self, *flags: str) -> None:
        """Make a job run killed after half the partitions committed."""
        self.partitions = (
            with_part_key(self.spark.read.parquet(self.input_dir), BUCKETS)
            .select(PART_COL).distinct().count())
        self.killed = os.path.join(self.workdir, "killed")
        shutil.rmtree(self.killed, ignore_errors=True)
        try:
            self.call_job(self.killed, "--fail-after",
                          str(self.partitions // 2), *flags)
        except RuntimeError as e:
            if "injected failure" not in str(e):
                raise
        else:
            raise RuntimeError("--fail-after run did not stop")

    def resume_rep(self, *flags: str) -> float:
        """Restore the killed table (untimed) and resume it with the
        same flags; the completed table must match the goldens."""
        out = self._new_table()
        shutil.copytree(self.killed, out)
        with self._op("resume") as sp:
            rec, dt = self.call_job(out, *flags)
            sp["phase_sec"] = rec.get("phase_sec", {})
        ok = (rec.get("newly_committed")
              == self.partitions - self.partitions // 2
              and rec.get("committed_partitions") == self.partitions
              and self.matches_golden(out))
        self.tally.record(ok, f"resume rep {self._n} did not verify")
        self._replace_table(out)
        return dt

    def scan(self, count: bool = True) -> float:
        """Full scan of the latest table decoding every column."""
        obs = Observation("scan")
        with self._op("scan"):
            t0 = time.perf_counter()
            df = IcebergLike(self.table).read(self.spark)
            (df.observe(obs, F.count(F.lit(1)).alias("n"))
             .write.format("noop").mode("overwrite").save())
            dt = time.perf_counter() - t0
        if count:
            self.tally.record(obs.get["n"] == self.inputs.n_turns,
                              "scan row count")
        return dt

    def lookup(self, conv_id: str) -> Lookup:
        """Point lookup of one conversation through ``read_where``."""
        with self._op("lookup"):
            t0 = time.perf_counter()
            with self.spans.span("lookup.plan"):
                df, report = IcebergLike(self.table).read_where(
                    self.spark, col="conv_id", lo=conv_id, hi=conv_id)
            t1 = time.perf_counter()
            with self.spans.span("lookup.exec"):
                rows = df.select("turn_idx", "main_text").collect()
            t2 = time.perf_counter()
        want = self.inputs.turns_per_conv[conv_id]
        got = sorted((r["turn_idx"], r["main_text"] or "") for r in rows)
        ok = got == [(t, self.inputs.golden[(conv_id, t)][1])
                     for t in range(want)]
        self.tally.record(ok, f"lookup {conv_id}")
        return Lookup(t1 - t0, t2 - t1, report["files_kept"],
                      report["files_pruned"])

    # -- checks --------------------------------------------------------

    def matches_golden(self, table: str) -> bool:
        """Every committed turn's status, main_text and spans equal the
        golden under (conv_id, turn_idx), and no turn is missing."""
        got = (IcebergLike(table).read(self.spark)
               .select("conv_id", "turn_idx", "status", "main_text",
                       "spans")
               .toArrow().to_pylist())
        if len(got) != self.inputs.n_turns:
            return False
        seen = set()
        for r in got:
            key = (r["conv_id"], r["turn_idx"])
            g = self.inputs.golden.get(key)
            spans = [(s["start"], s["end"]) for s in r["spans"] or []]
            if (g is None or key in seen or r["status"] != g[0]
                    or (r["main_text"] or "") != g[1] or spans != g[2]):
                return False
            seen.add(key)
        return True

    def table_bytes_per_turn(self) -> float:
        return data_bytes(self.table)[0] / self.inputs.n_turns

    # -- the workload --------------------------------------------------

    def setup(self) -> None:
        self.make_inputs()
        self.job_rep(count=False)  # warm-up: JVM code paths, workers
        self.scan(count=False)

    def timed(self, seconds: float) -> dict:
        job_s = scan_s = 0.0
        reps = 0
        while reps == 0 or job_s < seconds:
            job_s += self.job_rep()
            scan_s += sum(self.scan() for _ in range(SCANS_PER_REP))
            reps += 1
        n = self.inputs.n_turns
        return {
            "job_turns_per_s": (n * reps / job_s, "1/s"),
            "scan_turns_per_s": (n * reps * SCANS_PER_REP / scan_s, "1/s"),
            "table_bytes_per_turn": (self.table_bytes_per_turn(), "B"),
            "_reps": reps,
        }


class MixedJob(Workload):
    def generate(self) -> Inputs:
        return mixed_inputs(self.seed, self.turns)


class ChatSkew(Workload):
    def generate(self) -> Inputs:
        return chat_inputs(self.seed, self.turns)


WORKLOADS = {"mixed_job": MixedJob, "chat_skew": ChatSkew}
