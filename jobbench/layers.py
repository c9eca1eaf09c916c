"""The traced run: per-layer metrics timed from outside the program.

Layers are timed as prefixes of the job, each a call into the layer's
public functions:

1. ``core``: the kernel alone, replayed in the driver over the workload's
   own payloads (``extract_payload``, ``classify_quality``);
2. ``engine.udfs``: ``extract_turns`` -> noop;
3. ``engine.rules``: ``run_pipeline`` -> noop;
4. ``engine.tables``: the job, split by ``IcebergLike.write``'s returned
   ``phase_sec``; a kill + resume; ``read`` and ``read_where``.

Spark's status store supplies per-stage task time, shuffle bytes, spill
and GC for every traced operation.
"""

from __future__ import annotations

import os
import random
import statistics
import time

from sparkenv import SLOTS
from workloads import Workload, data_bytes

from textract_demo_spark.core.confidence import line_confidence
from textract_demo_spark.core.extract import extract_payload
from textract_demo_spark.core.quality import classify_quality

# job flags of the table the resume and read probes use
READER_LAYOUT = ("--bloom-cols", "conv_id")
# the kernel replay takes every KERNEL_STRIDE-th payload: kinds are
# hashed per turn, so the sample keeps the mix, and the traced run stays
# well inside its time limit on a slow host
KERNEL_STRIDE = 2

_STAGE_FIELDS = (
    "numTasks", "executorRunTime", "executorCpuTime", "jvmGcTime",
    "inputBytes", "inputRecords", "shuffleReadBytes", "shuffleReadRecords",
    "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled")


class StageLog:
    """Completed Spark stages not yet claimed, read from the status store
    (which Spark keeps with the UI off)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._gw = sc._gateway
        self._seen: set[tuple[int, int]] = set()
        self.take()

    def take(self) -> list[dict]:
        """Stages completed since the previous call."""
        self._sc.listenerBus().waitUntilEmpty()
        seq = self._store.stageList(
            None, False, False, self._gw.new_array(self._gw.jvm.double, 0),
            self._gw.jvm.java.util.ArrayList())
        out = []
        for i in range(seq.size()):
            s = seq.apply(i)
            key = (s.stageId(), s.attemptId())
            if key in self._seen or s.status().toString() != "COMPLETE":
                continue
            self._seen.add(key)
            d = {f: getattr(s, f)() for f in _STAGE_FIELDS}
            d["stage"], d["attempt"] = key
            out.append(d)
        return out

    def task_times_ms(self, stage: dict) -> list[int]:
        tasks = self._store.taskList(stage["stage"], stage["attempt"],
                                     stage["numTasks"])
        out = []
        for i in range(tasks.size()):
            m = tasks.apply(i).taskMetrics()
            if m.isDefined():
                out.append(m.get().executorRunTime())
        return out


def _sum(stages: list[dict], f: str) -> int:
    return sum(s[f] for s in stages)


def _extraction_stage(stages: list[dict]) -> dict | None:
    """The stage that reads the salted exchange and (in a job) writes the
    REBALANCE exchange; in a prefix -> noop run, the one shuffle reader."""
    both = [s for s in stages if s["shuffleReadRecords"]
            and s["shuffleWriteBytes"]]
    readers = both or [s for s in stages if s["shuffleReadRecords"]]
    return max(readers, key=lambda s: s["shuffleReadRecords"],
               default=None)


def _parallel(stage: dict | None) -> int:
    """Task slots the extraction stage could use: AQE may coalesce a
    small exchange into fewer tasks than slots."""
    return max(1, min(SLOTS, stage["numTasks"] if stage else SLOTS))


def kernel_replay(wl: Workload) -> dict:
    """The kernel alone in one driver thread over a sample of the
    workload's payloads: one warming pass, then a timed pass (Spark's
    reused Python workers have warm caches after the warm-up rep too).
    ``kernel_s`` is scaled up to every payload."""
    texts = [r["text"] if isinstance(r["text"], str) else ""
             for r in wl.inputs.rows[::KERNEL_STRIDE]]
    line_confidence.cache_clear()
    for t in texts:
        extract_payload(t)
    by_kind: dict[str, list[float]] = {}
    quality = 0.0
    clock = time.perf_counter
    with wl.spans.span("core"):
        for t in texts:
            t0 = clock()
            classify_quality(t)
            t1 = clock()
            res = extract_payload(t)
            t2 = clock()
            quality += t1 - t0
            kind = "bad" if res.status != "ok" else res.kind
            by_kind.setdefault(kind, []).append(t2 - t1)
    kernel_s = sum(sum(v) for v in by_kind.values())

    def us(kind: str) -> float:
        v = by_kind.get(kind)
        return 1e6 * sum(v) / len(v) if v else 0.0

    return {"kernel_s": kernel_s * wl.inputs.n_turns / len(texts),
            "core.turns_per_s": (len(texts) / kernel_s, "1/s"),
            "core.html_us": (us("html"), "us"),
            "core.pdf_us": (us("pdf"), "us"),
            "core.plain_us": (us("plain"), "us"),
            "core.bad_us": (us("bad"), "us"),
            "core.quality_us": (1e6 * quality / len(texts), "us")}


def _noop_prefix(wl: Workload, log: StageLog, name: str,
                 build) -> tuple[float, list[dict]]:
    """Seconds of ``build(transcripts)`` -> noop, and its stages."""
    log.take()
    with wl.spans.span(name):
        t0 = time.perf_counter()
        df = build(wl.spark.read.parquet(wl.input_dir))
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
    return dt, log.take()


def traced(wl: Workload, seconds: float, lookups: int = 20) -> dict:
    """Per-layer metrics of ``wl``. Its own loop runs for about
    ``seconds``, half of it traced."""
    from textract_demo_spark.engine.pipeline import run_pipeline
    from textract_demo_spark.engine.udfs import extract_turns

    n = wl.inputs.n_turns
    log = StageLog(wl.spark)
    ops: list[dict] = []

    def on_op(span: dict | None) -> None:
        stages = log.take()
        if span is not None:
            span["stages"] = stages
            ops.append(span)

    # the workload's own loop, one rep at a time, alternating untraced
    # and traced reps in ABBA order so warm-up drift cancels
    per_rep = {False: [], True: []}
    while not per_rep[True] or sum(per_rep[True]) < seconds / 2:
        for on in ((False, True) if len(per_rep[True]) % 2 == 0
                   else (True, False)):
            wl.spans.enabled = on
            wl.on_op = on_op if on else None
            per_rep[on].append(n / wl.timed(0)["job_turns_per_s"][0])
    wl.spans.enabled, wl.on_op = True, on_op
    window = [s for op in ops for s in op["stages"]]
    busy = sum(op["end"] - op["start"] for op in ops)
    run_ms = _sum(window, "executorRunTime")
    out = {
        "trace.overhead_frac": (
            1 - sum(per_rep[False]) / sum(per_rep[True]), "fraction"),
        "spark.busy_frac": (run_ms / 1000 / (busy * SLOTS), "fraction"),
        "spark.gc_s": (_sum(window, "jvmGcTime") / 1000, "s"),
    }
    ops.clear()

    k = kernel_replay(wl)
    kernel_s = k.pop("kernel_s")
    out.update(k)

    extract_s, ex_stages = _noop_prefix(
        wl, log, "udfs.extract", lambda t: extract_turns(t, salt=16))
    pipeline_s, _ = _noop_prefix(
        wl, log, "rules.pipeline",
        lambda t: run_pipeline(t, reviews=None, salt=16))
    ex = _extraction_stage(ex_stages)
    task_ms = log.task_times_ms(ex) if ex else []
    out.update({
        "udfs.extract_s": (extract_s, "s"),
        "udfs.boundary_s": (extract_s - kernel_s / _parallel(ex), "s"),
        "udfs.exchange_bytes_per_turn": (
            _sum([s for s in ex_stages if s is not ex],
                 "shuffleWriteBytes") / n, "B"),
        "udfs.task_skew": (
            max(task_ms) / statistics.median(task_ms)
            if task_ms and statistics.median(task_ms) else 1.0, "ratio"),
        "rules.s": (pipeline_s - extract_s, "s"),
    })

    # the job on a fresh table
    wl.job_rep()
    job = ops[-1]
    phase = job["phase_sec"]
    ex = _extraction_stage(job["stages"])
    _, files = data_bytes(wl.table)
    parts = sum(d.startswith("part_key=")
                for d in os.listdir(os.path.join(wl.table, "data")))
    out.update({
        "core.job_frac": (kernel_s / _parallel(ex)
                          / (job["end"] - job["start"]), "fraction"),
        "tables.stage_write_s": (phase["stage_write"], "s"),
        "tables.write_s": (phase["stage_write"] - pipeline_s, "s"),
        "tables.metrics_s": (phase["metrics"], "s"),
        "tables.promote_s": (phase["promote"], "s"),
        "tables.rebalance_bytes_per_turn": (
            (ex["shuffleWriteBytes"] if ex else 0) / n, "B"),
        "tables.spill_bytes": (
            _sum(job["stages"], "memoryBytesSpilled")
            + _sum(job["stages"], "diskBytesSpilled"), "B"),
        "tables.files_per_partition": (files / parts, "count"),
        "_extract_tasks": ex["numTasks"] if ex else 0,
    })

    # kill + resume in the reader-serving layout, then read the result
    wl.make_killed(*READER_LAYOUT)
    wl.resume_rep(*READER_LAYOUT)
    ex = _extraction_stage(ops[-1]["stages"])
    out["resume.extracted_frac"] = (
        (ex["shuffleReadRecords"] if ex else 0) / n, "fraction")
    wl.scan()
    scan_bytes = _sum(ops[-1]["stages"], "inputBytes")
    rng = random.Random(wl.seed)
    convs = sorted(wl.inputs.turns_per_conv)
    lks = [wl.lookup(rng.choice(convs)) for _ in range(lookups)]
    kept = sum(lk.files_kept for lk in lks)
    pruned = sum(lk.files_pruned for lk in lks)
    out.update({
        "read.plan_ms_p50": (
            statistics.median(1000 * lk.plan_s for lk in lks), "ms"),
        "read.exec_ms_p50": (
            statistics.median(1000 * lk.exec_s for lk in lks), "ms"),
        "read.files_pruned_frac": (
            pruned / (kept + pruned) if kept + pruned else 0.0, "fraction"),
        "read.scan_bytes_per_turn": (scan_bytes / n, "B"),
    })
    return out
