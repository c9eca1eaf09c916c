"""Benchmark of the production extract job and reads of its table.

Run from the repository root:

    python3 jobbench/run.py --workload mixed_job --seed 1 --seconds 12 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with spans and Spark stage metrics and prints the per-layer
metrics instead. The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TURNS = {"mixed_job": 12000, "chat_skew": 12000}


def make_workdir() -> str:
    """A fresh work directory inside the checkout. This process writes no
    bytecode, nor do the Python workers (``start_spark`` tells them), so
    a run leaves no files behind once the directory is removed."""
    sys.dont_write_bytecode = True
    # Hadoop path globbing skips names starting with "." or "_"
    return tempfile.mkdtemp(prefix="work-", dir=HERE)


def measure(spark, workdir: str, workload: str, seed: int, seconds: float,
            trace: bool, turns: int | None = None, emit=print) -> dict:
    """Set up one workload on a running session, measure it and return
    the result object."""
    import sparkenv
    from spans import Spans
    from workloads import WORKLOADS

    with sparkenv.MemorySampler() as mem:
        wl = WORKLOADS[workload](spark, workdir, seed,
                                 turns or TURNS[workload], Spans(False))
        wl.setup()
        setup_s = time.perf_counter() - T_START
        host = {**sparkenv.host_context(), "workload": workload,
                "seed": seed, "turns": wl.inputs.n_turns,
                "setup_s": setup_s, "probe_before_s": sparkenv.probe_s()}
        if trace:
            from layers import traced
            metrics = traced(wl, seconds)
            # the inputs are sized so extraction keeps every slot busy
            if turns is None and metrics["_extract_tasks"] < sparkenv.SLOTS:
                raise RuntimeError(
                    f"extraction ran as {metrics['_extract_tasks']} task(s)"
                    f" on {sparkenv.SLOTS} slots")
        else:
            metrics = wl.timed(seconds)
        host["probe_after_s"] = sparkenv.probe_s()
        host["loadavg_1m_after"] = os.getloadavg()[0]
    t = wl.tally
    if not trace:
        metrics["setup_s"] = (setup_s, "s")
        metrics["peak_rss_mb"] = (mem.peak_mb(), "MB")
        metrics["ok_frac"] = ((t.attempted - t.failed) / max(1, t.attempted),
                              "fraction")
    host.update({k[1:]: v for k, v in metrics.items() if k[0] == "_"})
    emit(json.dumps({"host": host, "failures": t.notes}))
    if trace:
        emit(json.dumps({"spans": wl.spans.dump()}))
    return {"correct": t.failed == 0 and t.attempted > 0,
            "attempted": t.attempted, "failed": t.failed,
            "metrics": {k: {"value": vu[0], "unit": vu[1]}
                        for k, vu in sorted(metrics.items())
                        if k[0] != "_"}}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(TURNS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for need in ("textract_demo_spark", os.path.join("jobs",
                                                     "run_extract.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"jobbench: {need} not found under {ROOT}",
                  file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    workdir = make_workdir()
    import sparkenv
    spark = None
    try:
        spark = sparkenv.start_spark(workdir)
        result = measure(spark, workdir, args.workload, args.seed,
                         args.seconds, bool(args.trace))
    finally:
        if spark is not None:
            sparkenv.stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
