"""Tiny-input self-check of the benchmark: each workload with its output
checks, the traced run, and a check that a wrong output is caught. All of
it shares one Spark session, so it runs in a process of its own:

    python3 -m pytest jobbench/selfcheck.py -q -p no:cacheprovider

``test_selfcheck.py`` starts it that way. Stopping a JVM does not free
the program's module-level UDFs, which stay bound to it, so no later
Spark session can share that process.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [p for p in (ROOT, HERE) if p not in sys.path]

import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
TINY = 150


@pytest.fixture(scope="module")
def session():
    import sparkenv
    workdir = run.make_workdir()
    spark = sparkenv.start_spark(workdir)
    yield spark, workdir
    sparkenv.stop_spark(spark)
    shutil.rmtree(workdir, ignore_errors=True)


def _subdir(session, name: str) -> str:
    d = os.path.join(session[1], name)
    os.makedirs(d)
    return d


def _units(spec_key: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in SPEC[spec_key]}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_runs_and_verifies(session, workload):
    res = run.measure(session[0], _subdir(session, workload), workload,
                      seed=3, seconds=0, trace=False, turns=TINY,
                      emit=lambda line: None)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == _units("end_to_end")
    assert all(v["value"] > 0 for v in res["metrics"].values())
    assert res["metrics"]["ok_frac"]["value"] == 1.0


def test_traced_run_reports_every_layer(session):
    import layers
    from spans import Spans
    from workloads import MixedJob

    wl = MixedJob(session[0], _subdir(session, "traced"), 4, TINY,
                  Spans(False))
    wl.make_inputs()  # no warm-up: the first test warmed the session
    metrics = layers.traced(wl, 0, lookups=5)
    assert wl.tally.failed == 0 and wl.tally.attempted > 0
    assert metrics.pop("_extract_tasks") >= 1
    assert {k: u for k, (_, u) in metrics.items()} == _units("per_layer")
    assert metrics["resume.extracted_frac"][0] == pytest.approx(1.0)
    assert 0 < metrics["read.files_pruned_frac"][0] <= 1
    names = {r["name"] for r in wl.spans.records}
    assert {"core", "udfs.extract", "rules.pipeline", "job", "resume",
            "scan", "lookup", "lookup.plan", "lookup.exec"} <= names
    assert all(r["end"] >= r["start"] for r in wl.spans.records)


def test_wrong_output_counts_as_failed(session):
    from spans import Spans
    from workloads import MixedJob

    wl = MixedJob(session[0], _subdir(session, "wrong"), 5, TINY,
                  Spans(False))
    wl.make_inputs()
    key = next(k for k, g in wl.inputs.golden.items() if g[0] == "ok")
    status, text, spans = wl.inputs.golden[key]
    wl.inputs.golden[key] = (status, text + " ", spans)
    wl.job_rep()
    assert (wl.tally.attempted, wl.tally.failed) == (1, 1)
