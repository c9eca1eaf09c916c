"""End-to-end kill + resume of the extraction job entrypoint
(jobs/run_extract.py): main() runs in-process over a parquet
transcripts input; a run killed after some partition commits and then
resumed must commit exactly the rows of an uninterrupted run."""

from __future__ import annotations

import importlib
import json
import sys

import pytest

from textract_demo_spark.engine.pipeline import fixtures_to_dfs
from textract_demo_spark.engine.tables import IcebergLike

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
