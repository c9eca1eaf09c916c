"""Runs the benchmark's self-check (``selfcheck.py``) in a child process,
so its Spark session never shares a process with other tests."""

from __future__ import annotations

import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def test_selfcheck_passes_in_its_own_process():
    r = subprocess.run(
        [sys.executable, "-m", "pytest", os.path.join(HERE, "selfcheck.py"),
         "-q", "-p", "no:cacheprovider"],
        cwd=os.path.dirname(HERE), capture_output=True, text=True,
        timeout=600)
    assert r.returncode == 0, r.stdout[-4000:]
