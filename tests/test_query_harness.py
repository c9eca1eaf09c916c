"""Failure paths of the driver queries' shared harness
(engine/queries.py ``_scratch`` / ``_drain``); no Spark session."""

from __future__ import annotations

import os

import pytest

from textract_demo_spark.engine.queries import _drain, _scratch


class _StuckQuery:
    """A streaming query whose availableNow drain never finishes."""

    def __init__(self):
        self.stopped = False

    def awaitTermination(self, timeout):
        return False

    def stop(self):
        self.stopped = True


def test_unfinished_drain_stops_the_query_and_raises():
    q = _StuckQuery()
    with pytest.raises(RuntimeError, match="did not finish"):
        _drain(q)
    assert q.stopped


def test_scratch_dir_is_removed_when_the_body_raises():
    with pytest.raises(ValueError):
        with _scratch("harness_t_") as base:
            open(os.path.join(base, "f"), "w").close()
            raise ValueError("boom")
    assert not os.path.exists(base)
