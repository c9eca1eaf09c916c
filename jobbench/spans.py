"""In-memory spans around the benchmark's calls into each layer.

A span records name, start, end, parent and op id. Spans are kept in
memory and printed when the run ends. A disabled recorder hands out a
throwaway record, so untraced runs pay one dict per call.
"""

from __future__ import annotations

import contextlib
import time


class Spans:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.records: list[dict] = []
        self._stack: list[int] = []
        self._op = 0

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}
            return
        if not self._stack:
            self._op += 1
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "op": self._op}
        self.records.append(rec)
        self._stack.append(len(self.records) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def dump(self) -> list[dict]:
        """The spans, each with its self time: its duration minus that of
        its child spans."""
        child = [0.0] * len(self.records)
        for r in self.records:
            if r["parent"] is not None:
                child[r["parent"]] += r["end"] - r["start"]
        return [{**r, "self": r["end"] - r["start"] - c}
                for r, c in zip(self.records, child)]
