"""In-memory spans for the traced run.

A span records name, start, end, parent and run id. Spans are kept in a
list and written as JSON lines once the run ends.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list = []
        self._stack: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "run": self.run_id, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def total_s(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def nesting_errors(self) -> list:
        """Spans that are open, or that do not lie inside their parent."""
        bad = []
        for s in self.spans:
            if s["end"] is None:
                bad.append(s["id"])
                continue
            if s["parent"] is not None:
                p = self.spans[s["parent"]]
                if not (p["start"] <= s["start"] <= s["end"] <= p["end"]):
                    bad.append(s["id"])
        return bad

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
