"""In-memory spans recorded around the benchmark's calls into each layer."""

from __future__ import annotations

import contextlib
import time


class Tracer:
    """Spans of one run: ``{run, id, parent, name, start, end, attrs}``.

    Spans stay in memory; the caller writes them out when the run ends.
    Times are ``time.perf_counter`` seconds.
    """

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "run": self.run_id,
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "attrs": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
