"""In-memory spans around the benchmark's calls into the engine.

A span has a name (``<layer>.<call>``), start and end (``perf_counter``
seconds), the index of its parent span and a request/cycle id.  Spans
are appended to a list while the run executes and written out once at
the end; nothing is recorded inside the engine itself.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict
from pathlib import Path


class Tracer:
    def __init__(self) -> None:
        # [name, start, end, parent, req]; end is None while the span is open
        self.spans: list[list] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, req=None):
        sid = len(self.spans)
        rec = [name, time.perf_counter(), None, self._stack[-1] if self._stack else None, req]
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def _closed(self) -> list[list]:
        """Spans with an end; an open span (a write from inside it) is
        closed at the current time in the returned copy."""
        now = time.perf_counter()
        return [[n, s, now if e is None else e, p, r] for n, s, e, p, r in self.spans]

    def self_times(self) -> list[float]:
        """Per span: its duration minus the time its direct children
        cover (children of one span never overlap: the benchmark calls
        the engine from a single thread)."""
        spans = self._closed()
        own = [end - start for _, start, end, _, _ in spans]
        for _, start, end, parent, _ in spans:
            if parent is not None:
                own[parent] -= end - start
        return own

    def self_by_layer(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for rec, own in zip(self.spans, self.self_times()):
            out[rec[0].split(".", 1)[0]] += own
        return dict(out)

    def write(self, path: Path) -> None:
        spans = self._closed()
        t0 = spans[0][1] if spans else 0.0
        own = self.self_times()
        rows = [
            {
                "id": i,
                "name": name,
                "start_s": start - t0,
                "end_s": end - t0,
                "self_s": own[i],
                "parent": parent,
                "req": req,
            }
            for i, (name, start, end, parent, req) in enumerate(spans)
        ]
        path.write_text(json.dumps(rows))


class NullTracer:
    """Tracing off: ``span`` costs one call and records nothing."""

    _null = contextlib.nullcontext()

    def span(self, name: str, req=None):
        return self._null
