"""In-memory spans and counters recorded around calls into the engine.

The benchmark measures layers from outside the engine: it wraps public
functions of the engine's modules for the duration of a traced phase and
restores them afterwards. A span is (id, name, start, end, parent,
request); spans of one top-level operation share its ``request`` id.
Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import Counter


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[list] = []   # [id, name, start, end, parent, request]
        self.counts: Counter = Counter()
        self._stack: list[list] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = [len(self.spans), name, time.perf_counter(), None,
               parent[0] if parent else -1,
               parent[5] if parent else len(self.spans)]
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec[3] = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        """Seconds spent in each finished span called ``name``."""
        return [s[3] - s[2] for s in self.spans if s[1] == name and s[3]]

    def write(self, path: str):
        with open(path, "w") as f:
            f.write(json.dumps({"run_id": self.run_id,
                                "counts": dict(self.counts)}) + "\n")
            for s in self.spans:
                f.write(json.dumps(dict(zip(
                    ("id", "name", "start", "end", "parent", "request"), s)))
                    + "\n")


@contextlib.contextmanager
def wrapped(tracer: Tracer, targets):
    """Replace each ``(owner, attr, span_name)`` function with one that
    records a span per call; a ``span_name`` starting with ``#`` only
    counts calls. The originals come back on exit."""
    saved = []
    for owner, attr, name in targets:
        fn = getattr(owner, attr)
        saved.append((owner, attr, fn))
        setattr(owner, attr, _wrap(tracer, name, fn))
    try:
        yield
    finally:
        for owner, attr, fn in reversed(saved):
            setattr(owner, attr, fn)


def _wrap(tracer: Tracer, name: str, fn):
    if name.startswith("#"):
        key = name[1:]

        @functools.wraps(fn)
        def counted(*a, **kw):
            tracer.counts[key] += 1
            return fn(*a, **kw)
        return counted

    @functools.wraps(fn)
    def spanned(*a, **kw):
        with tracer.span(name):
            return fn(*a, **kw)
    return spanned
