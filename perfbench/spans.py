"""In-memory span recorder for the traced run.

A span records a name, start, end, the span that caused it and a request
(or file) id. Spans are kept in memory and written out once, when the run
ends. Every span is opened from the benchmark's own files, around a call
into one layer of the program; nothing inside `streamds_spark/` is traced.

`NullTracer` is the untraced run's recorder: the same interface, no cost.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # time the benchmark spent on trace-only probes

    @contextlib.contextmanager
    def span(self, name: str, rid: str | None = None):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1] if stack else None,
            "rid": rid,
            "start": time.time(),
            "end": None,
        }
        stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    @contextlib.contextmanager
    def probe(self):
        """Time trace-only work (extra status calls, extra Spark jobs) so the
        traced run can report its own overhead."""
        t = time.perf_counter()
        try:
            yield
        finally:
            with self._lock:
                self.overhead_s += time.perf_counter() - t

    def durations_ms(self, name: str) -> list[float]:
        with self._lock:
            return [(s["end"] - s["start"]) * 1000 for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with self._lock, open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, rid: str | None = None):
        yield None

    @contextlib.contextmanager
    def probe(self):
        yield
