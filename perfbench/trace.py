"""Spans around the calls the benchmark makes into each layer.

The tracer replaces a public verb on one instance (or module) with a
wrapper that records ``(name, start, end, thread, key, count)`` and
calls the original.  Spans stay in memory; :meth:`Tracer.dump` writes them
out when the run ends.  Spans of one HTTP request share the handler
thread's name, and the engine verbs carry the txn id as ``key``.
"""

from __future__ import annotations

import json
import threading
import time
from collections.abc import Callable

from stats import summarize


class Tracer:
    def __init__(self) -> None:
        #: while False, wrapped calls run untraced
        self.enabled = True
        self.spans: list[tuple] = []
        self._lock = threading.Lock()
        self._undo: list[tuple] = []

    def wrap(self, owner, attr: str, name: str, key: Callable | None = None,
             count: Callable[[], int] | None = None) -> None:
        """Trace ``owner.attr`` as span ``name``.  ``key(args, result)``
        names the span's request (e.g. the txn id); ``count()`` is read
        before and after the call and the span keeps the difference
        (e.g. the Spark jobs the call issued)."""
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            c0 = count() if count is not None else 0
            t0 = time.time()
            result = None
            try:
                result = orig(*args, **kwargs)
                return result
            finally:
                t1 = time.time()
                k = key(args, result) if key is not None else None
                c = count() - c0 if count is not None else 0
                tracer.add(name, t0, t1, k, c)

        prev = vars(owner).get(attr, _MISSING)
        self._undo.append((owner, attr, prev))
        setattr(owner, attr, traced)

    def add(self, name: str, t0: float, t1: float, key=None, count: int = 0) -> None:
        with self._lock:
            self.spans.append((name, t0, t1, threading.current_thread().name, key, count))

    def restore(self) -> None:
        for owner, attr, prev in reversed(self._undo):
            if prev is _MISSING:
                delattr(owner, attr)
            else:
                setattr(owner, attr, prev)
        self._undo.clear()

    def clear(self) -> None:
        with self._lock:
            self.spans.clear()

    def of(self, name: str) -> list[tuple]:
        with self._lock:
            return [s for s in self.spans if s[0] == name]

    def ms(self, name: str) -> list[float]:
        return [(s[2] - s[1]) * 1000.0 for s in self.of(name)]

    def dump(self, path: str, extra: dict | None = None) -> None:
        names = sorted({s[0] for s in self.spans})
        doc = {
            "summary": {n: summarize(self.ms(n)) for n in names},
            "spans": [dict(zip(("name", "start", "end", "thread", "key", "count"), s)) for s in self.spans],
            **(extra or {}),
        }
        with open(path, "w") as fh:
            json.dump(doc, fh, default=str)


_MISSING = object()
