"""In-memory spans recorded around calls into the engine's public functions.

A span is (name, start, end, parent, id): ``id`` is the shared identifier of
one unit of work (an epoch id or a query name) and ``parent`` the index of
the enclosing span. Spans nest per thread; a span opened on a thread with
no open span (foreachBatch runs on a Py4J callback thread) takes the
tracer's current ``root`` as parent. The tracer only records: the
benchmark installs it around calls when ``--trace 1`` is given, and writes
``spans`` out once the run ends.
"""

from __future__ import annotations

import contextlib
import threading
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.root: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, id=None):
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        rec = {"name": name, "id": id, "parent": parent, "start": time.perf_counter(), "end": None}
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        try:
            yield idx
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    @contextlib.contextmanager
    def under(self, idx: int):
        """Make span ``idx`` the parent of spans opened on other threads."""
        prev, self.root = self.root, idx
        try:
            yield
        finally:
            self.root = prev

    def wrap(self, obj, method: str, name: str, id_of=None) -> None:
        """Replace ``obj.method`` on this instance only with a traced call.
        ``id_of(*args)`` gives the span's shared id."""
        inner = getattr(obj, method)

        def traced(*args, **kwargs):
            with self.span(name, id_of(*args) if id_of else None):
                return inner(*args, **kwargs)

        setattr(obj, method, traced)

    def callable(self, obj, name: str, id_of=None):
        """A stand-in for callable ``obj`` whose calls are spans; other
        attributes read through to ``obj``. (Python looks ``__call__`` up
        on the type, so ``wrap`` cannot trace calls of the object itself.)"""
        return _TracedCallable(obj, self, name, id_of)

    def durations(self, name: str) -> list[tuple[object, float]]:
        return [(s["id"], s["end"] - s["start"]) for s in self.spans if s["name"] == name and s["end"]]

    def dump(self) -> list[dict]:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        return [
            dict(s, start=round(s["start"] - t0, 6), end=round(s["end"] - t0, 6) if s["end"] else None)
            for s in self.spans
        ]


class _TracedCallable:
    def __init__(self, inner, tracer: Tracer, name: str, id_of) -> None:
        self._inner, self._tracer, self._name, self._id_of = inner, tracer, name, id_of

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._name, self._id_of(*args) if self._id_of else None):
            return self._inner(*args, **kwargs)

    def __getattr__(self, attr):
        return getattr(self._inner, attr)


class NullTracer(Tracer):
    """Used with ``--trace 0``: the same calls, nothing recorded."""

    @contextlib.contextmanager
    def span(self, name: str, id=None):
        yield None

    def wrap(self, obj, method: str, name: str, id_of=None) -> None:
        pass

    def callable(self, obj, name: str, id_of=None):
        return obj
