"""Span recording for the traced run.

Spans are kept in memory and written as one JSON file when the run ends.
Each span has a name, start and end (epoch seconds, the clock Spark
stamps its stage records with), the span that caused it and the trace id
of the repetition it belongs to. Layers are wrapped from the outside:
``Tracer.patched`` swaps a module attribute for a span-recording wrapper
for the duration of a block, so the program itself is not changed.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.trace_id: str | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "trace": self.trace_id,
            "name": name,
            "start": time.time(),
            "end": None,
            "attrs": attrs,
        }
        # appended at open so ids follow start order; end is filled on close
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> dict:
        """Record a span measured elsewhere (e.g. a stage lap the program
        returns) as a child of ``parent``."""
        rec = {
            "id": len(self.spans),
            "parent": parent,
            "trace": self.trace_id,
            "name": name,
            "start": start,
            "end": end,
            "attrs": attrs,
        }
        self.spans.append(rec)
        return rec

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    @contextmanager
    def patched(self, targets):
        """Wrap each ``(module, attribute)`` in ``targets`` with a span
        named ``<module tail>.<attribute>`` inside the block, and restore
        the originals after it."""
        saved = []
        try:
            for mod, attr in targets:
                orig = getattr(mod, attr)
                saved.append((mod, attr, orig))
                name = f"{mod.__name__.removeprefix('sparkocr.')}.{attr}"
                setattr(mod, attr, self._wrap(orig, name))
            yield self
        finally:
            for mod, attr, orig in reversed(saved):
                setattr(mod, attr, orig)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def write(self, path: str, extra: dict | None = None) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"spans": self.spans, **(extra or {})}, f, indent=1)
        os.replace(tmp, path)
