"""In-memory spans taken by the benchmark around its calls into the
package. Each span records name, start, end, parent and the op it
belongs to; spans are written out once, when the run ends."""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "t0_ms": time.time() * 1000,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def wrapped(self, targets: list[tuple[object, str, str]]):
        """Put a span named ``name`` around every call of ``module.attr``
        for each ``(module, attr, name)`` in ``targets``, and restore the
        originals on exit. The package's own call paths stay as they
        are; only the names they look up are wrapped."""
        saved = []
        try:
            for module, attr, name in targets:
                fn = getattr(module, attr)
                saved.append((module, attr, fn))
                setattr(module, attr, self._spanned(fn, name))
            yield
        finally:
            for module, attr, fn in reversed(saved):
                setattr(module, attr, fn)

    def _spanned(self, fn, name: str):
        @functools.wraps(fn)
        def call(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return call

    def total(self, name: str, op: str | None = None) -> float:
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and (op is None or s["op"] == op)
        )

    def self_time(self, name: str, op: str | None = None) -> float:
        """Summed duration of ``name`` spans minus their direct children."""
        ids = {
            s["id"] for s in self.spans
            if s["name"] == name and (op is None or s["op"] == op)
        }
        child = sum(
            s["end"] - s["start"] for s in self.spans if s["parent"] in ids
        )
        return self.total(name, op) - child

    def find(self, name: str, op: str) -> dict | None:
        return next(
            (s for s in self.spans if s["name"] == name and s["op"] == op), None
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
