"""Span recorder for the traced benchmark run.

Spans are recorded only by benchmark code: ``Tracer.wrap`` installs a
timing wrapper around a public method or module attribute of the engine at
run time and ``Tracer.unwrap_all`` restores the originals. Each span keeps
its name, start, end and parent; spans live in memory and are written out
once, at exit. A span opened on a thread with no open span of its own (the
engine's concurrent commit threads) is parented to the innermost span open
on the thread that created the tracer.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack = self._stack()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            parent = self._main_stack[-1] if self._main_stack else None
        rec = {"name": name, "start": time.monotonic(), "end": None,
               "parent": parent, "attrs": attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.monotonic()

    def wrap(self, owner: object, attr: str, name: str, hook=None) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper. ``hook(rec,
        args, kwargs, call)`` may replace the plain call to add attributes
        (it must call ``call()`` exactly once and return its result)."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                if hook is None:
                    return orig(*args, **kwargs)
                return hook(rec, args, kwargs, lambda: orig(*args, **kwargs))

        self.patch(owner, attr, wrapper)

    def patch(self, owner: object, attr: str, value: object) -> None:
        """Replace ``owner.attr`` until ``unwrap_all``."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ---------- aggregation ----------

    def _children(self) -> dict[int, list[dict]]:
        kids: dict[int, list[dict]] = {}
        for c in self.spans:
            if c["parent"] is not None and c["end"] is not None:
                kids.setdefault(c["parent"], []).append(c)
        return kids

    def self_time(self, span_id: int, kids: dict[int, list[dict]] | None = None) -> float:
        """Span duration minus the part of it covered by its children (the
        union of their intervals: concurrent children overlap)."""
        s = self.spans[span_id]
        kids = self._children() if kids is None else kids
        ivs = sorted(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in kids.get(span_id, [])
        )
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        return (s["end"] - s["start"]) - covered

    def totals(self, name: str) -> tuple[float, float, int]:
        """(total duration, total self time, calls) of closed spans named
        ``name``."""
        done = [s for s in self.spans if s["name"] == name and s["end"] is not None]
        kids = self._children()
        return (
            sum(s["end"] - s["start"] for s in done),
            sum(self.self_time(s["id"], kids) for s in done),
            len(done),
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, default=str)
