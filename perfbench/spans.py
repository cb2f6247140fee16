"""In-memory span recorder for the traced run.

A span is one call into a layer: name, layer, start, end, parent span and
the operation id it belongs to.  Spans are kept in a list and written out
with the run record when the run ends.  Counters are attached to the
innermost open span, so counts are taken at the same boundaries as the
times.  Recording is off unless ``enabled`` is set; wrapped functions then
cost one attribute test per call.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.op_id: str | None = None

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        sp = {
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self.op_id,
            "name": name,
            "layer": layer,
            "start": time.perf_counter(),
            "end": None,
            "counts": defaultdict(float),
        }
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, key: str, n: float = 1) -> None:
        if self.enabled and self._stack:
            self._stack[-1]["counts"][key] += n

    def inside(self, *layers: str) -> bool:
        return any(sp["layer"] in layers for sp in self._stack)

    def wrap(self, fn, name: str, layer: str):
        """``fn`` timed as a span; a no-op pass-through while disabled."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return wrapper


def children_of(spans: list[dict]) -> dict[int, list[dict]]:
    kids: dict[int, list[dict]] = defaultdict(list)
    for sp in spans:
        if sp["parent"] is not None:
            kids[sp["parent"]].append(sp)
    return kids


def duration(sp: dict) -> float:
    return sp["end"] - sp["start"]


def self_time(sp: dict, kids: dict[int, list[dict]]) -> float:
    """Span duration minus the part of it that its children cover."""
    covered = 0.0
    cur_start = cur_end = None
    for c in sorted(kids.get(sp["id"], ()), key=lambda c: c["start"]):
        if cur_end is None or c["start"] > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = c["start"], c["end"]
        else:
            cur_end = max(cur_end, c["end"])
    if cur_end is not None:
        covered += cur_end - cur_start
    return duration(sp) - covered


def subtree(sp: dict, kids: dict[int, list[dict]]) -> list[dict]:
    out, todo = [], [sp]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], ()))
    return out
