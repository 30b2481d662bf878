"""Python spans for the traced run.

A span has a name, start, end (epoch seconds, the event log's clock),
parent span and op id. Spans stay in memory and are written out when
the run ends. A span's name starts with its layer (``operators.knn_join``
is in layer ``operators``).

``Tracer.instrument`` wraps every public function of the engine's
layer packages in the modules that reference it, so each call into a
layer, including the library's calls between layers, records a span.
While a span is open its id is the Spark job group, which lets the
event-log parser attribute jobs, stages, tasks and SQL executions to
ops and spans.
"""

from __future__ import annotations

import functools
import json
import sys
import time
import types
from contextlib import contextmanager

LAYERS = ("sources", "functions", "operators", "plans")
PACKAGE = "optimizing_spark"
TAG = "pb"


def tag(op: int, span: int) -> str:
    return f"{TAG}:{op}:{span}"


def parse_tag(group: str | None) -> tuple[int, int] | None:
    """(op, span) from a job group written by ``tag``, else None."""
    if not group or not group.startswith(TAG + ":"):
        return None
    _, op, span = group.split(":")
    return int(op), int(span)


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self.active = False
        self.op: int | None = None
        self._stack: list[int] = []
        self._patched: list[tuple[types.ModuleType, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "op": self.op, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sid: int | None) -> None:
        if self.sc is None:
            return
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(tag(self.op, sid), self.spans[sid]["name"])

    def instrument(self) -> None:
        """Wrap the public functions of the layer packages in every loaded
        engine module that references them."""
        wrappers: dict[object, object] = {}
        for modname, mod in list(sys.modules.items()):
            if mod is None or not modname.startswith(PACKAGE + "."):
                continue
            for name, fn in list(vars(mod).items()):
                if name.startswith("_") or not isinstance(fn, types.FunctionType):
                    continue
                parts = fn.__module__.split(".")
                if parts[0] != PACKAGE or len(parts) < 3 or parts[1] not in LAYERS:
                    continue
                if fn not in wrappers:
                    wrappers[fn] = self._wrap(fn, f"{parts[1]}.{fn.__name__}")
                setattr(mod, name, wrappers[fn])
                self._patched.append((mod, name, fn))

    def restore(self) -> None:
        for mod, name, fn in reversed(self._patched):
            setattr(mod, name, fn)
        self._patched.clear()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= reach:
            continue
        total += e - max(s, reach)
        reach = e
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it that its children cover
    (children may overlap one another)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) - union_length(kids.get(s["id"], ()), s["start"], s["end"])
            for s in spans}
