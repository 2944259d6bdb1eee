"""In-memory span tracer for the traced benchmark run.

A span records its name, start, end, parent span and operation id.
Spans are opened only by the benchmark's own files: around the calls it
makes into a layer, and through :meth:`Tracer.instrument`, which wraps
a layer's public function for the duration of a traced pass so that
calls the program makes internally are seen too.  Self time is a span's
duration minus the part its child spans cover.

Span names are ``<layer>.<function>``; the layer is everything before
the last dot (``dsl.compiler.bind`` belongs to ``dsl.compiler``).
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: list[dict] = []  # {"op", "name", "value"}
        self._stack: list[int] = []
        self.op: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {"name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, value: float) -> None:
        self.counts.append({"op": self.op, "name": name, "value": value})

    @contextlib.contextmanager
    def instrument(self, targets):
        """Wrap each ``(owner, attribute, span name)`` in ``targets`` with
        a span for the duration of the block, then restore it."""
        saved = []
        try:
            for owner, attr, name in targets:
                orig = getattr(owner, attr)
                saved.append((owner, attr, orig))
                setattr(owner, attr, self._wrap(orig, name))
            yield
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        return wrapper

    # ------------------------------------------------------ analysis

    def self_times(self) -> list[float]:
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [s["end"] - s["start"] - c for s, c in zip(self.spans, child)]

    def per_group(self, ops_of_group: dict) -> dict:
        """Sum span durations (``<name>_s``) and counts per group of op
        ids, e.g. per pass: ``{group: {metric: value}}``."""
        group_of = {op: g for g, ops in ops_of_group.items() for op in ops}
        out = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            g = group_of.get(s["op"])
            if g is not None:
                out[g][s["name"] + "_s"] += s["end"] - s["start"]
        for c in self.counts:
            g = group_of.get(c["op"])
            if g is not None:
                out[g][c["name"]] += c["value"]
        return out

    def dump(self, path: str, extra: dict) -> None:
        """Write every span (with self time), every count and the self
        time summed per layer."""
        selfs = self.self_times()
        t0 = self.spans[0]["start"] if self.spans else 0.0
        by_layer = defaultdict(float)
        for s, st in zip(self.spans, selfs):
            by_layer[s["name"].rsplit(".", 1)[0]] += st
        doc = {
            **extra,
            "self_s_by_layer": dict(sorted(by_layer.items())),
            "spans": [
                {"name": s["name"], "op": s["op"], "parent": s["parent"],
                 "start_s": s["start"] - t0, "end_s": s["end"] - t0,
                 "self_s": st}
                for s, st in zip(self.spans, selfs)
            ],
            "counts": self.counts,
        }
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=1)


def median_over(groups: dict, names) -> dict:
    """Median over groups of each metric; a group without the metric
    counts as 0 (the layer did no work in it)."""
    return {n: statistics.median([g.get(n, 0.0) for g in groups.values()])
            if groups else 0.0 for n in names}
