"""In-memory span tracer that times the program's layers from outside.

Spans are recorded around calls into the program's public functions: the
benchmark's own calls go through `Tracer.span`, and calls the program
makes internally (run_pipeline's processors and sampling steps) are
reached by temporarily replacing the module attributes those calls look
up (`Tracer.patch`). Nothing inside the program is edited.

Spark evaluates lazily, so a span around a function that only builds a
DataFrame would time plan construction and leave the work to whichever
later call triggers it. In a traced run every wrapped function that
returns a DataFrame has its output materialised with an eager local
checkpoint and counted before the span closes, so each layer's span holds
that layer's work and the next layer reads the materialised rows. The
checkpoint also cuts the lineage: caching instead would leave every later
plan holding the whole upstream plan, and Spark's matching of those plans
against the cache grows with each layer until it dominates the run. Either
way the traced run repeats less work than the untraced one, which is why
the end-to-end metrics come from untraced runs and the difference is
reported as tracing overhead.
"""

from __future__ import annotations

import contextlib
import time

from pyspark.sql import DataFrame


class Tracer:
    """Spans (name, start, end, parent) kept in memory until `dump`."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        span = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(span)
        self._stack.append(span["id"])
        try:
            yield span
        finally:
            span["end"] = time.perf_counter()
            self._stack.pop()

    def call(self, name: str, fn, *args, **kwargs):
        """Run fn inside a span; a DataFrame result is materialised first."""
        with self.span(name):
            out = fn(*args, **kwargs)
            if isinstance(out, DataFrame):
                out = out.localCheckpoint(eager=True)
                self.spans[self._stack[-1]]["rows"] = out.count()
            return out

    def patch(self, module, attr: str, name: str) -> None:
        original = getattr(module, attr)

        def traced(*args, **kwargs):
            return self.call(name, original, *args, **kwargs)

        setattr(module, attr, traced)
        self._patches.append((module, attr, original))

    def unpatch(self) -> None:
        for module, attr, original in reversed(self._patches):
            setattr(module, attr, original)
        self._patches.clear()

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover
        (children of one parent run one after another, never overlap)."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) - child_time[s["id"]]
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def total_times(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out

    def dump(self) -> list[dict]:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        return [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans
        ]
