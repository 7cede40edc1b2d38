"""Spans recorded around the benchmark's calls into the program's layers.

A span has a name, start, end, parent span and run id.  While a span is
open its Spark jobs run under a job group of its own (``setJobGroup``), so
``statusTracker`` gives the jobs each span launched itself.  Spans stay in
memory and are written out once, when the run ends.  With tracing off,
:meth:`Tracer.span` does nothing but yield, and the untraced run sets no
job group.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = None

    def attach(self, spark) -> None:
        """Follow *spark*'s context (set-up replaces the session)."""
        self._sc = spark.sparkContext

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None,
               "run_id": self.run_id, "jobs": 0}
        group = f"{self.run_id}:{rec['id']}"
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._sc is not None:
                rec["jobs"] = len(self._sc.statusTracker().getJobIdsForGroup(group))
            if parent is not None:
                self._set_group(f"{self.run_id}:{parent['id']}", parent["name"])
            elif self._sc is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)

    def _set_group(self, group: str, name: str) -> None:
        if self._sc is not None:
            self._sc.setJobGroup(group, name)

    # -- summaries ------------------------------------------------------------

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.named(name)]

    def total_jobs(self, span: dict) -> int:
        """Jobs launched by *span* and every span below it."""
        kids = [s for s in self.spans if s["parent"] == span["id"]]
        return span["jobs"] + sum(self.total_jobs(k) for k in kids)

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [{**s, "start": s["start"] - t0, "end": s["end"] - t0}
                 for s in self.spans]
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "self_s": self.self_times(),
                       **extra, "spans": spans}, fh, indent=1)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def percentile(values: list[float], q: float) -> float:
    """The *q*-th percentile by linear interpolation (``statistics``'
    inclusive method); the median for one value."""
    if len(values) < 2:
        return median(values)
    return statistics.quantiles(values, n=100, method="inclusive")[int(q) - 1]
