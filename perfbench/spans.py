"""Span tracer for the traced run.

A span records its name, start, end, parent span, the workload's unit id
(day, query, shard or cycle) and the count of Spark jobs it launched. Jobs
are counted through a per-span job group: entering a span sets a fresh group
on the SparkContext, leaving it restores the parent's, and
``statusTracker().getJobIdsForGroup`` then gives the span's own jobs. A
span's ``jobs`` includes its children's.

Spark is lazy, so a span is charged for the actions it triggers: the CSV scan
and the casts of a daily load run inside ``lifecycle.write_build_table``.

Wrappers are installed at the name each caller looks up (a module attribute),
so the program itself is unchanged on disk. Spans stay in memory and are
written once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.unit: dict = {}
        self._stack: list[dict] = []
        self._sc = None
        self._patched: list[tuple[object, str, object]] = []

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent["id"] if parent else None,
               "unit": dict(self.unit), "jobs": 0, "child_s": 0.0, "child_jobs": 0}
        self.spans.append(rec)
        self._stack.append(rec)
        group = f"perfbench-span-{rec['id']}"
        if self._sc is not None:
            self._sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._sc is not None:
                own = len(self._sc.statusTracker().getJobIdsForGroup(group))
                rec["jobs"] = own + rec["child_jobs"]
                if parent is not None:
                    self._sc.setJobGroup(f"perfbench-span-{parent['id']}", parent["name"])
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
            if parent is not None:
                parent["child_s"] += rec["end"] - rec["start"]
                parent["child_jobs"] += rec["jobs"]

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` with a timed twin for the rest of the run.
        ``on_result(rec, result)`` may record extra fields on the span and
        return a substitute result."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    out = on_result(rec, out)
                return out

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, timed)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    # ---------------------------------------------------------------- readout

    def _ended(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and "end" in s]

    def durations(self, name: str, self_time: bool = False) -> list[float]:
        return [s["end"] - s["start"] - (s["child_s"] if self_time else 0.0)
                for s in self._ended(name)]

    def median_s(self, name: str, self_time: bool = False) -> float:
        d = self.durations(name, self_time)
        return statistics.median(d) if d else 0.0

    def mean_jobs(self, name: str) -> float:
        j = [s["jobs"] for s in self._ended(name)]
        return sum(j) / len(j) if j else 0.0

    def total(self, name: str, field: str) -> float:
        return sum(s.get(field, 0) for s in self._ended(name))

    def per_span_overhead_s(self, n: int = 200) -> float:
        """Cost of one empty span (job-group calls and bookkeeping), measured
        here so the run can report what tracing added."""
        keep, self.spans = self.spans, []
        t0 = time.perf_counter()
        for _ in range(n):
            with self.span("trace.calibrate"):
                pass
        cost = (time.perf_counter() - t0) / n
        self.spans = keep
        return cost

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps({k: v for k, v in s.items() if k != "child_jobs"}) + "\n")
