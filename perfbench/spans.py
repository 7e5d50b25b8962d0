"""In-memory spans for the traced benchmark run.

A span is recorded around each call from the benchmark into a module
of the program, and around calls between the program's own modules by
rebinding their public functions for the duration of one op. Spans
carry a name, start, end, the index of their parent span and the id of
the op (request) that caused them. They stay in memory and are written
out once, when the run ends.

Spark work is counted per op through a job group: the op's id is set
as the group before it runs, and ``statusTracker()`` then lists the
group's jobs, their stages and the stages' failed tasks.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

PACKAGE = "website_traffic_etl_gcp_spark"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int  # index into Tracer.spans, -1 for an op's root span
    request: int


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._request = -1
        self.jobs: dict[int, dict] = {}  # request -> spark job counts

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self._request))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    @contextmanager
    def op(self, spark, name: str):
        """Root span of one op, with its Spark jobs counted."""
        self._request += 1
        group = f"perfbench-{self._request}"
        sc = spark.sparkContext
        sc.setJobGroup(group, name)
        try:
            with self.span(name):
                yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.jobs[self._request] = _job_counts(sc, group)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @contextmanager
    def patched(self, targets: dict[str, object]):
        """Rebind each function in ``targets`` (span name -> function)
        to a traced wrapper in every loaded module of the program that
        holds it, and restore the originals on exit."""
        swaps = []
        for name, fn in targets.items():
            wrapper = self.wrap(name, fn)
            for mod_name, mod in list(sys.modules.items()):
                if mod is None or not mod_name.startswith(PACKAGE):
                    continue
                for attr, val in list(vars(mod).items()):
                    if val is fn:
                        setattr(mod, attr, wrapper)
                        swaps.append((mod, attr, fn))
        try:
            yield
        finally:
            for mod, attr, fn in swaps:
                setattr(mod, attr, fn)

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        part of it that its children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent >= 0:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[i]
        return out

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def per_request(self, name: str) -> list[float]:
        """Summed duration of the spans called ``name`` in each op that
        has any."""
        acc: dict[int, float] = {}
        for s in self.spans:
            if s.name == name:
                acc[s.request] = acc.get(s.request, 0.0) + s.end - s.start
        return list(acc.values())

    def dump(self, path: str, summary: dict) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "summary": summary,
                    "jobs": self.jobs,
                    "spans": [asdict(s) for s in self.spans],
                },
                fh,
            )


def _job_counts(sc, group: str) -> dict:
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = failed = 0
    for job_id in jobs:
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        for stage_id in info.stageIds:
            stages += 1
            st = tracker.getStageInfo(stage_id)
            if st is not None:
                failed += st.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "failed_tasks": failed}
