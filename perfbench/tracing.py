"""Spans around calls into the program's layers, for the traced run only.

A span records its name, its parent, start and end, and the process-tree CPU
spent inside it (``procstat.tree_cpu_s``). A top-level span may also name a
Spark job group, so that the status store can attribute the stages its jobs
ran. Spans stay in memory and are printed with the run's report.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass

from perfbench.procstat import tree_cpu_s

BOOKKEEPING = "bookkeeping"  # job group of the benchmark's own counting jobs


@dataclass
class Span:
    name: str
    parent: str | None
    start: float
    end: float
    cpu_s: float

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._stack: list[str] = []
        self.spans: dict[str, Span] = {}
        self._sc.setJobGroup(BOOKKEEPING, BOOKKEEPING)

    @contextmanager
    def span(self, name: str, job_group: str | None = None):
        if job_group is not None:
            self._sc.setJobGroup(job_group, job_group)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        c0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans[name] = Span(name, parent, t0, t1, tree_cpu_s() - c0)
            if job_group is not None:
                self._sc.setJobGroup(BOOKKEEPING, BOOKKEEPING)

    def report(self) -> list[dict]:
        t0 = min((s.start for s in self.spans.values()), default=0.0)
        return [
            {"name": s.name, "parent": s.parent, "start_s": round(s.start - t0, 4),
             "end_s": round(s.end - t0, 4), "cpu_s": round(s.cpu_s, 3)}
            for s in sorted(self.spans.values(), key=lambda s: s.start)
        ]
