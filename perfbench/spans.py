"""Spans around the calls the benchmark makes into each layer.

Every span has its own Spark job group, so jobs (and, in a traced run,
the event log's task metrics) are attributed to the span that caused
them.  Spans stay in memory; the run writes them out when it ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Iterator


@dataclass
class Span:
    name: str  # "<layer>.<call>"
    group: str  # the Spark job group of the jobs the call ran
    parent: str | None
    pass_id: str  # "warmup-<i>" or "pass-<i>"
    start: float
    end: float = 0.0
    jobs: int = 0
    info: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark_context) -> None:
        self._sc = spark_context
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.pass_id = "setup"

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            name=name,
            group=f"{self.pass_id}/{len(self.spans)}/{name}",
            parent=parent.group if parent else None,
            pass_id=self.pass_id,
            start=time.perf_counter(),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self._sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(parent.group, parent.name)
            else:
                self._sc.setJobGroup(f"{self.pass_id}/untraced", "outside any span")

    def count_jobs(self, pass_id: str) -> None:
        """Fill ``jobs`` for the spans of one pass from the status
        tracker.  Called after the pass, outside its timed region, so the
        listener bus has delivered every job start of the pass."""
        tracker = self._sc.statusTracker()
        for sp in self.spans:
            if sp.pass_id == pass_id:
                sp.jobs = len(tracker.getJobIdsForGroup(sp.group))

    def of_pass(self, pass_id: str) -> list[Span]:
        return [sp for sp in self.spans if sp.pass_id == pass_id]

    def as_records(self) -> list[dict]:
        return [asdict(sp) for sp in self.spans]
