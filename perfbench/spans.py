"""Spans recorded by the benchmark around its calls into the package.

A span has a name, start and end (epoch ms, to join against Spark's event
log), a parent and the run id. While a span is open its id is the Spark
job group, so the ledger can attribute the jobs the call ran. With tracing
off, :meth:`Tracer.span` only runs the body: no job group is set and
nothing is recorded, so end-to-end timings carry no tracing cost.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, spark=None):
        """Record ``name`` around the body; ``spark`` tags its jobs."""
        if not self.enabled:
            yield
            return
        sid = f"{self.run_id}/{len(self.spans)}/{name}"
        rec = {"id": sid, "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        sc = spark.sparkContext if spark is not None else None
        if sc is not None:
            sc.setJobGroup(sid, name)
        self._stack.append(sid)
        rec["start_ms"] = time.time() * 1000
        try:
            yield
        finally:
            rec["end_ms"] = time.time() * 1000
            self._stack.pop()
            if sc is not None:
                # spans that tag jobs are never nested: the group ends here
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]
