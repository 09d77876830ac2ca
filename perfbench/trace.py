"""In-memory spans around the benchmark's calls into the package.

A span records name, layer, start, end, its parent span and the run id
shared by every span of one benchmark run.  While tracing, each span
also tags the Spark jobs it launches with the job group
``<run_id>|<iteration>|<span id>|<layer>``, so the event-log parser can
map every stage to the call that caused it.  Spans stay in memory and
are written out once, at the end of the run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark_context=None, run_id: str = "run", enabled: bool = False):
        self.sc = spark_context
        self.run_id = run_id
        self.enabled = enabled
        self.iteration = -1
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def group_of(self, sid: int) -> str:
        s = self.spans[sid]
        return f"{self.run_id}|{s['iteration']}|{sid}|{s['layer']}"

    def _set_group(self, sid: int | None) -> None:
        if self.sc is None:
            return
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self.group_of(sid), self.spans[sid]["name"])

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": sid, "name": name, "layer": layer, "parent": parent,
            "run": self.run_id, "iteration": self.iteration,
            "start": time.time(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(parent)

    def with_self_times(self) -> list[dict]:
        """Spans with ``self_s``: duration minus the time covered by
        children (children of one span run one after another)."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        return [
            {**s, "dur_s": s["end"] - s["start"],
             "self_s": s["end"] - s["start"] - child_s.get(s["id"], 0.0)}
            for s in self.spans
        ]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.with_self_times(), fh)
