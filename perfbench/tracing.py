"""In-memory spans recorded around the benchmark's calls into each layer.

A span holds its name, start, end, parent span, op id and the Spark jobs it
ran. Jobs are found through a job group set on the calling thread; jobs the
engine submits from its own worker threads carry no group, so those are
attributed to the span during which they first appear. Spans stay in memory
and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """``on`` selects a traced run; within it, ops can still run untraced
    (see ``workloads.Run.measured``), so that tracing overhead is measured
    under the same conditions."""

    def __init__(self, spark, on: bool) -> None:
        self.sc = spark.sparkContext
        self.on = self.enabled = on
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._last_closed: dict | None = None
        self._seen_ungrouped: set[int] = set()
        self.op_id: int | None = None
        if on:
            self._seen_ungrouped = set(self._ungrouped())

    def _ungrouped(self) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(None))

    def _claim_ungrouped(self, span: dict | None) -> None:
        new = set(self._ungrouped()) - self._seen_ungrouped
        self._seen_ungrouped |= new
        if span is not None:
            span["ungrouped"].extend(sorted(new))

    @contextmanager
    def span(self, name: str):
        """Record one span; a no-op when tracing is off."""
        if not self.enabled:
            yield
            return
        self._claim_ungrouped(self._last_closed)
        parent = self._stack[-1] if self._stack else None
        sp = {"id": len(self.spans), "name": name, "op": self.op_id,
              "parent": parent["id"] if parent else None,
              "group": f"perfbench-{len(self.spans)}", "ungrouped": []}
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setLocalProperty("spark.jobGroup.id", sp["group"])
        sp["start"] = time.perf_counter()
        try:
            yield
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id", parent["group"] if parent else None)
            self._claim_ungrouped(sp)
            self._last_closed = sp

    @contextmanager
    def op(self, kind: str, index: int, traced: bool):
        """Span one measured op, or record nothing for an untraced one."""
        if not (self.on and traced):
            self.enabled = False
            try:
                yield
            finally:
                if self.on:
                    self.enabled = True
                    self._seen_ungrouped = set(self._ungrouped())
                    self._last_closed = None
            return
        self.op_id = index
        try:
            with self.span(f"op.{kind}"):
                yield
        finally:
            self.op_id = None

    def finish(self) -> None:
        """Resolve each span's Spark job ids and completed task counts."""
        if not self.on:
            return
        self._claim_ungrouped(self._last_closed)
        tracker = self.sc.statusTracker()
        for sp in self.spans:
            jobs = sorted(set(tracker.getJobIdsForGroup(sp["group"]))
                          | set(sp["ungrouped"]))
            tasks = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else ()):
                    st = tracker.getStageInfo(sid)
                    tasks += st.numCompletedTasks if st else 0
            sp["jobs"], sp["tasks"] = jobs, tasks
        children = defaultdict(list)
        for sp in self.spans:
            if sp["parent"] is not None:
                children[sp["parent"]].append(sp)
        for sp in self.spans:
            sp["self"] = (sp["end"] - sp["start"]) - _covered(
                children[sp["id"]])

    def subtree(self, sp: dict) -> list[dict]:
        out, todo = [], [sp["id"]]
        by_parent = defaultdict(list)
        for s in self.spans:
            by_parent[s["parent"]].append(s)
        while todo:
            sid = todo.pop()
            out.append(self.spans[sid])
            todo.extend(c["id"] for c in by_parent[sid])
        return out

    def named(self, name: str) -> list[dict]:
        return [sp for sp in self.spans if sp["name"] == name]

    def layer_table(self) -> dict[str, dict]:
        """Per span name: count, total and self seconds, jobs and tasks."""
        table: dict[str, dict] = {}
        for sp in self.spans:
            row = table.setdefault(sp["name"], {
                "count": 0, "total_s": 0.0, "self_s": 0.0, "jobs": 0,
                "tasks": 0, "durations": []})
            d = sp["end"] - sp["start"]
            row["count"] += 1
            row["total_s"] += d
            row["self_s"] += sp["self"]
            row["jobs"] += len(sp["jobs"])
            row["tasks"] += sp["tasks"]
            row["durations"].append(d)
        for row in table.values():
            row["median_s"] = statistics.median(row.pop("durations"))
        return table

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1,
                      default=str)


def _covered(kids: list[dict]) -> float:
    """Time a span's children cover: the benchmark is one client thread,
    so child spans never overlap."""
    return sum(k["end"] - k["start"] for k in kids)
