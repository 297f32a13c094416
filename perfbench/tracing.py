"""Spans around calls into the program's layers, recorded by the benchmark.

Each span runs under its own Spark job group, so the jobs, tasks and failed
tasks it caused are counted at the same boundary as its wall time. Spans
are kept in memory and written once, at the end of the run. With tracing
off, ``span`` only times; it sets no job group and counts nothing.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "group": f"pb-{len(self.spans)}-{name}",
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if self.enabled:
            self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            rec["wall_s"] = rec["end"] - rec["start"]
            self._stack.pop()
            if self.enabled:
                if self._stack:
                    self.sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def resolve_counts(self) -> None:
        """Fill jobs/tasks/tasks_failed per span (own group plus children).
        Called once at the end, after Spark's listener bus has drained."""
        if not self.enabled:
            return
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # the bus API is internal; fall back to a pause
            time.sleep(2.0)
        st = self.sc.statusTracker()
        for rec in self.spans:
            jobs = st.getJobIdsForGroup(rec["group"])
            tasks = failed = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for s in info.stageIds if info else []:
                    si = st.getStageInfo(s)
                    if si:
                        tasks += si.numCompletedTasks
                        failed += si.numFailedTasks
            rec.update(own_jobs=len(jobs), own_tasks=tasks, own_tasks_failed=failed)
        for rec in reversed(self.spans):  # children have larger ids
            for k in ("jobs", "tasks", "tasks_failed"):
                rec[k] = rec.get(k, 0) + rec[f"own_{k}"]
            if rec["parent"] is not None:
                parent = self.spans[rec["parent"]]
                for k in ("jobs", "tasks", "tasks_failed"):
                    parent[k] = parent.get(k, 0) + rec[k]

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f, indent=1, default=str)
