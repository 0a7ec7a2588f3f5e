"""Spans around the benchmark's calls into the engine's layers.

A span records name, start, end, parent and op id. It runs its Spark
work under a job group of its own, so the jobs, stages and tasks it
launched are read back from ``statusTracker`` when it closes. Spans
are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._prefix = f"perfbench-{os.getpid()}"

    def _group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    @contextmanager
    def span(self, name: str, op: int):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": op,
            "parent": parent["id"] if parent else None,
            "group": f"{self._prefix}-{len(self.spans)}",
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._group(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._group(parent)
            rec.update(self._counters(rec["group"]))

    def _counters(self, group: str) -> dict:
        # job/stage/task events reach the status store through the
        # asynchronous listener bus; drain it so counts are complete
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        jobs = stages = tasks = failed = 0
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                s = st.getStageInfo(sid)
                if s is None:
                    continue
                failed += s.numFailedTasks
                if s.numCompletedTasks == 0:
                    continue  # skipped: its output was reused
                stages += 1
                tasks += s.numCompletedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}

    def tree(self, span: dict) -> dict:
        """Counters of ``span`` plus all its descendants."""
        out = {k: span[k] for k in ("jobs", "stages", "tasks", "failed_tasks")}
        for s in self.spans:
            if s["parent"] == span["id"]:
                for k, v in self.tree(s).items():
                    out[k] += v
        return out

    def roots(self) -> list[dict]:
        return [s for s in self.spans if s["parent"] is None]

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
