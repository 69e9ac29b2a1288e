"""In-memory spans around the benchmark's calls into the package.

A span records name, start, end, parent span and request id. Spark work is
attributed to the innermost open span: the span sets its own job group while
open, and at close it also claims any new job that ran without a group (jobs
submitted from helper threads inside the package do not inherit the group).
Job, stage, task and failed-task counts come from the status tracker. Spans
are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc, enabled: bool) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._claimed: set[int] = set()
        # wall time spent inside the tracer itself (status-tracker calls,
        # job-group switches): the direct cost of tracing
        self.overhead_s = 0.0

    def _ungrouped(self) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(None))

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"perfbench-{span['id']}", span["name"])

    @contextmanager
    def span(self, name: str, request=None, **attrs):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": request if request is not None else (parent or {}).get("request"),
            **attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self._claimed |= self._ungrouped()
        self._set_group(sp)
        sp["start"] = time.perf_counter()
        self.overhead_s += sp["start"] - t_in
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._close(sp)
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.overhead_s += time.perf_counter() - sp["end"]

    def _close(self, sp: dict) -> None:
        st = self.sc.statusTracker()
        jobs = set(st.getJobIdsForGroup(f"perfbench-{sp['id']}"))
        stray = self._ungrouped() - self._claimed
        self._claimed |= stray
        jobs |= stray
        stages = tasks = failed = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                si = st.getStageInfo(sid)
                if si is not None:
                    stages += 1
                    tasks += si.numTasks
                    failed += si.numFailedTasks
        sp.update(jobs=len(jobs), stages=stages, tasks=tasks, failed_tasks=failed)

    def self_s(self, sp: dict) -> float:
        """Span duration minus the time its child spans cover (children are
        sequential and nested, so their durations do not overlap)."""
        kids = sum(c["end"] - c["start"] for c in self.spans if c["parent"] == sp["id"])
        return (sp["end"] - sp["start"]) - kids

    def subtree(self, sp: dict, key: str) -> int:
        """A count summed over the span and all its descendants."""
        return sp[key] + sum(
            self.subtree(c, key) for c in self.spans if c["parent"] == sp["id"]
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({**sp, "self_s": self.self_s(sp)}) + "\n")
