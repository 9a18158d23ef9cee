"""In-memory spans around the benchmark's calls into the engine's modules.

A span records name, start, end, parent and the run id shared by every span
of one run. While a span is open, every Spark job the calling thread submits
carries the span's job group, so `SparkContext.statusTracker()` can count the
jobs, stages and tasks each span caused. Counts are harvested once, at the
end of the run, after the listener bus has caught up.

Self time is a span's duration minus the time its child spans cover; the
children of one span run one after another on the same thread, so their
durations add up without overlap.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager


class Tracer:
    """Spans of one run. `sc` may be set after construction, so that the
    session start itself can be a span."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        """Record one span; a no-op yielding None when tracing is off."""
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": self.run_id,
            "group": f"{self.run_id}-{len(self.spans)}",
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, rec: dict | None) -> None:
        if self.sc is None:  # the session itself is still starting
            return
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(rec["group"], rec["name"])

    def self_times(self) -> None:
        """Fill `self_s` on every closed span."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        for s in self.spans:
            s["self_s"] = s["end"] - s["start"] - child_s.get(s["id"], 0.0)

    def harvest_counts(self, timeout_s: float = 10.0) -> None:
        """Fill jobs/stages/tasks/failed_tasks per span from the status
        tracker. Stages a job skipped (shuffle output reused) ran no task and
        are not counted. Waits until no counted job is still running."""
        tracker = self.sc.statusTracker()
        deadline = time.monotonic() + timeout_s
        while True:
            pending = False
            for s in self.spans:
                jobs = tracker.getJobIdsForGroup(s["group"])
                stages = tasks = failed = 0
                for jid in jobs:
                    info = tracker.getJobInfo(jid)
                    if info is None:
                        continue
                    pending |= info.status in ("RUNNING", "UNKNOWN")
                    for sid in info.stageIds:
                        st = tracker.getStageInfo(sid)
                        if st is not None and st.numCompletedTasks + st.numFailedTasks:
                            stages += 1
                            tasks += st.numCompletedTasks
                            failed += st.numFailedTasks
                s.update(jobs=len(jobs), stages=stages, tasks=tasks, failed_tasks=failed)
            if not pending or time.monotonic() > deadline:
                return
            time.sleep(0.2)

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f, indent=1)
