"""Spans around layer calls, with Spark counters read from the status store.

Every span gets its own job group, so the jobs it ran are exactly
`statusTracker().getJobIdsForGroup(group)` (a reused group id accumulates
the jobs of every span that used it). Per stage of those jobs the counters
come from `statusStore().lastStageAttempt(stage_id)`:

- `task_s`: `executorRunTime`, the summed run time of the stage's tasks
  (on parallel stages it exceeds the wall: 4.7 s of task time in a 1.6 s
  signature stage at local[4]). The executor summary's `totalDuration` in
  `executorList(True)` is not summed task time and is not used.
- `gc_s`: `jvmGcTime`.
- `shuffle_read_bytes` / `shuffle_write_bytes`: the stage's shuffle totals
  (equal to the `executorList(True)` deltas over the same jobs).
- `tasks`: `numCompleteTasks` (a skipped stage reports 0).

Spans are kept in memory and written out once, by `dump`.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

COUNTERS = ("wall_s", "jobs", "tasks", "task_s", "gc_s",
            "shuffle_read_bytes", "shuffle_write_bytes", "rows_out")


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._seq = 0

    @contextmanager
    def span(self, name: str):
        """Time the block as one span. The block may set `rows_out` on the
        yielded record."""
        rec = {"name": name, "run_id": self.run_id,
               "parent": self._stack[-1]["name"] if self._stack else None,
               "group": f"{self.run_id}-{self._seq}", "rows_out": 0}
        self._seq += 1
        self._set_group(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._stack.pop()
            outer = self._stack[-1] if self._stack else None
            self._set_group(outer["group"] if outer else None,
                            outer["name"] if outer else None)
            rec.update(self._spark_counters(rec["group"]))
            self.spans.append(rec)

    def get(self, name: str) -> dict:
        return next(s for s in self.spans if s["name"] == name)

    def _set_group(self, group: str | None, name: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, name, False)

    def _spark_counters(self, group: str) -> dict:
        out = {"jobs": 0, "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
               "shuffle_read_bytes": 0, "shuffle_write_bytes": 0}
        jsc = self.sc._jsc.sc()
        # the status store is filled by the listener bus, asynchronously
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        stages = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(int(s) for s in info.stageIds)
        for sid in stages:
            sd = store.lastStageAttempt(sid)
            out["tasks"] += sd.numCompleteTasks()
            out["task_s"] += sd.executorRunTime() / 1000.0
            out["gc_s"] += sd.jvmGcTime() / 1000.0
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["jobs"] = len(jobs)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)
