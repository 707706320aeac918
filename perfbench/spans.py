"""Spans and Spark counters taken from outside the program.

The benchmark wraps its own calls into each layer in spans and reads
Spark's executor counters and job ids around them; nothing inside
``userportrait`` is instrumented. Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

# ExecutorSummary accessor -> counter name. Durations arrive in ms.
_EXECUTOR_COUNTERS = {
    "totalTasks": "tasks",
    "failedTasks": "failed_tasks",
    "totalDuration": "task_ms",
    "totalGCTime": "gc_ms",
    "totalInputBytes": "input_bytes",
    "totalShuffleWrite": "shuffle_write_bytes",
}


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._group = 0

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None, "name": name, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def counters(self) -> dict[str, int]:
        """Executor counters summed over executors, after the listener bus has
        delivered every event posted so far."""
        self._jsc.listenerBus().waitUntilEmpty(60_000)
        execs = self._jsc.statusStore().executorList(True)
        out = dict.fromkeys(_EXECUTOR_COUNTERS.values(), 0)
        for i in range(execs.size()):
            e = execs.apply(i)
            for getter, name in _EXECUTOR_COUNTERS.items():
                out[name] += getattr(e, getter)()
        return out

    def new_job_group(self) -> str:
        self._group += 1
        gid = f"perfbench-{self._group}"
        self._sc.setJobGroup(gid, gid)
        return gid

    def job_count(self, gid: str) -> int:
        self._jsc.listenerBus().waitUntilEmpty(60_000)
        return len(self._sc.statusTracker().getJobIdsForGroup(gid))

    def self_times(self) -> None:
        """Add each span's self time: its duration minus what its children cover."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        for s in self.spans:
            s["self_s"] = s["end"] - s["start"] - child.get(s["id"], 0.0)

    def dump(self, path: str) -> None:
        self.self_times()
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


