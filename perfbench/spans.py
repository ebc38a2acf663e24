"""Spans and Spark counters, recorded from outside the package.

A span is one call into a layer's public function: name, start, end, the
span that caused it and the run id. Spans stay in memory and are written
out once, when the run ends.

Job and stage counts are read by id range, not by the size of Spark's job
list: the status store keeps at most ``spark.ui.retainedJobs`` jobs, so a
size delta reads 0 once a long run passes that limit, while the scheduler's
next job and stage ids only grow. The listener bus is drained first, so
every stage that ran is in the store. An id range also counts the jobs of
threads that do not inherit the caller's job group, such as the pipeline's
concurrent sinks.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

# StageData fields summed per interval: metric name -> (getter, scale)
STAGE_FIELDS = {
    "tasks": ("numCompleteTasks", 1),
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "jvm_gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": (("memoryBytesSpilled", "diskBytesSpilled"), 1),
}


class Tracer:
    """Spans and counters for one run; inert when ``enabled`` is false."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def ids(self) -> tuple[int, int]:
        """(next job id, next stage id) once the listener bus is drained."""
        self._sc.listenerBus().waitUntilEmpty()
        dag = self._sc.dagScheduler()
        return dag.nextJobId(), dag.nextStageId()

    def stage_totals(self, first_stage: int, end_stage: int) -> dict[str, float]:
        """Sums of the StageData fields over stage ids [first, end)."""
        store = self._sc.statusStore()
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        for sid in range(first_stage, end_stage):
            try:
                data = store.lastStageAttempt(sid)
            except Exception:  # py4j error: stage evicted or never submitted
                continue
            for key, (getter, scale) in STAGE_FIELDS.items():
                getters = getter if isinstance(getter, tuple) else (getter,)
                out[key] += sum(getattr(data, g)() for g in getters) * scale
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")
