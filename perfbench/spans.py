"""Spans around the benchmark's calls into kgspark layers.

A span covers one call into a layer's public function, with the call's
output forced inside it. While tracing is on, each span sets a Spark
job group named after the layer and, at span end, folds the stages of
every job the span started from Spark's status store (it answers over
py4j with the UI disabled): executor run time, JVM CPU time, GC time,
shuffle and spill bytes, output bytes and failed tasks.

Jobs are attributed by job-id range (the ids issued between span start
and end), not by job group alone: a Structured Streaming drain runs
its jobs under the query's own group, and the benchmark drives one
closed loop from one thread, so the range is exactly the span's jobs.

With tracing off, ``span`` is a no-op context manager. Spans are kept
in memory and written out once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

_STAGE_FIELDS = (
    ("task_s", "executorRunTime", 1e-3),
    ("jvm_cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
    ("spill_mem_bytes", "memoryBytesSpilled", 1),
    ("output_bytes", "outputBytes", 1),
    ("failed_tasks", "numFailedTasks", 1),
)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()

    def _next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    @contextmanager
    def span(self, layer: str, op: str = "", **attrs):
        """Time one layer call (spans do not nest); ``op`` names the
        operation the call belongs to."""
        if not self.enabled:
            yield
            return
        rec = {"layer": layer, "op": op, **attrs}
        self.spans.append(rec)
        self._sc.setJobGroup(layer, f"{layer} {op}".strip())
        j0 = self._next_job_id()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            j1 = self._next_job_id()
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
            rec["job_ids"] = [j0, j1]
            rec.update(self._fold(j0, j1))

    def _fold(self, j0: int, j1: int) -> dict:
        # stage metrics reach the status store through the listener bus
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        tracker = self._sc.statusTracker()
        out = {k: 0 for k, _m, _s in _STAGE_FIELDS}
        out["jobs"] = j1 - j0
        seen: set[int] = set()
        for jid in range(j0, j1):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                st = store.lastStageAttempt(sid)
                for key, getter, scale in _STAGE_FIELDS:
                    out[key] += getattr(st, getter)() * scale
        out["stages"] = len(seen)
        return out

    def layer(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["layer"] == name]

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1, default=str)
