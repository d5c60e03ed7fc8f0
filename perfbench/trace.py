"""Spans around calls into the program's layers, and the per-op job
counters read from Spark's status store.

Spans are kept in memory and written out when the run ends. A span's
self time is its duration minus the time its direct children cover
(children run sequentially inside their parent on the single client).
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    layer: str
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    """Records spans when enabled; a disabled tracer costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, layer, name, time.perf_counter(), 0.0, parent, self.op)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def self_seconds(self) -> dict[str, float]:
        """Self time per layer, summed over its spans."""
        covered: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                covered[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.layer] += (s.end - s.start) - covered[s.id]
        return dict(out)

    def seconds(self, layer: str, name: str | None = None) -> float:
        return sum(
            s.end - s.start
            for s in self.spans
            if s.layer == layer and (name is None or s.name == name)
        )

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_cpu_ms",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "gc_ms",
)


class StatusStore:
    """Per-job-group counters from the JVM status store.

    Read right after the op that launched the jobs, so the store's job
    and stage retention limits never evict them first."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        jvm = self._sc._jvm
        self._no_status = jvm.java.util.ArrayList()
        self._no_quantiles = self._sc._gateway.new_array(jvm.double, 0)

    def group(self, group_id: str) -> dict[str, int]:
        out = dict.fromkeys(COUNTERS, 0)
        stage_ids: set[int] = set()
        for job_id in self._sc.statusTracker().getJobIdsForGroup(group_id):
            out["jobs"] += 1
            ids = self._store.job(job_id).stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        for sid in stage_ids:
            attempts = self._store.stageData(
                sid, False, self._no_status, False, self._no_quantiles
            )
            for k in range(attempts.size()):
                sd = attempts.apply(k)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["executor_cpu_ms"] += sd.executorCpuTime() // 1_000_000
                out["input_bytes"] += sd.inputBytes()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.diskBytesSpilled()
                out["gc_ms"] += sd.jvmGcTime()
        return out

    def persistent_rdds(self) -> int:
        return self._sc._jsc.getPersistentRDDs().size()
