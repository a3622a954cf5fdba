"""Spans and Spark counters recorded by the benchmark around its calls
into the library.

Spans live in memory (one list of tuples) and are written out once,
when the run ends. A disabled tracer records nothing, so the untraced
run that produces the end-to-end metrics pays only a no-op context
manager per layer call.
"""

from __future__ import annotations

import gc
import json
import time
from contextlib import contextmanager


class Tracer:
    """One span per layer call: ``(op_id, name, start, end, parent)``.
    ``parent`` is the index of the enclosing span, or -1 at the root;
    spans of one benchmark operation share its ``op_id``."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.op_id = -1

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([self.op_id, name, time.perf_counter(), 0.0, parent])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][3] = time.perf_counter()

    def self_ms(self, op_ids: set[int]) -> dict[str, float]:
        """Total self time per span name over the given operations: a
        span's duration minus the part its child spans cover."""
        child: dict[int, float] = {}
        for op, _name, t0, t1, parent in self.spans:
            if op in op_ids and parent >= 0:
                child[parent] = child.get(parent, 0.0) + (t1 - t0)
        out: dict[str, float] = {}
        for idx, (op, name, t0, t1, _parent) in enumerate(self.spans):
            if op in op_ids:
                out[name] = out.get(name, 0.0) + 1e3 * (t1 - t0 - child.get(idx, 0.0))
        return out

    def dump(self, path: str) -> None:
        keys = ("op", "name", "start", "end", "parent")
        with open(path, "w") as f:
            json.dump([dict(zip(keys, s)) for s in self.spans], f)


#: status-store fields summed over executors, by counter name
_EXECUTOR_FIELDS = {
    "tasks": "totalTasks",
    "failed_tasks": "failedTasks",
    "task_ms": "totalDuration",
    "gc_ms": "totalGCTime",
    "shuffle_read_bytes": "totalShuffleRead",
    "shuffle_write_bytes": "totalShuffleWrite",
}


class SparkCounters:
    """Cumulative Spark engine counters read over py4j: the DAG
    scheduler's next job id plus the status store's per-executor task
    totals. Status-store updates arrive through the asynchronous
    listener bus, so a reading first waits for the bus to drain."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()

    def read(self) -> dict[str, int]:
        self._sc.listenerBus().waitUntilEmpty()
        out = {name: 0 for name in _EXECUTOR_FIELDS}
        executors = self._sc.statusStore().executorList(True)
        for i in range(executors.size()):
            ex = executors.apply(i)
            for name, field in _EXECUTOR_FIELDS.items():
                out[name] += int(getattr(ex, field)())
        out["jobs"] = int(self._sc.dagScheduler().nextJobId())
        return out

    @staticmethod
    def delta(before: dict[str, int], after: dict[str, int]) -> dict[str, int]:
        return {k: after[k] - before[k] for k in after}


def jvm_peak_rss_mb(spark) -> float:
    """The driver JVM's peak resident set (``VmHWM``) in MiB."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found in /proc status")


def jvm_heap_live_mb(spark) -> float:
    """JVM heap in use right after a full garbage collection, in MiB:
    the memory the driver still references. Python is collected first,
    so JVM objects held only by dead py4j proxies are released."""
    gc.collect()
    spark._jvm.System.gc()
    rt = spark._jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20
