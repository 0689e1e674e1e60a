"""Spans and Spark counters for the traced benchmark run.

A :class:`Tracer` keeps spans in memory (name, start, end, parent, operation
id) and writes them out once, when the run ends. A disabled tracer records
nothing, so the untraced run pays one attribute check per boundary.

:class:`SparkCounters` reads what Spark itself records about the jobs a
block of driver code launched. The block runs under its own job group; after
it returns, the listener bus is drained and the counts are read from
``statusTracker()`` (jobs, stages), the application status store (per-stage
task, shuffle, spill, input and memory figures) and the SQL status store
(scan-node row and byte counts per SQL execution).
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql import SparkSession

COUNT_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "scan_rows",
    "scan_bytes",
    "peak_exec_memory_bytes",
)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op_id: str | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; ``enabled=False`` turns every call into a no-op."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op_id: str | None = None

    @contextmanager
    def operation(self, op_id: str) -> Iterator[None]:
        """Tag every span opened inside the block with ``op_id``."""
        prev, self._op_id = self._op_id, op_id
        try:
            yield
        finally:
            self._op_id = prev

    @contextmanager
    def span(self, name: str) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), parent=parent, op_id=self._op_id)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def children(self, index: int) -> list[Span]:
        return [s for s in self.spans if s.parent == index]

    def self_seconds(self, index: int) -> float:
        """Span duration minus the time its (sequential) child spans cover."""
        return self.spans[index].seconds - sum(c.seconds for c in self.children(index))

    def dump(self, path: str, extra: dict) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        rows = [
            {
                "id": i,
                "name": s.name,
                "start": round(s.start - t0, 6),
                "end": round(s.end - t0, 6),
                "parent": s.parent,
                "op_id": s.op_id,
            }
            for i, s in enumerate(self.spans)
        ]
        with open(path, "w") as fh:
            json.dump({**extra, "spans": rows}, fh, indent=1)


_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _sum_metric(value: str) -> int:
    """A SQL 'sum' metric as the status store formats it, e.g. '600,000'."""
    return int(value.replace(",", "").strip() or 0)


def _size_metric(value: str) -> int:
    """A SQL 'size' metric, e.g. '10.3 MiB', or its per-task form
    'total (min, med, max (stageId: taskId))\n10.3 MiB (...)'; the total,
    to the one decimal the status store keeps."""
    number, unit = value.strip().splitlines()[-1].split()[:2]
    return int(float(number.replace(",", "")) * _SIZE_UNITS[unit])


class SparkCounters:
    """Counts of the jobs launched under one job group, read from Spark."""

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._app_store = jsc.statusStore()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._seq = 0

    @contextmanager
    def group(self, label: str) -> Iterator[dict]:
        """Run the block under a fresh job group; fill the yielded dict with
        its counts after the block returns (also when it raises)."""
        self._seq += 1
        group = f"perfbench-{self._seq}-{label}"[:200]
        first_exec = self._sql_store.executionsCount()
        counts: dict = {}
        self.sc.setJobGroup(group, label, False)
        try:
            yield counts
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self._bus.waitUntilEmpty()
            counts.update(self._read(group, first_exec))

    def _read(self, group: str, first_exec: int) -> dict:
        tracker = self.sc.statusTracker()
        job_ids = sorted(tracker.getJobIdsForGroup(group))
        out = dict.fromkeys(COUNT_KEYS, 0)
        out["jobs"] = len(job_ids)
        for j in job_ids:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                sd = self._app_store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["spill_bytes"] += sd.diskBytesSpilled()
                out["peak_exec_memory_bytes"] = max(
                    out["peak_exec_memory_bytes"], sd.peakExecutionMemory()
                )
        rows, size = self._scans(set(job_ids), first_exec)
        out["scan_rows"] = sum(rows.values())
        out["scan_bytes"] = size
        out["scan_rows_by_node"] = rows
        return out

    def _scans(self, job_ids: set[int], first_exec: int) -> tuple[dict[str, int], int]:
        """Rows output by the file-scan nodes of the SQL executions that ran
        the group's jobs, keyed by the node's description (location, read
        schema, pushed filters), and the bytes of files those nodes read."""
        total = self._sql_store.executionsCount()
        rows: dict[str, int] = {}
        size = 0
        if total <= first_exec or not job_ids:
            return rows, size
        execs = self._sql_store.executionsList(first_exec, total - first_exec)
        for k in range(execs.size()):
            ex = execs.apply(k)
            ex_jobs = {int(j) for j in _scala_keys(ex.jobs())}
            if not ex_jobs & job_ids:
                continue
            values = self._sql_store.executionMetrics(ex.executionId())
            nodes = self._sql_store.planGraph(ex.executionId()).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                if not node.name().startswith("Scan "):
                    continue
                desc = node.desc()
                metrics = node.metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    value = values.get(metric.accumulatorId())
                    if not value.isDefined():
                        continue
                    if metric.name() == "number of output rows":
                        rows[desc] = rows.get(desc, 0) + _sum_metric(value.get())
                    elif metric.name() == "size of files read":
                        size += _size_metric(value.get())
        return rows, size

    def cached_bytes(self) -> int:
        """Bytes currently held by cached RDD blocks, memory plus disk."""
        return sum(i.memSize() + i.diskSize() for i in self.sc._jsc.sc().getRDDStorageInfo())


def _scala_keys(scala_map) -> list:
    it = scala_map.keysIterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def leftover_cache(spark: SparkSession) -> int:
    """Cached plans plus persisted RDDs still registered with the session."""
    jss = spark._jsparkSession
    plans = 0 if jss.sharedState().cacheManager().isEmpty() else 1
    return plans + spark.sparkContext._jsc.sc().getPersistentRDDs().size()
