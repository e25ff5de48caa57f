"""Traced-run collector: spans kept in memory, plus Spark's own counters
for each operation, read from outside the package.

Each operation runs its Spark jobs under job groups the benchmark sets
(one for the plan build, one for the execution). After the operation,
the collector waits for Spark's listener bus to drain, then reads the
jobs of those groups from ``statusTracker()`` and each of their stages
from the status store (``lastStageAttempt``), which works with the UI
disabled. SQL operator metrics (the Python-worker bytes of the ingest)
come from the SQL status store of the executions those jobs belong to.
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

#: Stage counters summed per operation: name → StageData accessor.
STAGE_COUNTERS = {
    "tasks": "numCompleteTasks",
    "failed_tasks": "numFailedTasks",
    "task_ms": "executorRunTime",
    "task_cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "spill_bytes": "diskBytesSpilled",
    "input_bytes": "inputBytes",
    "input_records": "inputRecords",
}

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _iter(seq):
    """Iterate a Scala collection handed over by py4j."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


@dataclass
class Tracer:
    """Spans and per-operation Spark counters. With ``enabled`` false
    every method is a no-op, so the plain run pays nothing."""

    spark: object = None
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _open: list[int] = field(default_factory=list)
    _sql_seen: int = 0

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        parent = self._open[-1] if self._open else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, op))
        self._open.append(idx)
        try:
            yield
        finally:
            self._open.pop()
            self.spans[idx].end = time.perf_counter()

    def group(self, group: str) -> None:
        """Run the calling thread's next Spark jobs under ``group``."""
        if self.enabled:
            self.spark.sparkContext.setJobGroup(group, group)

    def clear_group(self) -> None:
        """Run the calling thread's next Spark jobs outside any group."""
        if self.enabled:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    # -- counters ----------------------------------------------------------

    def _drain(self) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return list(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    def stage_counters(self, groups: list[str], ingest_marker: str = "") -> dict:
        """Summed counters of the completed stages of ``groups``' jobs.

        With ``ingest_marker`` (an operator name such as ``MapInPandas``),
        also the task time and count of the stages whose operator graph
        contains it."""
        self._drain()
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        out: dict = defaultdict(int)
        for group in groups:
            for job in self.job_ids(group):
                out["jobs"] += 1
                info = tracker.getJobInfo(job)
                for stage in info.stageIds if info else ():
                    try:
                        data = store.lastStageAttempt(stage)
                    except Exception:  # evicted or never submitted
                        continue
                    if data.status().toString() != "COMPLETE":
                        continue
                    out["stages"] += 1
                    for key, accessor in STAGE_COUNTERS.items():
                        out[key] += getattr(data, accessor)()
                    if ingest_marker and self._stage_has(store, stage, ingest_marker):
                        out["ingest_stages"] += 1
                        out["ingest_task_ms"] += data.executorRunTime()
        return dict(out)

    @staticmethod
    def _stage_has(store, stage: int, marker: str) -> bool:
        pending = [store.operationGraphForStage(stage).rootCluster()]
        while pending:
            cluster = pending.pop()
            if cluster.name() == marker:
                return True
            pending.extend(_iter(cluster.childClusters()))
        return False

    def sql_metric(self, groups: list[str], node: str, metric: str) -> int:
        """Sum of SQL metric ``metric`` of operator ``node`` over the SQL
        executions run by ``groups``' jobs since the last call."""
        self._drain()
        jobs = {j for g in groups for j in self.job_ids(g)}
        sql = self.spark._jsparkSession.sharedState().statusStore()
        count = sql.executionsCount()
        total = 0
        if count <= self._sql_seen:
            return total
        for ex in _iter(sql.executionsList(self._sql_seen, count - self._sql_seen)):
            if not jobs & {int(j) for j in _iter(ex.jobs().keys())}:
                continue
            values = sql.executionMetrics(ex.executionId())
            for n in _iter(sql.planGraph(ex.executionId()).allNodes()):
                if n.name() != node:
                    continue
                for m in _iter(n.metrics()):
                    if m.name() == metric:
                        v = values.get(m.accumulatorId())
                        total += parse_metric(v.get()) if v.isDefined() else 0
        self._sql_seen = count
        return total

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


def parse_metric(text: str) -> int:
    """A status-store SQL metric string → its total as an int.

    Sums read ``"1,234"``; sizes read ``"6.8 MiB"`` or, over several
    tasks, ``"total (min, med, max ...)\\n6.8 MiB (...)"``."""
    last = text.strip().splitlines()[-1]
    m = re.match(r"([\d,.]+)\s*([KMGT]?i?B)?", last)
    if not m:
        return 0
    value = float(m.group(1).replace(",", ""))
    return round(value * _UNITS.get(m.group(2) or "B", 1))
