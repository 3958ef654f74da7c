"""Per-call Spark work, read from Spark's own status store.

Each traced call runs under its own job group. After the call the
reader waits for the listener bus to drain, then walks
``statusTracker().getJobIdsForGroup(group)`` ->
``statusStore().job(id).stageIds()`` -> ``lastStageAttempt(sid)``.
Not every job a call starts carries its group: Structured Streaming
runs each micro-batch (``foreachBatch`` bodies included) under the
query's run id, and build thread pools run ungrouped. Spark numbers
jobs in sequence, so the reader also charges the call every job id
created while it ran, whatever its group; that is safe because the
benchmark runs one call at a time. ``CallRecord.other_group_jobs``
counts the jobs that came from outside the call's own group.

On pyspark 4.1.2 ``stageIds()`` is a Scala ``Seq``, walked with
``size()``/``apply(i)``. Skipped stages (shuffle output reused) are
listed but did no work, so they are not counted.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

COUNTERS = (
    "jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s",
    "shuffle_bytes", "spill_bytes", "failed_tasks",
)


@dataclass
class CallRecord:
    """One traced call: wall time, time inside Spark jobs, counters."""

    name: str
    wall_s: float
    job_s: float = 0.0
    read_s: float = 0.0
    other_group_jobs: int = 0
    counters: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))


def _union_seconds(spans: list[tuple[int, int]]) -> float:
    """Length of the union of [start, end] millisecond intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


class SparkLedger:
    """Times calls and charges each one the Spark work it triggered."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._tracker = self.sc.statusTracker()
        newest = self._jsc.statusStore().jobsList(None)  # a Seq, newest first
        self._next_job = newest.apply(0).jobId() + 1 if newest.size() else 0
        self._n = 0
        self.records: list[CallRecord] = []

    def call(self, name: str, fn):
        """Run ``fn()`` under a fresh job group and record its work."""
        self._n += 1
        group = f"perfbench-{self._n}-{name}"
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            wall = time.perf_counter() - t0
            self.records.append(self._read(name, group, wall))

    def _read(self, name: str, group: str, wall: float) -> CallRecord:
        t0 = time.perf_counter()
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        grouped = set(self._tracker.getJobIdsForGroup(group))
        created = set()
        while True:  # job ids are sequential: walk to the first unused one
            try:
                store.job(self._next_job)
            except Py4JJavaError:
                break
            created.add(self._next_job)
            self._next_job += 1
        job_ids = sorted(grouped | created)
        rec = CallRecord(name, wall, other_group_jobs=len(created - grouped))
        c = rec.counters
        spans = []
        for jid in job_ids:
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime(), done.get().getTime()))
            c["jobs"] += 1
            seq = job.stageIds()
            for i in range(seq.size()):
                stage = store.lastStageAttempt(seq.apply(i))
                if stage.status().toString() == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += stage.numCompleteTasks()
                c["failed_tasks"] += stage.numFailedTasks()
                c["exec_run_s"] += stage.executorRunTime() / 1e3
                c["exec_cpu_s"] += stage.executorCpuTime() / 1e9
                c["shuffle_bytes"] += stage.shuffleWriteBytes()
                c["spill_bytes"] += (
                    stage.memoryBytesSpilled() + stage.diskBytesSpilled()
                )
        rec.job_s = _union_seconds(spans)
        rec.read_s = time.perf_counter() - t0
        return rec


class NullLedger:
    """Untraced stand-in with the same ``call`` surface."""

    def __init__(self):
        self.records: list[CallRecord] = []

    def call(self, name: str, fn):
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.records.append(CallRecord(name, time.perf_counter() - t0))
