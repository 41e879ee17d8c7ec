"""Per-call Spark accounting from the benchmark's side of each layer.

A traced call runs under its own Spark job group. After it returns, the
listener bus is drained and the status store is read for every job of
the group: its stages and, per stage, tasks, executor run and CPU time,
GC time, input bytes and shuffle bytes. This works with the Spark UI off.
Nothing in the package under test is touched.
"""

from __future__ import annotations

import itertools
import time
from dataclasses import dataclass, field, fields

from py4j.protocol import Py4JJavaError

@dataclass
class SparkCost:
    """Spark work attributed to one call (or a sum of calls)."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_ms: float = 0.0
    task_cpu_ms: float = 0.0
    gc_ms: float = 0.0
    input_bytes: int = 0
    shuffle_bytes: int = 0

    def add(self, other: "SparkCost") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


@dataclass
class Tracer:
    """Runs calls under fresh job groups and reads back their cost."""

    spark: object
    _ids: itertools.count = field(default_factory=itertools.count)

    def group(self, label: str) -> str:
        return f"perfbench-{label}-{next(self._ids)}"

    def cost_of_jobs(self, job_ids) -> SparkCost:
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        cost = SparkCost()
        for job_id in job_ids:
            info = sc.statusTracker().getJobInfo(job_id)
            if info is None:
                continue
            cost.jobs += 1
            for stage_id in info.stageIds:
                try:
                    st = store.lastStageAttempt(stage_id)
                except Py4JJavaError:
                    continue  # evicted from the status store
                if st.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                cost.stages += 1
                cost.tasks += st.numCompleteTasks()
                cost.task_ms += st.executorRunTime()
                cost.task_cpu_ms += st.executorCpuTime() / 1e6
                cost.gc_ms += st.jvmGcTime()
                cost.input_bytes += st.inputBytes()
                cost.shuffle_bytes += st.shuffleReadBytes() + st.shuffleWriteBytes()
        return cost

    def jobs_of(self, group: str) -> list[int]:
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return list(sc.statusTracker().getJobIdsForGroup(group))

    def call(self, label: str, fn):
        """Run ``fn()`` under a new job group; return (result, seconds,
        SparkCost). The group is cleared afterwards so later untraced
        work in this thread is not attributed to it."""
        sc = self.spark.sparkContext
        group = self.group(label)
        sc.setJobGroup(group, label)
        try:
            t0 = time.perf_counter()
            result = fn()
            seconds = time.perf_counter() - t0
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return result, seconds, self.cost_of_jobs(self.jobs_of(group))
