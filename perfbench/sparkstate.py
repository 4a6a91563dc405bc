"""Spark work attributed by job and stage id, read from the status store.

Job and stage ids are handed out in sequence by the DAG scheduler, so the
work a key launched is exactly the id range ``[mark before, mark after)``.
Reading only those records keeps a key's counts independent of how many
records the store still retains, which is why whole-store totals are never
diffed here. Every launched job must be found in the store; a missing one
is reported, never skipped silently.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

# Raised at launch so a whole run's records stay in the store: one build of
# an iterative graph key alone launches hundreds of stages.
RETAINED = 200_000
LAUNCH_CONFS = {
    "spark.ui.retainedJobs": str(RETAINED),
    "spark.ui.retainedStages": str(RETAINED),
}


@dataclass
class SparkWork:
    """Status-store totals over one id range."""

    job_ids: list[int] = field(default_factory=list)
    missing_jobs: list[int] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    exec_run_s: float = 0.0
    exec_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_mb: float = 0.0


class SparkState:
    """Id marks and id-range reads against one SparkContext's status store."""

    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc
        sc = self._jsc.sc()
        self._dag = sc.dagScheduler()
        self._bus = sc.listenerBus()
        self._store = sc.statusStore()

    def mark(self) -> tuple[int, int]:
        """(next job id, next stage id) the scheduler will hand out."""
        return self._dag.nextJobId(), self._dag.nextStageId()

    def persistent_rdds(self) -> int:
        return self._jsc.getPersistentRDDs().size()

    def work(self, start: tuple[int, int], end: tuple[int, int]) -> SparkWork:
        """Totals of the jobs and stages whose ids fall in ``[start, end)``."""
        self._bus.waitUntilEmpty()
        out = SparkWork()
        for job_id in range(start[0], end[0]):
            try:
                self._store.job(job_id)
            except Py4JJavaError:
                out.missing_jobs.append(job_id)
                continue
            out.job_ids.append(job_id)
        for stage_id in range(start[1], end[1]):
            try:
                st = self._store.lastStageAttempt(stage_id)
            except Py4JJavaError:
                continue  # an id planned but never submitted has no record
            if st.status().toString() == "SKIPPED":
                continue
            out.stages += 1
            out.tasks += st.numTasks()
            out.tasks_failed += st.numFailedTasks()
            out.exec_run_s += st.executorRunTime() / 1e3
            out.exec_cpu_s += st.executorCpuTime() / 1e9
            out.gc_s += st.jvmGcTime() / 1e3
            out.shuffle_mb += (st.shuffleReadBytes() + st.shuffleWriteBytes()) / 2**20
        return out
