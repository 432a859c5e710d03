"""Spark counters for the traced run, read outside the timed region.

Jobs come from ``statusTracker().getJobIdsForGroup``; per-stage bytes and
run time come from the JVM ``AppStatusStore``, which keeps them with
``spark.ui.enabled=false``. Skipped stages (shuffle output reused) report
zero and are counted on their own. A streaming query runs its micro-batches
under a job group of its own (its run id), so jobs are also found by id:
the ones an op started in no group of the run's (see ``last_job_id``).
"""

from __future__ import annotations

from dataclasses import dataclass, fields

from pyspark import SparkContext


@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    skipped_stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    input_bytes: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0

    def __iadd__(self, other: "Counters") -> "Counters":
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))
        return self


def last_job_id(sc: SparkContext) -> int:
    """Id of the newest job submitted so far, -1 before the first. Job ids
    count up from 0, so the jobs between two calls are a range."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(sc._jvm.java.util.ArrayList())  # newest first
    return jobs.apply(0).jobId() if jobs.size() else -1


def group_job_ids(sc: SparkContext, group: str) -> list[int]:
    return list(sc.statusTracker().getJobIdsForGroup(group))


def job_counters(sc: SparkContext, job_ids: list[int]) -> Counters:
    """Counters summed over the jobs ``job_ids``."""
    jsc = sc._jsc.sc()
    # job and stage events reach the status store through the listener bus
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    no_tasks = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    c = Counters()
    for job_id in job_ids:
        c.jobs += 1
        info = tracker.getJobInfo(job_id)
        for stage_id in info.stageIds if info else ():
            stage = tracker.getStageInfo(stage_id)
            last = stage.currentAttemptId if stage else 0
            for attempt in range(last + 1):
                data = store.stageAttempt(stage_id, attempt, False, no_tasks, False, no_quantiles)._1()
                if data.status().toString() == "SKIPPED":
                    c.skipped_stages += 1
                    continue
                c.stages += 1
                c.tasks += data.numTasks()
                c.failed_tasks += data.numFailedTasks()
                c.run_s += data.executorRunTime() / 1000.0
                c.input_bytes += data.inputBytes()
                c.shuffle_bytes += data.shuffleReadBytes() + data.shuffleWriteBytes()
                c.spill_bytes += data.diskBytesSpilled()
    return c


def set_group(sc: SparkContext, group: str | None) -> None:
    """Run the following jobs under ``group``; ``None`` clears it."""
    if group is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    else:
        sc.setJobGroup(group, group)
