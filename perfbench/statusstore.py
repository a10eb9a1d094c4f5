"""Per-job stage counters from Spark's status store, read through py4j.

The benchmark labels every job it causes with a job group
(``SparkContext.setJobGroup``) and reads the group's jobs back afterwards.
This works with ``spark.ui.enabled=false``: the status store is fed by the
listener bus, not by the UI.
"""

from __future__ import annotations

import contextlib
import statistics


@contextlib.contextmanager
def job_group(spark, group: str, description: str):
    sc = spark.sparkContext
    sc.setJobGroup(group, description, False)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _seq(scala_seq) -> list:
    out, it = [], scala_seq.iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def group_stats(spark, cores: int) -> dict[str, dict[str, float]]:
    """Stage counters of every labelled job group, summed over its jobs:

    - ``jobs``, ``stages``, ``tasks``
    - ``task_max_s``, ``task_p50_s``: task durations
    - ``skew``: longest task ÷ (executor run time ÷ cores), 1.0 when the
      work is perfectly spread over the cores, higher when one task is
      the critical path
    - ``gc_s``, ``shuffle_read_bytes``, ``shuffle_write_bytes``,
      ``spill_bytes`` (memory + disk)
    """
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    groups: dict[str, list] = {}
    for job in _seq(store.jobsList(None)):
        if job.jobGroup().isDefined():
            groups.setdefault(job.jobGroup().get(), []).append(job)
    return {g: _stats(store, jobs, cores) for g, jobs in groups.items()}


def _stats(store, jobs, cores: int) -> dict[str, float]:
    durations: list[float] = []
    run_ms = gc_ms = rd = wr = spill = 0
    n_stages = n_tasks = 0
    for job in jobs:
        for sid in _seq(job.stageIds()):
            stage = store.lastStageAttempt(sid)
            if str(stage.status()) == "SKIPPED":
                continue
            n_stages += 1
            n_tasks += stage.numTasks()
            run_ms += stage.executorRunTime()
            gc_ms += stage.jvmGcTime()
            rd += stage.shuffleReadBytes()
            wr += stage.shuffleWriteBytes()
            spill += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
            for task in _seq(store.taskList(sid, stage.attemptId(), 1 << 20)):
                if task.duration().isDefined():
                    durations.append(task.duration().get() / 1000.0)
    longest = max(durations, default=0.0)
    return {
        "jobs": len(jobs),
        "stages": n_stages,
        "tasks": n_tasks,
        "task_max_s": longest,
        "task_p50_s": statistics.median(durations) if durations else 0.0,
        "skew": longest / (run_ms / 1000.0 / cores) if run_ms else 0.0,
        "gc_s": gc_ms / 1000.0,
        "shuffle_read_bytes": rd,
        "shuffle_write_bytes": wr,
        "spill_bytes": spill,
    }
