"""Per-job-group stage counters from Spark's live status store, via py4j.

The store backs the web UI but is kept with ``spark.ui.enabled=false`` too.
``jobsList`` gives each job's group and stage ids; ``stageList`` gives each
stage's input, shuffle and spill bytes, peak execution memory, failed tasks
and task run-time quantiles. Nothing here adds a Spark job.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class GroupCounters:
    jobs: int = 0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    peak_mem_bytes: int = 0
    failed_tasks: int = 0
    # max / median task run time of the group's costliest stage
    task_skew: float = 1.0
    _top_run_ms: int = field(default=-1, repr=False)


class StatusStore:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._jvm = sc._jvm
        self._gateway = sc._gateway

    def _list(self, seq) -> list:
        return list(self._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))

    def snapshot(self) -> dict[str, GroupCounters]:
        """Counters of every job group seen so far (ungrouped jobs under "")."""
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        quantiles = self._gateway.new_array(self._jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        stages = {}
        for s in self._list(store.stageList(None, False, True, quantiles, None)):
            # keep the latest attempt of each stage
            if s.stageId() not in stages or s.attemptId() > stages[s.stageId()].attemptId():
                stages[s.stageId()] = s
        groups: dict[str, GroupCounters] = {}
        for job in self._list(store.jobsList(None)):
            g = job.jobGroup()
            c = groups.setdefault(g.get() if g.isDefined() else "", GroupCounters())
            c.jobs += 1
            for sid in self._list(job.stageIds()):
                s = stages.pop(sid, None)  # a stage shared by two jobs counts once
                if s is not None:
                    _add_stage(c, s, self._list)
        return groups


def _add_stage(c: GroupCounters, s, as_list) -> None:
    c.input_bytes += s.inputBytes()
    c.shuffle_write_bytes += s.shuffleWriteBytes()
    c.spill_bytes += s.diskBytesSpilled()
    c.peak_mem_bytes = max(c.peak_mem_bytes, s.peakExecutionMemory())
    c.failed_tasks += s.numFailedTasks()
    dist = s.taskMetricsDistributions()
    if s.executorRunTime() > c._top_run_ms and dist.isDefined():
        median, top = as_list(dist.get().executorRunTime())
        c._top_run_ms = s.executorRunTime()
        c.task_skew = top / max(median, 1.0)  # run times are whole ms
