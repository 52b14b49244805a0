"""Spark's own counters, read from outside the program through the
SparkContext status store (the store behind the web UI, populated by the
listener bus whether or not the UI runs).

``mark()`` notes the newest job, stage and SQL execution; ``since(mark)``
sums what ran after it.
"""

from __future__ import annotations

import re
import statistics
import time
from dataclasses import dataclass

# A file-source scan node in a formatted physical plan's detail section.
_FILE_SCAN = re.compile(r"^\(\d+\) Scan (parquet|orc|json|csv|text)\b", re.M)


@dataclass(frozen=True)
class Mark:
    job: int
    stage: int
    execution: int


@dataclass
class Counters:
    jobs: int
    stages: int
    tasks: int
    failed_tasks: int
    executor_run_s: float
    input_mb: float
    shuffle_write_mb: float
    output_mb: float
    task_skew: float  # max / median task time in the stage with most run time
    file_scans: int  # file-scan nodes over the executed plans


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class SparkCounters:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        jvm = sc._jvm
        self._empty = jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _stages(self) -> list:
        return _seq(
            self._store.stageList(self._empty, False, False, self._no_quantiles, self._empty)
        )

    def mark(self) -> Mark:
        self._drain()
        jobs = [j.jobId() for j in _seq(self._store.jobsList(self._empty))]
        stages = [s.stageId() for s in self._stages()]
        execs = [e.executionId() for e in _seq(self._sql.executionsList())]
        return Mark(max(jobs, default=-1), max(stages, default=-1), max(execs, default=-1))

    def since(self, mark: Mark) -> Counters:
        self._drain()
        jobs = [j for j in _seq(self._store.jobsList(self._empty)) if j.jobId() > mark.job]
        stages = [
            s
            for s in self._stages()
            if s.stageId() > mark.stage and str(s.status()) != "SKIPPED"
        ]
        skew = 1.0
        if stages:
            heavy = max(stages, key=lambda s: s.executorRunTime())
            tasks = _seq(self._store.taskList(heavy.stageId(), heavy.attemptId(), 1 << 20))
            durs = [t.duration().get() for t in tasks if t.duration().isDefined()]
            if durs and statistics.median(durs) > 0:
                skew = max(durs) / statistics.median(durs)
        scans = sum(
            len(_FILE_SCAN.findall(e.physicalPlanDescription()))
            for e in _seq(self._sql.executionsList())
            if e.executionId() > mark.execution
        )
        return Counters(
            jobs=len(jobs),
            stages=len(stages),
            tasks=sum(s.numTasks() for s in stages),
            failed_tasks=sum(s.numFailedTasks() for s in stages),
            executor_run_s=sum(s.executorRunTime() for s in stages) / 1e3,
            input_mb=sum(s.inputBytes() for s in stages) / 1e6,
            shuffle_write_mb=sum(s.shuffleWriteBytes() for s in stages) / 1e6,
            output_mb=sum(s.outputBytes() for s in stages) / 1e6,
            task_skew=skew,
            file_scans=scans,
        )


def planning_s(spark, df) -> float:
    """Analysis + optimisation + physical planning of ``df``'s plan, timed
    on a fresh query execution before anything runs."""
    jvm = spark._jvm
    t0 = time.perf_counter()
    fresh = jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, df._jdf.queryExecution().logical()
    )
    fresh.queryExecution().executedPlan()
    return time.perf_counter() - t0
