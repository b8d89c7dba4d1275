"""Spark's own stage and SQL metrics, read from the driver's status stores.

Both stores are live with ``spark.ui.enabled=false``:

* the core store (``sc._jsc.sc().statusStore()``) holds jobs, their job
  group, stages with input / shuffle / spill bytes, run and CPU time, and
  per-stage task-duration quantiles;
* the SQL store (``sharedState().statusStore()``) holds each execution's
  physical plan and its formatted SQL metrics, among them the
  ``MapInPandas`` Python-worker times and the data sent to / returned
  from the workers.

Every benchmark run tags its jobs with a job group, so the numbers are
read per run and per layer.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40, "PiB": 2**50}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float | None:
    """A formatted SQL metric as a plain number: bytes for sizes, seconds
    for times, the count for sums. Metrics kept per task read
    ``total (min, med, max (stageId: taskId))\n<total> (<min>, ...)``;
    only the total is taken."""
    if text is None:
        return None
    match = _VALUE.match(text.splitlines()[-1])
    if not match:
        return None
    number, unit = float(match.group(1).replace(",", "")), match.group(2)
    if unit in _SIZE:
        return number * _SIZE[unit]
    if unit in _TIME:
        return number * _TIME[unit]
    return number if not unit else None


@dataclass
class Stage:
    stage_id: int
    start: float  # epoch seconds
    end: float
    tasks: int
    run_s: float  # summed executor run time
    cpu_s: float
    input_bytes: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int
    task_s_median: float
    task_s_max: float

    @property
    def wall_s(self) -> float:
        return self.end - self.start


@dataclass
class Execution:
    execution_id: int
    plan: str
    stage_ids: set
    metrics: dict = field(default_factory=dict)  # metric name -> summed value


class SparkStats:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jvm = self._sc._jvm
        self._seq = self._jvm.scala.jdk.javaapi.CollectionConverters.asJava
        self._bus = self._sc._jsc.sc().listenerBus()
        self._core = self._sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._quantiles = self._sc._gateway.new_array(self._jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0

    def _jobs(self, group: str) -> list:
        """Jobs tagged with ``group`` or with a sub-group ``group/<name>``."""
        # the stores are fed asynchronously by the listener bus: wait until
        # it has delivered every event of the jobs that already returned
        self._bus.waitUntilEmpty()
        out = []
        for job in self._seq(self._core.jobsList(None)):
            tag = job.jobGroup()
            if tag.isDefined() and (tag.get() == group or tag.get().startswith(group + "/")):
                out.append(job)
        return out

    def job_ids(self, group: str) -> list[int]:
        return sorted(int(job.jobId()) for job in self._jobs(group))

    def stages(self, group: str) -> list[Stage]:
        """Stages that ran (skipped ones excluded) for the group's jobs."""
        ids = {int(s) for job in self._jobs(group) for s in self._seq(job.stageIds())}
        out = []
        for sid in sorted(ids):
            for st in self._seq(self._core.stageData(sid, False, None, False, self._quantiles)):
                if str(st.status()) != "COMPLETE" or not st.submissionTime().isDefined():
                    continue
                summary = self._core.taskSummary(sid, st.attemptId(), self._quantiles)
                med = mx = 0.0
                if summary.isDefined():
                    dur = list(self._seq(summary.get().duration()))
                    med, mx = dur[0] / 1e3, dur[1] / 1e3
                out.append(
                    Stage(
                        stage_id=sid,
                        start=st.submissionTime().get().getTime() / 1e3,
                        end=st.completionTime().get().getTime() / 1e3,
                        tasks=int(st.numTasks()),
                        run_s=st.executorRunTime() / 1e3,
                        cpu_s=st.executorCpuTime() / 1e9,
                        input_bytes=int(st.inputBytes()),
                        shuffle_read_bytes=int(st.shuffleReadBytes()),
                        shuffle_write_bytes=int(st.shuffleWriteBytes()),
                        spill_bytes=int(st.diskBytesSpilled()),
                        task_s_median=med,
                        task_s_max=mx,
                    )
                )
        return out

    def executions(self, group: str) -> list[Execution]:
        """SQL executions that ran at least one of the group's jobs, with
        their metrics summed by name across the nodes of the final plan
        (the plan graph follows adaptive re-planning)."""
        jobs = set(self.job_ids(group))
        out = []
        for ex in self._seq(self._sql.executionsList()):
            if not jobs.intersection(int(j) for j in self._seq(ex.jobs().keySet())):
                continue
            eid = int(ex.executionId())
            values = self._seq(self._sql.executionMetrics(eid))
            metrics: dict = {}
            seen = set()  # a metric can be listed under more than one node
            for node in self._seq(self._sql.planGraph(eid).allNodes()):
                for metric in self._seq(node.metrics()):
                    value = parse_metric(values.get(metric.accumulatorId()))
                    if value is not None and metric.accumulatorId() not in seen:
                        seen.add(metric.accumulatorId())
                        metrics[metric.name()] = metrics.get(metric.name(), 0.0) + value
            stage_ids = {int(i) for i in self._seq(ex.stages())}
            out.append(Execution(eid, ex.physicalPlanDescription(), stage_ids, metrics))
        return out


def skew(stage: Stage) -> float:
    """Slowest task over the median task of one stage."""
    return stage.task_s_max / stage.task_s_median if stage.task_s_median > 0 else 1.0
