"""Spark's own stage, task and SQL-operator metrics for the jobs of a job group.

Everything is read from the driver's status stores after the work finished
(``spark.ui.enabled=false`` keeps the stores, only the web UI is off):

- the core ``AppStatusStore`` for jobs, stages and tasks;
- the ``SQLAppStatusStore`` for per-operator SQL metrics (aggregation build
  time, sort time, Python-worker time of the Arrow/pandas operators).

The benchmark sets one job group per operation, so every number here is
attributed to the operation that caused it.
"""

from __future__ import annotations

import re
import statistics
from dataclasses import dataclass, field

# SQL metric names summed into the per-layer numbers (name -> field)
_SQL_TIMES = {
    "time in aggregation build": "agg_time_s",
    "sort time": "sort_time_s",
    "time to run Python workers": "arrow_udf_s",
}
_MS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


@dataclass
class GroupStats:
    """Totals over the jobs of one or more job groups."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    input_rows: int = 0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    task_wait_s: float = 0.0
    agg_time_s: float = 0.0
    sort_time_s: float = 0.0
    arrow_udf_s: float = 0.0
    task_durations_s: list[float] = field(default_factory=list)
    # (submitted, completed) wall-clock seconds since the epoch, per job
    job_spans: list[tuple[float, float]] = field(default_factory=list)

    def add(self, other: "GroupStats") -> None:
        for k, v in vars(other).items():
            if isinstance(v, list):
                getattr(self, k).extend(v)
            else:
                setattr(self, k, getattr(self, k) + v)


def _opt(scala_option):
    return scala_option.get() if scala_option.isDefined() else None


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric value, in seconds for timings.

    A value reads ``"381 ms"`` when one task reported it, or
    ``"total (min, med, max ...)\\n1.2 s (...)"`` over several tasks.
    """
    last = text.strip().splitlines()[-1]
    m = re.match(r"\s*([0-9.,]+)\s*([a-zA-Z]*)", last)
    if not m:
        raise ValueError(f"unparsable SQL metric value {text!r}")
    value = float(m.group(1).replace(",", ""))
    return value * _MS.get(m.group(2), 1.0)


class StatusReader:
    """Reads finished work out of the status stores of one SparkContext."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._sql_seen = self.sql_store.executionsCount()

    def group_stats(self, group: str) -> GroupStats:
        out = GroupStats()
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        out.jobs = len(job_ids)
        stage_ids = set()
        for jid in job_ids:
            job = self.store.job(jid)
            start, end = _opt(job.submissionTime()), _opt(job.completionTime())
            if start is not None and end is not None:
                out.job_spans.append((start.getTime() / 1e3, end.getTime() / 1e3))
            sids = job.stageIds()
            stage_ids.update(sids.apply(i) for i in range(sids.size()))
        for sid in sorted(stage_ids):
            self._add_stage(out, sid)
        return out

    def _add_stage(self, out: GroupStats, sid: int) -> None:
        sd = self.store.lastStageAttempt(sid)
        if sd.status().toString() == "SKIPPED":
            return
        out.stages += 1
        out.tasks += sd.numCompleteTasks() + sd.numFailedTasks()
        out.failed_tasks += sd.numFailedTasks()
        out.executor_run_s += sd.executorRunTime() / 1e3
        out.executor_cpu_s += sd.executorCpuTime() / 1e9
        out.input_rows += sd.inputRecords()
        out.input_bytes += sd.inputBytes()
        out.shuffle_write_bytes += sd.shuffleWriteBytes()
        out.shuffle_read_bytes += sd.shuffleReadBytes()
        out.spill_bytes += sd.diskBytesSpilled()
        submitted = _opt(sd.submissionTime())
        tasks = self.store.taskList(sid, sd.attemptId(), 1 << 20)
        for i in range(tasks.size()):
            t = tasks.apply(i)
            dur = _opt(t.duration())
            if dur is not None:
                out.task_durations_s.append(dur / 1e3)
            if submitted is not None:
                wait = (t.launchTime().getTime() - submitted.getTime()) / 1e3
                out.task_wait_s += max(0.0, wait)

    def new_sql_metrics(self) -> dict[str, float]:
        """SQL-operator time totals of the SQL executions since the last call."""
        totals = dict.fromkeys(_SQL_TIMES.values(), 0.0)
        count = self.sql_store.executionsCount()
        if count <= self._sql_seen:
            return totals
        execs = self.sql_store.executionsList(self._sql_seen, count - self._sql_seen)
        self._sql_seen = count
        for i in range(execs.size()):
            ex = execs.apply(i)
            wanted = {}
            metrics = ex.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                if m.name() in _SQL_TIMES:
                    # AQE lists a metric once per plan version: key by id
                    wanted[m.accumulatorId()] = _SQL_TIMES[m.name()]
            if not wanted:
                continue
            values = self.sql_store.executionMetrics(ex.executionId())
            for acc_id, name in wanted.items():
                text = values.get(acc_id)
                if text.isDefined():
                    totals[name] += parse_sql_metric(text.get())
        return totals


def covered_seconds(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``spans`` clipped to ``[lo, hi]``."""
    total, cur_end = 0.0, lo
    for start, end in sorted(spans):
        start, end = max(start, cur_end), min(end, hi)
        if end > start:
            total += end - start
            cur_end = end
    return total


def spark_layers(gs: GroupStats) -> dict[str, float]:
    """The ``spark.*`` per-layer metrics of one pass."""
    durations = gs.task_durations_s or [0.0]
    return {
        "spark.scan.input_rows": gs.input_rows,
        "spark.scan.input_bytes": gs.input_bytes,
        "spark.exchange.shuffle_write_bytes": gs.shuffle_write_bytes,
        "spark.exchange.shuffle_read_bytes": gs.shuffle_read_bytes,
        "spark.agg_time_s": gs.agg_time_s,
        "spark.sort_time_s": gs.sort_time_s,
        "spark.arrow_udf_s": gs.arrow_udf_s,
        "spark.jobs": gs.jobs,
        "spark.stages": gs.stages,
        "spark.tasks": gs.tasks,
        "spark.executor_run_s": gs.executor_run_s,
        "spark.executor_cpu_s": gs.executor_cpu_s,
        "spark.task_wait_s": gs.task_wait_s,
        "spark.task_p50_s": statistics.median(durations),
        "spark.task_max_s": max(durations),
        "spark.spill_bytes": gs.spill_bytes,
        "spark.failed_tasks": gs.failed_tasks,
    }
