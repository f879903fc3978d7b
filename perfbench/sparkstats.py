"""Read what Spark recorded about the jobs a block of code ran.

Two sources, both filled with ``spark.ui.enabled=false``:

* the SQL status store (``sharedState().statusStore()``): per-operator SQL
  metrics, summed by **metric name** over every node of every execution,
  whatever the node's class.  Python time and bytes come from any Python
  exec node (``MapInPandas``, ``MapInArrow``, ``ArrowEvalPython``,
  ``BatchEvalPython``, ``FlatMapGroupsInPandas``, ...), shuffle bytes from
  exchanges and spill from sorts and aggregates;
* the app status store: jobs, stages and tasks, with raw counters.

Usage: ``m = mark(spark)`` before the code, ``sql_metrics(spark, m)`` and
``app_metrics(spark, m)`` after it.
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass

# SQL metric name -> name used in the benchmark's records
PYTHON_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}

_UNITS = {
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
    "PiB": 2.0**50, "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric, in bytes or seconds for sized and
    timed metrics.

    The store keeps ``"1,234"`` for counts, ``"25 ms"`` for a single value,
    and ``"total (min, med, max ...)\\n15.0 s (273 ms, ...)"`` when tasks
    reported separately; the total leads the last line."""
    total = text.strip().splitlines()[-1].split(" (")[0].split()
    value = float(total[0].replace(",", ""))
    return value * _UNITS[total[1]] if len(total) > 1 else value


@dataclass(frozen=True)
class Mark:
    execution_id: int
    job_id: int


def wait_for_listeners(spark) -> None:
    """Block until the listener bus has delivered every event so far; the
    stores are filled asynchronously after an action returns."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _last_execution_id(spark) -> int:
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return max((execs.apply(i).executionId() for i in range(execs.size())), default=-1)


def _job_ids(spark) -> list[int]:
    return sorted(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def mark(spark) -> Mark:
    wait_for_listeners(spark)
    return Mark(_last_execution_id(spark), max(_job_ids(spark), default=-1))


def sql_metrics(spark, since: Mark) -> dict[str, float]:
    """Every SQL metric of the executions after ``since``, summed by name
    over all nodes.  Averages (e.g. hash probes per key) have no total and
    are left out."""
    wait_for_listeners(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    totals: dict[str, float] = {}
    for i in range(execs.size()):
        eid = execs.apply(i).executionId()
        if eid <= since.execution_id:
            continue
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for n in range(nodes.size()):
            metrics = nodes.apply(n).metrics()
            for k in range(metrics.size()):
                metric = metrics.apply(k)
                text = values.get(metric.accumulatorId())
                if text.isDefined() and metric.metricType() != "average":
                    name = metric.name()
                    totals[name] = totals.get(name, 0.0) + parse_metric(text.get())
    return totals


def python_metrics(totals: dict[str, float]) -> dict[str, float]:
    return {short: totals.get(name, 0.0) for name, short in PYTHON_METRICS.items()}


def jvm_gc_s(spark) -> float:
    """GC time of the driver JVM (which runs the local executor) since it
    started, from its GarbageCollectorMXBeans."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3


def _opt_ms(option) -> float | None:
    return option.get().getTime() / 1e3 if option.isDefined() else None


def app_metrics(spark, since: Mark) -> dict[str, float]:
    """Job, stage and task counters of the jobs after ``since``."""
    wait_for_listeners(spark)
    jvm = spark.sparkContext._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    out = dict(jobs=0, tasks=0, executor_cpu_s=0.0,
               shuffle_write_bytes=0, spill_bytes=0)
    delays, widest = [], None
    for job_id in _job_ids(spark):
        if job_id <= since.job_id:
            continue
        job = store.job(job_id)
        out["jobs"] += 1
        first_launch = []
        stage_ids = job.stageIds()
        for s in range(stage_ids.size()):
            attempts = store.stageData(
                stage_ids.apply(s), False, jvm.java.util.ArrayList(), False,
                no_quantiles,
            )
            for a in range(attempts.size()):
                st = attempts.apply(a)
                out["tasks"] += st.numCompleteTasks()
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                launched = _opt_ms(st.firstTaskLaunchedTime())
                if launched is not None:
                    first_launch.append(launched)
                if widest is None or st.numCompleteTasks() > widest[2]:
                    widest = (st.stageId(), st.attemptId(), st.numCompleteTasks())
        submitted = _opt_ms(job.submissionTime())
        if submitted is not None and first_launch:
            delays.append(min(first_launch) - submitted)
    out["first_task_delay_s"] = statistics.median(delays) if delays else 0.0
    out["task_skew"] = _task_skew(store, widest)
    return out


def _task_skew(store, widest) -> float:
    """max / median task duration in the stage with the most tasks."""
    if widest is None or widest[2] == 0:
        return 1.0
    tasks = store.taskList(widest[0], widest[1], widest[2])
    durations = []
    for i in range(tasks.size()):
        d = tasks.apply(i).duration()
        if d.isDefined():
            durations.append(float(d.get()))
    med = statistics.median(durations) if durations else 0.0
    return max(durations) / med if med > 0 else 1.0
