"""Spark's own numbers for a finished action, read without event logs.

- ``plan_metrics``: SQL metrics of the AQE-final executed plan of a
  DataFrame after an action on it ran (``AdaptiveSparkPlanExec`` ->
  query stages -> children), summed by metric name.
- ``group_stages``: per-stage task counts, summed task run time and
  shuffle bytes from the application status store, for the jobs of one
  job group.

Units as Spark reports them: python*Time metrics are milliseconds summed
over tasks; pythonData* and shuffle bytes are bytes.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame


def plan_metrics(df: DataFrame) -> Counter:
    out: Counter = Counter()
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        ms = node.metrics()
        keys = ms.keys().iterator()
        while keys.hasNext():
            k = keys.next()
            out[k] += ms.apply(k).value()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(node.plan())
        else:
            ch = node.children()
            todo.extend(ch.apply(i) for i in range(ch.size()))
    return out


def group_stages(spark, group: str) -> list[dict]:
    """Completed stages of the jobs run under job group ``group``."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    task_status = getattr(store, "stageData$default$3")()
    quantiles = getattr(store, "stageData$default$5")()
    out = []
    for job in sc.statusTracker().getJobIdsForGroup(group):
        info = sc.statusTracker().getJobInfo(job)
        for sid in (info.stageIds if info else []):
            attempts = store.stageData(sid, False, task_status, False, quantiles)
            for i in range(attempts.size()):
                s = attempts.apply(i)
                if s.status().toString() != "COMPLETE":
                    continue
                sub, end = s.submissionTime(), s.completionTime()
                out.append({
                    "stage": sid, "tasks": s.numTasks(),
                    "run_s": s.executorRunTime() / 1e3,
                    "wall_s": ((end.get().getTime() - sub.get().getTime()) / 1e3
                               if sub.isDefined() and end.isDefined() else 0.0),
                    "shuffle_write_bytes": s.shuffleWriteBytes()})
    return out
