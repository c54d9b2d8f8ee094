"""Spark's own bookkeeping for one operation: planning phases from the
QueryPlanningTracker of the executed QueryExecution, and jobs, stages,
tasks, shuffle and spill bytes from the status store, scoped by a job
group the benchmark sets around the operation.
"""

from __future__ import annotations

from contextlib import contextmanager

PHASES = ("analysis", "optimization", "planning")


def phases_of(qe) -> dict[str, float]:
    """Seconds per planning phase of a JVM QueryExecution."""
    out = {p: 0.0 for p in PHASES}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in out:
            ph = kv._2()
            out[kv._1()] += (ph.endTimeMs() - ph.startTimeMs()) / 1000.0
    return out


class PlanningCapture:
    """A QueryExecutionListener (implemented in Python over the py4j
    callback server) that keeps the phase times of every query execution
    that finished since the last ``take``."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.done: list[dict] = []
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM interface)
        phases = phases_of(qe)
        phases["duration"] = duration_ns / 1e9
        self.done.append(phases)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self.done.append({p: 0.0 for p in PHASES} | {"duration": 0.0, "failed": True})

    def take(self) -> list[dict]:
        wait_listeners(self.spark)
        out, self.done = self.done, []
        return out

    def close(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def wait_listeners(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


@contextmanager
def job_group(spark, group: str):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def group_stats(spark, group: str) -> dict[str, float]:
    """Jobs, stages, tasks, shuffle-write and spill bytes of ``group``."""
    wait_listeners(spark)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0}
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        out["jobs"] += 1
        for sid in info.stageIds if info else []:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — skipped stage: never ran, not counted
                continue
            if str(st.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["shuffle_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out
