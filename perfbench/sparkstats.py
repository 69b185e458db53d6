"""Spark's own numbers for one operation, read from the in-process status
store (works with the UI off) and from a streaming query listener.

Job ids are handed out in order by the DAG scheduler, so in a closed loop
the jobs of one operation are exactly the ids issued between its start and
its end. This also catches micro-batch jobs, which streaming runs under its
own job group.
"""

from __future__ import annotations

from pyspark.sql.streaming import StreamingQueryListener

MB = 1e6


def next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def drain_listeners(spark) -> None:
    """Wait until every queued listener event has been delivered."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def read_jobs(spark, first: int, last: int) -> tuple[list[dict], int]:
    """Job and stage metrics for job ids in [first, last), and the number of
    those ids the status store has no record of."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs, unread = [], 0
    for jid in range(first, last):
        try:
            jd = store.job(jid)
        except Exception:  # evicted or never registered
            unread += 1
            continue
        sub, done = jd.submissionTime(), jd.completionTime()
        job = {
            "id": jid,
            "start": sub.get().getTime() / 1000 if sub.isDefined() else None,
            "end": done.get().getTime() / 1000 if done.isDefined() else None,
            "failed": jd.status().toString() == "FAILED",
            "tasks": 0, "failed_tasks": 0, "task_s": 0.0, "task_cpu_s": 0.0,
            "input_mb": 0.0, "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
            "spill_mb": 0.0,
        }
        sids = jd.stageIds()
        for i in range(sids.size()):
            try:
                st = store.lastStageAttempt(sids.apply(i))
            except Exception:
                continue
            if st.status().toString() == "SKIPPED":
                continue
            job["tasks"] += st.numTasks()
            job["failed_tasks"] += st.numFailedTasks()
            job["task_s"] += st.executorRunTime() / 1000
            job["task_cpu_s"] += st.executorCpuTime() / 1e9
            job["input_mb"] += st.inputBytes() / MB
            job["shuffle_read_mb"] += st.shuffleReadBytes() / MB
            job["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            job["spill_mb"] += st.diskBytesSpilled() / MB
        jobs.append(job)
    return jobs, unread


class ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch progress report in memory."""

    def __init__(self):
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.progress.append({
            "id": str(p.id), "batch": p.batchId,
            "rows": p.numInputRows, "duration_ms": dict(p.durationMs),
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def take(self) -> list[dict]:
        out, self.progress = self.progress, []
        return out
