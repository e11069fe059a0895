"""Job and stage metrics from Spark's status store, per span.

Each span sets a Spark job group (so the status store records which span
launched which job) and, when it ends, calls ``StatusReader.take``. The
reader drains the listener bus, then sums over every job and stage whose
id is above the previous call's watermark: ids only grow, so eviction of
old UI entries cannot corrupt a delta the way a cumulative snapshot
would. Spans run one after another, so everything above the watermark
belongs to the span that just ended.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

FIELDS = (
    "jobs", "jobs_in_group", "stages", "tasks", "executor_run_s",
    "executor_cpu_s", "gc_s", "input_mb", "shuffle_read_mb",
    "shuffle_write_mb", "spill_mb",
)
_MB = 2**20


class StatusReader:
    def __init__(self, spark: SparkSession) -> None:
        self._sc = spark.sparkContext
        self._gw = self._sc._gateway
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._job_wm = -1
        self._stage_wm = -1
        self._group: str | None = None

    def set_group(self, group: str) -> None:
        self._group = group
        self._sc.setJobGroup(group, group)

    def take(self) -> dict[str, float]:
        """Totals for the jobs and stages launched since the last call."""
        self._jsc.listenerBus().waitUntilEmpty()
        out = dict.fromkeys(FIELDS, 0.0)
        it = self._store.jobsList(self._gw.jvm.java.util.ArrayList()).iterator()
        top = self._job_wm
        while it.hasNext():
            job = it.next()
            jid = job.jobId()
            if jid <= self._job_wm:
                continue
            top = max(top, jid)
            out["jobs"] += 1
            group = job.jobGroup()
            if group.isDefined() and group.get() == self._group:
                out["jobs_in_group"] += 1
        self._job_wm = top

        stages = self._store.stageList(
            self._gw.jvm.java.util.ArrayList(),  # every status
            False,  # no task details
            False,  # no summaries
            self._gw.new_array(self._gw.jvm.double, 0),
            self._gw.jvm.java.util.ArrayList(),
        )
        it = stages.iterator()
        top = self._stage_wm
        while it.hasNext():
            s = it.next()
            sid = s.stageId()
            if sid <= self._stage_wm:
                continue
            top = max(top, sid)
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["input_mb"] += s.inputBytes() / _MB
            out["shuffle_read_mb"] += s.shuffleReadBytes() / _MB
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / _MB
            out["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / _MB
        self._stage_wm = top
        return out
