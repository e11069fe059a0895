"""Run telemetry read from Spark's own status store, with no Spark
action: per-stage executor metrics for whatever ran between two reads.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import SparkSession


def stage_reader(spark: SparkSession) -> Callable[[], list[dict]]:
    """A closure that, on each call, returns one row per stage whose id
    is above the previous call's watermark — the stages launched since
    the last read — sorted by id. A stage Spark skipped (its shuffle
    output already existed, e.g. a re-run frame or an AQE-reused
    exchange) ran no task and is left out, but still moves the
    watermark.

    Stage ids only grow, so the status store evicting its oldest
    entries cannot corrupt a delta the way a cumulative-sum snapshot
    would. The listener bus is drained first, so a task-end update is
    not attributed to the next read. Row keys: ``id``, ``name``,
    ``tasks``, ``run_ms``, ``cpu_ms``, ``in_bytes``, ``shuffle_read``,
    ``shuffle_write``, ``spill_mem``, ``spill_disk``.
    """
    sc = spark.sparkContext
    gw = sc._gateway
    jsc = sc._jsc.sc()
    store = jsc.statusStore()
    watermark = -1

    def read() -> list[dict]:
        nonlocal watermark
        jsc.listenerBus().waitUntilEmpty()
        seq = store.stageList(
            gw.jvm.java.util.ArrayList(),  # every status
            False,  # no task details
            False,  # no summaries
            gw.new_array(gw.jvm.double, 0),
            gw.jvm.java.util.ArrayList(),
        )
        out = []
        top = watermark
        it = seq.iterator()
        while it.hasNext():
            s = it.next()
            if s.stageId() <= watermark:
                continue
            top = max(top, s.stageId())
            if s.status().toString() == "SKIPPED":
                continue
            out.append(
                {
                    "id": s.stageId(),
                    "name": str(s.name()),
                    "tasks": s.numCompleteTasks(),
                    "run_ms": s.executorRunTime(),
                    "cpu_ms": s.executorCpuTime() // 1_000_000,
                    "in_bytes": s.inputBytes(),
                    "shuffle_read": s.shuffleReadBytes(),
                    "shuffle_write": s.shuffleWriteBytes(),
                    "spill_mem": s.memoryBytesSpilled(),
                    "spill_disk": s.diskBytesSpilled(),
                }
            )
        out.sort(key=lambda d: d["id"])
        watermark = top
        return out

    return read
