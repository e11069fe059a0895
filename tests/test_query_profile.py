"""tools/query_profile.py's per-pass CPU split: the JVM thread classes
match the thread names of a real session's JVM."""

from __future__ import annotations

from tools import query_profile as P


def test_thread_classes_match_the_jvm_threads(spark):
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    before = P.thread_cpu(pid)
    spark.range(10_000, numPartitions=2).selectExpr("sum(id)").collect()
    after = P.thread_cpu(pid)
    classes = {cls for cls, _ in after[1].values()}
    assert {"C2", "C1", "task", "py4j/driver", "GC"} <= classes
    assert after[0] >= before[0]
    line = P.thread_cpu_line(before, after)
    for cls, _ in P.THREAD_CLASSES:
        assert f" {cls}=" in line
