"""tools/query_profile.py's per-pass CPU split: the JVM thread classes
match the thread names of a real session's JVM; its heap,
class-archive and build round-trip lines."""

from __future__ import annotations

import collections

from pyspark.sql import functions as F

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


def test_heap_line_sums_young_collections_and_all_gc_time():
    before = {"G1 Young Generation": (10, 400), "G1 Old Generation": (0, 0),
              "G1 Concurrent GC": (2, 5)}
    after = {"G1 Young Generation": (13, 460), "G1 Old Generation": (1, 90),
             "G1 Concurrent GC": (3, 8)}
    peaks = {"G1 Eden Space": 512 * 2**20, "G1 Old Gen": 120 * 2**20,
             "G1 Survivor Space": 2**20, "Metaspace": 90 * 2**20}
    assert P.heap_line(before, after, peaks) == (
        "  jvm heap: young_gcs=3 gc=0.15s eden_peak=512MB old_peak=120MB"
    )
    # a collector that first shows up mid-pass counts from zero
    assert "young_gcs=1 gc=0.01s" in P.heap_line(
        {}, {"G1 Young Generation": (1, 10)}, {}
    )


def test_heap_readings_come_from_the_session_jvm(spark):
    P.reset_pool_peaks(spark._jvm)
    gc0 = P.gc_totals(spark._jvm)
    spark.range(10_000, numPartitions=2).selectExpr("sum(id)").collect()
    gc1, peaks = P.gc_totals(spark._jvm), P.pool_peaks(spark._jvm)
    assert "G1 Young Generation" in gc1 and gc1.keys() >= gc0.keys()
    assert {"G1 Eden Space", "G1 Old Gen"} <= peaks.keys()
    assert P.heap_line(gc0, gc1, peaks).startswith("  jvm heap: young_gcs=")


def test_archive_line_names_the_archive_or_the_reason():
    assert P.archive_line("/c/sparkgraft/cds/k.jsa", None) == (
        "cds archive: mapped /c/sparkgraft/cds/k.jsa"
    )
    reason = "the driver JVM was started without -XX:SharedArchiveFile="
    assert P.archive_line(None, reason) == f"cds archive: not mapped: {reason}"


def test_round_trips_are_counted_by_kind(spark):
    P.release_proxies(spark)
    with P.count_round_trips() as trips:
        col = F.col("id")  # a name, a member lookup and a call
        spark.range(1).select(col).collect()
        del col
        P.release_proxies(spark)
    assert trips["name"] >= 1 and trips["member"] >= 1 and trips["delete"] >= 1
    assert trips["call"] > trips["name"]
    before = sum(trips.values())
    F.col("y")  # after the block: not counted
    assert sum(trips.values()) == before
    assert set(trips) <= {"call", "member", "name", "delete", "other"}


def test_round_trip_line_lists_every_kind():
    trips = collections.Counter(call=5, member=2, name=2, delete=4)
    assert P.round_trip_line(trips, 0.25) == (
        "  build: 0.250s, py4j round trips 13 "
        "(call=5 member=2 name=2 delete=4 other=0)"
    )
