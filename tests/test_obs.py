"""obs.stage_reader: each read returns exactly the stages launched since
the previous read, with their shuffle bytes."""

from __future__ import annotations

from sparkgraft.obs import stage_reader


def test_stage_reader_returns_the_stages_since_the_last_read(spark):
    sc = spark.sparkContext
    read = stage_reader(spark)
    read()  # whatever ran before this test
    spark.range(1000, numPartitions=2).selectExpr("sum(id)").collect()
    first = read()
    assert first

    # a shuffling job, tagged so its stage ids can be looked up
    sc.setJobGroup("obs-stage-reader", "obs-stage-reader")
    try:
        spark.range(10_000, numPartitions=4).selectExpr(
            "id % 7 AS k"
        ).groupBy("k").count().collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    tracker = sc.statusTracker()
    job_stages = {
        sid
        for jid in tracker.getJobIdsForGroup("obs-stage-reader")
        for sid in tracker.getJobInfo(jid).stageIds
    }

    second = read()
    assert {s["id"] for s in second} == job_stages
    assert min(s["id"] for s in second) > max(s["id"] for s in first)
    assert sum(s["shuffle_write"] for s in second) > 0
    assert sum(s["shuffle_read"] for s in second) > 0
    # no new jobs: nothing above the watermark
    assert read() == []
