"""obs.stage_reader: each read returns exactly the stages that ran since
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
    # AQE runs the map stage as its own job; the result job lists that
    # stage again under a new id, skipped, which the reader leaves out
    tracker = sc.statusTracker()
    ran = {
        sid
        for jid in tracker.getJobIdsForGroup("obs-stage-reader")
        for sid in tracker.getJobInfo(jid).stageIds
        if tracker.getStageInfo(sid).numCompletedTasks > 0
    }

    second = read()
    assert {s["id"] for s in second} == ran
    assert min(s["id"] for s in second) > max(s["id"] for s in first)
    assert sum(s["shuffle_write"] for s in second) > 0
    assert sum(s["shuffle_read"] for s in second) > 0
    # no new jobs: nothing above the watermark
    assert read() == []


def test_stage_reader_leaves_out_skipped_stages(spark):
    """A second action on the same shuffled frame reuses the shuffle
    files, so Spark skips its map stage; the read must not report that
    stage as a 0-task row, and a later read must not see it again."""
    read = stage_reader(spark)
    read()  # whatever ran before this test
    df = spark.range(10_000, numPartitions=4).selectExpr("id % 7 AS k")
    counts = df.groupBy("k").count()
    counts.collect()
    assert all(s["tasks"] > 0 for s in read())
    counts.collect()
    second = read()
    assert second
    assert [s for s in second if s["tasks"] == 0] == []
    assert read() == []
