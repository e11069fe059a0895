"""Build-time py4j round trips: a ``session.get_spark`` session builds
``crawl_to_corpus`` within a fixed budget, and runtime errors still
surface without PySpark's per-call origin capture."""

from __future__ import annotations

import pytest
from pyspark.errors import ArithmeticException
from pyspark.sql import functions as F

from sparkgraft import queries as Q
from tools.query_profile import count_round_trips, release_proxies

# py4j round trips to build crawl_to_corpus once, the deletes of the
# proxies it made included (about 5,200 before the origin capture was
# turned off and the URL builders were cut down)
CRAWL_BUILD_BUDGET = 1500


def test_crawl_to_corpus_builds_within_the_round_trip_budget(spark, sf_dir):
    build = Q.QUERIES["crawl_to_corpus"]
    build(spark, sf_dir)  # the first build's one-time lookups
    release_proxies(spark)
    with count_round_trips() as trips:
        df = build(spark, sf_dir)
        del df
        release_proxies(spark)
    assert 0 < sum(trips.values()) <= CRAWL_BUILD_BUDGET, dict(trips)


def test_get_spark_turns_the_origin_capture_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_runtime_errors_surface_without_the_origin_capture(spark):
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        with pytest.raises(ArithmeticException) as err:
            spark.range(1).select(F.lit(1) / F.lit(0)).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert err.value.getCondition() == "DIVIDE_BY_ZERO"
