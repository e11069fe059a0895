"""Driver-session timezone robustness.

The driver owns its SparkSession and applies none of our configs; a
driver host in any timezone must still produce DuckDB's naive
timestamp values. io.read_table guarantees this by pinning the session
TZ to UTC at read time (all stored timestamps are naive, so every
LTZ<->NTZ conversion is wall-clock identity) — these tests lock that
behavior by running timestamp-heavy oracled queries under a session
deliberately set to America/New_York (DST-shifting, negative offset).
"""

from __future__ import annotations

import pytest

from sparkgraft import queries as Q
from tools.oracle_check import compare

from conftest import SF_DIR

# timestamp arithmetic, month bucketing, as-of joins, sessionization —
# the shapes a wrong session TZ would corrupt
_TZ_SENSITIVE = [
    "user_sessions",
    "last_order_asof_event",
    "date_ops_orders",
    "orders_per_month",
    # r5 time-series additions: grids, RANGE frames over epoch time,
    # lerp fractions from epoch differences, interval clipping
    "customer_monthly_spend_interpolated",
    "customer_trailing_90d_spend",
    "user_value_twa_daily",
    # r6: per-group OLS over a day-count x derived from the DATE part
    # (an epoch-based x would shift under a non-UTC session)
    "order_trend_by_priority",
    # r8: both promoted behavior queries do epoch_us arithmetic on NTZ
    # timestamps — a session-TZ leak would shift gaps/decay exponents
    # across DST boundaries (events span months); read_table's UTC
    # pinning must protect them
    "user_next_event_pairs",
    "user_decayed_engagement",
]


@pytest.fixture()
def ny_session(spark):
    before = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    yield spark
    spark.conf.set("spark.sql.session.timeZone", before)


@pytest.mark.parametrize("name", _TZ_SENSITIVE)
def test_matches_oracle_under_non_utc_session(ny_session, name, duck):
    queries = {**Q.QUERIES, **Q.RETIRED_QUERIES}
    oracles = {**Q.ORACLES, **Q.RETIRED_ORACLES}
    sdf = queries[name](ny_session, SF_DIR).toPandas()
    odf = duck.sql(oracles[name]).df()
    problems = compare(name, sdf, odf)
    assert not problems, f"{name}: {problems}"
