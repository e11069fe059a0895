"""Window-function breadth (SURVEY §2.5) + sessionization + as-of join.

The reference uses exactly two windows (rank for latest-version, a dead
row_number — event_verify.py:36-39, 95-96). The engine exposes the full
surface: ranking family, frame-spec running aggregates, lag/lead, and
the two composite operators built on them (gap sessionization, union-
merge as-of join).

Every ordering carries a unique tiebreaker so results are deterministic
under any partitioning — a window over a non-unique ordering is the
reference's nondeterminism bug class (SURVEY §4.2.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import read_table
from ..relational import as_of_join, epoch_us, sessionize
from .registry import dec, register


@register(
    "user_sessions",
    """
    WITH ordered AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ), sessions AS (
        SELECT user_id, ts, event_id,
               CAST(SUM(is_new) OVER (PARTITION BY user_id
                                      ORDER BY ts ASC, event_id ASC
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS session_id
        FROM ordered
    )
    SELECT user_id, session_id,
           count(*) AS n_events,
           min(ts) AS session_start,
           max(ts) AS session_end
    FROM sessions GROUP BY user_id, session_id
    """,
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap): lag + running boundary sum,
    one shuffle on user_id (SURVEY §7 extension surface)."""
    ev = read_table(spark, sf_dir, "events")
    sess = sessionize(ev, ["user_id"], "ts", gap_seconds=1800, order_extra=["event_id"])
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@register(
    "last_order_asof_event",
    # RETIRED r8 (three-round-stable; slot funds the r8 promotions —
    # rotation policy; oracle intact, verified every pytest run)
    retired=True,
    oracle="""
    SELECT e.event_id, e.user_id, e.ts,
           o.o_orderkey AS last_orderkey, o.o_orderdate AS last_orderdate
    FROM events e
    LEFT JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    QUALIFY row_number() OVER (
        PARTITION BY e.event_id
        ORDER BY o.o_orderdate DESC NULLS LAST, o.o_orderkey DESC NULLS LAST) = 1
    """,
)
def last_order_asof_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event annotated with the user's most recent
    order at event time. The oracle is the naive range join + top-1;
    the engine runs the union-merge plan (relational.as_of_join) which
    does one shuffle instead of a per-key cross product."""
    ev = read_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = (
        read_table(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("user_id"),
            "o_orderdate",
            F.col("o_orderkey").alias("last_orderkey"),
            F.col("o_orderdate").alias("last_orderdate"),
        )
    )
    return as_of_join(
        ev,
        orders,
        on="user_id",
        left_time="ts",
        right_time="o_orderdate",
        value_cols=["last_orderkey", "last_orderdate"],
        right_tiebreak="last_orderkey",
    ).select("event_id", "user_id", "ts", "last_orderkey", "last_orderdate")


@register(
    "customer_trailing_90d_spend",
    # Retired-tier BREADTH query: the one window-frame kind nothing
    # else exercises — a RANGE frame over TIME (value-based, so all
    # same-day peers enter the frame together, unlike any ROWS frame).
    # Decimal-exact sums; the avg follows the pricing_summary
    # decimal->double->round(4) convention on both engines.
    retired=True,
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderdate,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
               AS trailing_sum,
           count(*) OVER w AS trailing_n,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w
                      AS DOUBLE) / count(*) OVER w, 4) AS trailing_avg
    FROM orders
    WHERE o_custkey < 300
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                 RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW)
    """,
)
def customer_trailing_90d_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 90-day spend per order: a time-RANGE window frame —
    the moving aggregate every metrics pipeline computes over event
    time. RANGE (value-based) semantics matter: two orders on the same
    day are peers and see the SAME frame, where a ROWS frame would
    order them arbitrarily and produce nondeterministic partial sums.
    Scale shape: one shuffle on the partition key; frame state is
    bounded by a key's 90-day order count, never the partition."""
    orders = read_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 300)
    day_us = 86400 * 1_000_000
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(epoch_us("o_orderdate"))
        .rangeBetween(-90 * day_us, 0)
    )
    tsum = F.sum(dec("o_totalprice")).over(w).cast("double")
    tn = F.count(F.lit(1)).over(w)
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        tsum.alias("trailing_sum"),
        tn.alias("trailing_n"),
        F.round(tsum / tn, 4).alias("trailing_avg"),
    )


@register(
    "user_value_twa_daily",
    # PROMOTED to a driver slot r6 (rotation policy: new operator
    # families earn driver rows): time-weighted averaging (LOCF) —
    # interval construction, the period-grid explode, microsecond
    # overlap clipping, and the decimal-weighted sums all recomputed
    # in SQL.
    oracle="""
    WITH iv AS (
        SELECT user_id AS k, ts, value AS v,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts, value) AS nts
        FROM events WHERE user_id < 60
    ),
    ivf AS (SELECT * FROM iv WHERE nts IS NOT NULL AND nts > ts),
    grid AS (
        SELECT k, v, ts, nts,
               unnest(generate_series(date_trunc('day', ts),
                                      date_trunc('day', nts),
                                      INTERVAL 1 DAY)) AS p
        FROM ivf
    ),
    ov AS (
        SELECT k, p, v,
               CAST(epoch_us(least(nts, p + INTERVAL 1 DAY))
                  - epoch_us(greatest(ts, p)) AS BIGINT) AS us
        FROM grid
    ),
    w AS (
        SELECT k, p, us,
               CAST(v * CAST(us AS DOUBLE) AS DECIMAL(38,6)) AS wv
        FROM ov WHERE us > 0
    )
    SELECT k AS user_id, p AS period_ts,
           round(CAST(sum(wv) AS DOUBLE) / CAST(sum(us) AS DOUBLE), 6) AS twa,
           CAST(sum(us) AS BIGINT) AS covered_us
    FROM w GROUP BY 1, 2
    """,
)
def user_value_twa_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """relational.time_weighted_avg over the event stream: each user's
    daily time-weighted value under last-observation-carried-forward —
    the aggregate that answers 'what level was this metric AT' where a
    plain AVG over-weights bursts (ten readings in a minute shouldn't
    dominate a day spent at another level). Intervals from one window,
    clipped onto the day grid, decimal-weighted sums."""
    from ..relational import time_weighted_avg

    ev = read_table(spark, sf_dir, "events").where(F.col("user_id") < 60)
    return time_weighted_avg(ev, "user_id", "ts", "value", period="day")
