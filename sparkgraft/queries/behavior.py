"""Behavioral analytics queries (funnel conversion, cohort retention,
next-event training pairs, time-decayed engagement) over the events
table: every step timestamp, conversion verdict, cohort truncation,
retention count, training pair and decayed sum is recomputed by the
DuckDB oracle. `user_next_event_pairs` and `user_decayed_engagement`
hold active driver slots since r8; the rest are retired-tier breadth
(the registry sits at its 50-slot cap).

Library logic in sparkgraft/analytics.py.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

from ..analytics import funnel_steps, time_decayed_sum
from ..io import read_table
from .registry import register

# lambda = ln(2) / (30-day half-life in microseconds), DERIVED once
# driver-side (analytics.time_decayed_sum does the same derivation)
# and f-stringed into the oracle so both engines multiply by the
# byte-identical double literal (repr round-trips doubles exactly).
_LAMBDA_30D_US = math.log(2.0) / (30 * 86_400 * 1e6)


@register(
    "user_funnel_view_click_purchase",
    # PROMOTED to a driver slot r6; RETIRED r8 after two green rounds
    # (rotation policy — slot funds the perceptual_near_dup_planted
    # promotion; oracle intact, verified every pytest run)
    retired=True,
    oracle="""
    WITH s1 AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY 1
    ),
    s2 AS (
        SELECT e.user_id, min(ts) AS t2 FROM events e JOIN s1 USING (user_id)
        WHERE event_type = 'click' AND ts > t1 GROUP BY 1
    ),
    s3 AS (
        SELECT e.user_id, min(ts) AS t3 FROM events e JOIN s2 USING (user_id)
        WHERE event_type = 'purchase' AND ts > t2 GROUP BY 1
    )
    SELECT s1.user_id,
           t1 AS step_1_ts, t2 AS step_2_ts, t3 AS step_3_ts,
           t3 IS NOT NULL AND t3 <= t1 + INTERVAL 7 DAY AS converted
    FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
    """,
)
def user_funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """analytics.funnel_steps over view -> click -> purchase with a
    7-day conversion window. Leftmost-match semantics are exactly the
    oracle's chain of mins (first view, first click after it, first
    purchase after that); the Spark plan computes all three in ONE
    higher-order fold over each user's sorted funnel events — one
    shuffle, no per-step self-joins."""
    ev = read_table(spark, sf_dir, "events")
    return funnel_steps(
        ev, ["view", "click", "purchase"], within="7 days"
    )


@register(
    "user_next_event_pairs",
    # NEW r7; PROMOTED to the active driver gate r8 (VERDICT r7 #3,
    # slot funded by retiring the three-round-stable
    # last_order_asof_event): the training-example generator for
    # next-event-prediction models — every (current, next) transition
    # within a session gap, recomputed via the identical lead window
    # in SQL.
    # Retired r13 (slot rotation, VERDICT r12 #5): five-round-stable;
    # the lead-window machinery stays driver-exercised by
    # user_sessions and user_value_twa_daily. Slot funds the
    # robots_url_gate promotion.
    retired=True,
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_id, event_type, ts,
               lead(event_type) OVER w AS next_type,
               epoch_us(lead(ts) OVER w) - epoch_us(ts) AS gap_us
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    )
    SELECT user_id, event_id, event_type, next_type, gap_us
    FROM ordered
    WHERE next_type IS NOT NULL AND gap_us <= 1800000000
    """,
)
def user_next_event_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-event-prediction training pairs: per user, each event
    paired with the NEXT event within the 30-minute session gap —
    (user_id, event_id, event_type, next_type, gap_us). The supervised
    examples a sequence model trains on, generated with one lead()
    window over the (user, ts, event_id) ordering (the sessionize
    partitioning: one shuffle keyed on user, deterministic total order
    via the event_id tiebreak). Pairs crossing the gap — or a user's
    last event — emit nothing, matching session boundaries."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from ..relational import epoch_us

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    staged = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
        (epoch_us(F.lead("ts").over(w)) - epoch_us("ts")).alias("gap_us"),
    )
    return staged.where(
        F.col("next_type").isNotNull() & (F.col("gap_us") <= 1_800_000_000)
    )


@register(
    "user_decayed_engagement",
    # NEW r7; PROMOTED to the active driver gate r8 (VERDICT r7 #3,
    # slot funded by retiring the three-round-stable
    # lineitem_grouping_sets): exponential time-decay scoring — the
    # recency-weighted engagement feature online systems keep. Each
    # contribution rounds to 12 (absorbing libm exp ulps) and sums in
    # exact decimal; the anchor is the corpus max ts (a 1-row scalar,
    # recomputed in SQL via a subquery).
    oracle=f"""
    WITH anchor AS (SELECT max(ts) AS t_max FROM events)
    SELECT user_id,
           round(CAST(sum(CAST(round(
               value * exp(-(epoch_us(t_max) - epoch_us(ts))
                           * {_LAMBDA_30D_US!r}), 12)
               AS DECIMAL(28,12))) AS DOUBLE), 6) AS decayed_value,
           count(*) AS n_events
    FROM events CROSS JOIN anchor
    WHERE value IS NOT NULL
    GROUP BY user_id
    """,
)
def user_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted engagement per user: ``analytics.
    time_decayed_sum`` with a 30-day half-life (lambda = ln(2) /
    half_life, DERIVED — r8 lifted the r7 one-off query logic into the
    parameterized library operator; the hardcoded 2.672e-13 literal is
    gone from both engines) anchored at the corpus max timestamp — the
    standard decayed-counter feature (recent activity dominates, old
    activity never fully vanishes). The anchor is an A5 in-plan 1-row
    broadcast; the decay is row-local; one map-side-combinable
    aggregate per user. Each contribution rounds to 12 decimals
    (engine libm exp may differ by an ulp) and accumulates in exact
    DECIMAL, so the per-user sums hash-match across engines."""
    ev = read_table(spark, sf_dir, "events")
    return time_decayed_sum(
        ev, ["user_id"], "ts", "value", half_life_s=30 * 86_400
    )
