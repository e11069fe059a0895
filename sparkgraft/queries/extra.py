"""Second-wave coverage: grouped conformance, exact percentiles,
exists/forall HOFs, and map-typed JSON handling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import read_table
from .registry import register


@register(
    "user_event_cms_counts",
    # NEW r6 retired tier: the Count-Min state + its estimates fully
    # recomputed in SQL — positions (md5), cell counts, the min-over-
    # seeds read, AND the exact counts, so the one-sided error of every
    # estimate is part of the verified surface. PROMOTED to the active
    # driver tier r7 (rotation policy); RETIRED AGAIN r9 (two-round
    # stable, funds the contrastive_training_pairs promotion).
    retired=True,
    oracle="""
    WITH seeds(seed) AS (VALUES (0), (1), (2), (3)),
    cells AS (
        SELECT seed,
               CAST('0x' || substr(md5(CAST(seed AS VARCHAR) || '|'
                                        || CAST(user_id AS VARCHAR)), 1, 8)
                    AS BIGINT) % 256 AS pos
        FROM events CROSS JOIN seeds
        WHERE user_id IS NOT NULL
    ),
    state AS (SELECT seed, pos, count(*) AS n FROM cells GROUP BY 1, 2),
    probes AS (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL),
    probe_cells AS (
        SELECT user_id, seed,
               CAST('0x' || substr(md5(CAST(seed AS VARCHAR) || '|'
                                        || CAST(user_id AS VARCHAR)), 1, 8)
                    AS BIGINT) % 256 AS pos
        FROM probes CROSS JOIN seeds
    ),
    est AS (
        SELECT user_id, CAST(min(coalesce(n, 0)) AS BIGINT) AS est
        FROM probe_cells LEFT JOIN state USING (seed, pos)
        GROUP BY user_id
    ),
    exact AS (
        SELECT user_id, count(*) AS exact
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    )
    SELECT user_id, est, exact, CAST(est - exact AS BIGINT) AS overcount
    FROM est JOIN exact USING (user_id)
    """,
)
def user_event_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event frequencies read from a Count-Min sketch
    (incremental.partial_cms / cms_estimate, width 256 x depth 4 —
    deliberately NARROW so real hash collisions exercise the min-over-
    seeds read at test scale), joined against the exact counts so the
    sketch's one-sided guarantee (est >= exact, small overcount) is
    hash-verified row by row. At 100 TB the sketch is the point: per-
    item frequency tracking in depth x width longs of state per key,
    mergeable across batches by plain cell sums (fold == one-shot
    asserted exactly in tests/test_incremental.py)."""
    from .. import incremental as I

    ev = read_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    state = I.partial_cms(ev, [], "user_id", width=256, depth=4)
    items = ev.select("user_id").distinct()
    est = I.cms_estimate(state, items, [], "user_id", width=256, depth=4)
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact"))
    return est.join(exact, "user_id").select(
        "user_id",
        "est",
        "exact",
        (F.col("est") - F.col("exact")).cast("bigint").alias("overcount"),
    )


@register(
    "order_trend_by_priority",
    # NEW r6 retired tier: per-group OLS trend with every sufficient
    # statistic, the closed form, and the rounding recomputed in SQL.
    retired=True,
    oracle="""
    WITH base AS (
        SELECT o_orderpriority,
               CAST(date_diff('day', DATE '1995-01-01',
                              CAST(o_orderdate AS DATE)) AS DOUBLE) AS x,
               CAST(o_totalprice AS DOUBLE) AS y
        FROM orders
    ),
    stats AS (
        SELECT o_orderpriority,
               count(*) AS n,
               CAST(sum(CAST(x AS DECIMAL(38,10))) AS DOUBLE) AS sx,
               CAST(sum(CAST(y AS DECIMAL(38,10))) AS DOUBLE) AS sy,
               CAST(sum(CAST(x * x AS DECIMAL(38,10))) AS DOUBLE) AS sxx,
               CAST(sum(CAST(y * y AS DECIMAL(38,10))) AS DOUBLE) AS syy,
               CAST(sum(CAST(x * y AS DECIMAL(38,10))) AS DOUBLE) AS sxy
        FROM base GROUP BY 1
    )
    SELECT o_orderpriority, n,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                 / n, 6) AS intercept,
           round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM stats
    """,
)
def order_trend_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """contract.groupwise_ols: the per-segment drift-rate monitor —
    least-squares slope of order value against order date (in days),
    per priority class, in ONE keyed aggregate of decimal-exact
    sufficient statistics (never collecting a group, never a window
    over an unbounded partition). A priority class whose slope moves
    is repricing; r2 says whether the trend is real or noise."""
    from ..contract import groupwise_ols

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        # datediff, not unix_timestamp: epoch conversion of an ntz
        # timestamp is SESSION-TZ-dependent (x would shift hours under
        # a non-UTC session); day arithmetic on the date part is not
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
        .cast("double")
        .alias("x"),
        F.col("o_totalprice").cast("double").alias("y"),
    )
    return groupwise_ols(orders, ["o_orderpriority"], "x", "y")
