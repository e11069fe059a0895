"""Named queries + DuckDB oracle SQL — the harness-facing surface.

Every operator from SURVEY.md §2 (and the LLM-pipeline extensions) is
exposed here as a named query ``(spark, sf_dir) -> DataFrame`` paired
with ANSI SQL that DuckDB runs on the same parquet tables. Column names
and value representations are aligned on both sides (the driver compares
row-count + schema + order-insensitive value hash):

- every computed column is aliased identically in both;
- sums of doubles go through exact DECIMAL arithmetic, then cast to
  double — deterministic under any row order / partitioning;
- percentages / ratios are ``round(x, 4)`` on both sides;
- timestamps are microsecond-truncated on read (io.read_table) which
  matches DuckDB's TIMESTAMP(NANOS) -> TIMESTAMP truncation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import conformance as C
from ..io import read_table
from ..relational import tiny_frame
from .registry import dec, register


# ---------------------------------------------------------------------------
# Flagship: conformance composite (SURVEY §7.1; reference event_verify.py:33-231)
# ---------------------------------------------------------------------------

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
SPEC_PROPS = ("k", "session_id")


def _event_spec(spark: SparkSession) -> DataFrame:
    rows = [(t, p) for t in EVENT_TYPES for p in SPEC_PROPS]
    return tiny_frame(spark, rows, "event_name string, prop_name string")


_CONFORMANCE_ORACLE = """
WITH spec(event_name, prop_name) AS (
    SELECT t.event_name, p.prop_name
    FROM (VALUES ('click'),('error'),('purchase'),('signup'),('view')) t(event_name)
    CROSS JOIN (VALUES ('k'),('session_id')) p(prop_name)
), joined AS (
    SELECT s.event_name, s.prop_name,
           list_contains(json_keys(e.props), s.prop_name) AS key_present,
           nullif(json_extract_string(e.props, '$.' || s.prop_name), '') AS v
    FROM events e JOIN spec s ON e.event_type = s.event_name
), agg AS (
    SELECT event_name, prop_name,
           count(*) AS total_records,
           count(CASE WHEN key_present THEN 1 END) AS keys_not_null_count,
           count(v) AS value_not_null_count
    FROM joined GROUP BY 1, 2
)
SELECT s.event_name, s.prop_name,
       coalesce(a.total_records, 0) AS total_records,
       coalesce(a.keys_not_null_count, 0) AS keys_not_null_count,
       coalesce(a.total_records, 0) - coalesce(a.keys_not_null_count, 0)
           AS key_null_count,
       CASE WHEN coalesce(a.total_records, 0) > 0
            THEN round((a.total_records - a.keys_not_null_count) * 100.0
                       / a.total_records, 4)
            ELSE 0.0 END AS key_null_count_percentage,
       coalesce(a.value_not_null_count, 0) AS value_not_null_count,
       coalesce(a.total_records, 0) - coalesce(a.value_not_null_count, 0)
           AS value_null_count,
       CASE WHEN coalesce(a.total_records, 0) > 0
            THEN round((a.total_records - a.value_not_null_count) * 100.0
                       / a.total_records, 4)
            ELSE 0.0 END AS value_null_count_percentage
FROM spec s LEFT JOIN agg a USING (event_name, prop_name)
"""


@register("conformance_flagship", _CONFORMANCE_ORACLE)
def conformance_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spec-vs-observed conformance metrics, one lazy plan (flagship).

    spread + pushdown_fence on the source: the conformance join/filter
    predicates are JSON-derived, and pushed to the single-file scan
    they parse JSON on one task (measured 1.2s -> 0.85s at sf0.1)."""
    from ..relational import pushdown_fence, spread

    catalog = pushdown_fence(
        spread(read_table(spark, sf_dir, "events"))
    ).withColumnRenamed("event_type", "event_name")
    return C.verify_events(catalog, _event_spec(spark), payload_cols=["props"])


# ---------------------------------------------------------------------------
# Three-payload conformance: the reference's exact payload shape
# (context / traits / properties, event_verify.py:51-61). The events
# table carries one JSON column, so context and traits are derived
# in-plan by identical string construction on both engines; the point
# is to drive verify_events' payload_cols loop (conformance.py:106-126)
# three-wide: key presence is an OR across three parsed maps, value
# completeness a coalesce across them in payload order.
# ---------------------------------------------------------------------------

_THREE_PAYLOAD_PROPS = ("k", "session_id", "trace_id")

_THREE_PAYLOAD_ORACLE = """
WITH spec(event_name, prop_name) AS (
    SELECT t.event_name, p.prop_name
    FROM (VALUES ('click'),('error'),('purchase'),('signup'),('view')) t(event_name)
    CROSS JOIN (VALUES ('k'),('session_id'),('trace_id')) p(prop_name)
), catalog AS (
    SELECT event_type AS event_name,
           CASE WHEN event_id % 3 = 0 THEN '{"app":"x"}'
                ELSE '{"session_id":"s' || CAST(user_id AS VARCHAR) || '"}'
           END AS context,
           CASE WHEN event_id % 5 = 0 THEN '{"k":""}'
                WHEN event_id % 5 = 1
                     THEN '{"trace_id":"t' || CAST(event_id % 7 AS VARCHAR) || '"}'
                ELSE '{}'
           END AS traits,
           props AS properties
    FROM events
), joined AS (
    SELECT s.event_name, s.prop_name,
           list_contains(json_keys(c.context), s.prop_name)
             OR list_contains(json_keys(c.traits), s.prop_name)
             OR list_contains(json_keys(c.properties), s.prop_name) AS key_present,
           coalesce(
               nullif(json_extract_string(c.context, '$.' || s.prop_name), ''),
               nullif(json_extract_string(c.traits, '$.' || s.prop_name), ''),
               nullif(json_extract_string(c.properties, '$.' || s.prop_name), ''))
             AS v
    FROM catalog c JOIN spec s ON c.event_name = s.event_name
), agg AS (
    SELECT event_name, prop_name,
           count(*) AS total_records,
           count(CASE WHEN key_present THEN 1 END) AS keys_not_null_count,
           count(v) AS value_not_null_count
    FROM joined GROUP BY 1, 2
)
SELECT s.event_name, s.prop_name,
       coalesce(a.total_records, 0) AS total_records,
       coalesce(a.keys_not_null_count, 0) AS keys_not_null_count,
       coalesce(a.total_records, 0) - coalesce(a.keys_not_null_count, 0)
           AS key_null_count,
       CASE WHEN coalesce(a.total_records, 0) > 0
            THEN round((a.total_records - a.keys_not_null_count) * 100.0
                       / a.total_records, 4)
            ELSE 0.0 END AS key_null_count_percentage,
       coalesce(a.value_not_null_count, 0) AS value_not_null_count,
       coalesce(a.total_records, 0) - coalesce(a.value_not_null_count, 0)
           AS value_null_count,
       CASE WHEN coalesce(a.total_records, 0) > 0
            THEN round((a.total_records - a.value_not_null_count) * 100.0
                       / a.total_records, 4)
            ELSE 0.0 END AS value_null_count_percentage
FROM spec s LEFT JOIN agg a USING (event_name, prop_name)
"""


@register("conformance_three_payload", _THREE_PAYLOAD_ORACLE)
def conformance_three_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """verify_events over (context, traits, properties) — the reference's
    three-payload shape. Each payload column is parsed once to a map;
    the derived payloads are built so every branch matters: context
    carries session_id on 2/3 of rows, traits carries an empty-string k
    (key present, value absent -> nullif drops it and the coalesce falls
    through to properties) or a trace_id, properties is the real props
    column. Spec pairs never observed (trace_id on 4/5 of events) keep
    their zero rows."""
    from ..relational import pushdown_fence, spread

    ev = pushdown_fence(spread(read_table(spark, sf_dir, "events")))
    catalog = ev.select(
        F.col("event_type").alias("event_name"),
        F.when(F.col("event_id") % 3 == 0, F.lit('{"app":"x"}'))
        .otherwise(
            F.concat(
                F.lit('{"session_id":"s'),
                F.col("user_id").cast("string"),
                F.lit('"}'),
            )
        )
        .alias("context"),
        F.when(F.col("event_id") % 5 == 0, F.lit('{"k":""}'))
        .when(
            F.col("event_id") % 5 == 1,
            F.concat(
                F.lit('{"trace_id":"t'),
                (F.col("event_id") % 7).cast("string"),
                F.lit('"}'),
            ),
        )
        .otherwise(F.lit("{}"))
        .alias("traits"),
        F.col("props").alias("properties"),
    )
    rows = [(t, p) for t in EVENT_TYPES for p in _THREE_PAYLOAD_PROPS]
    spec = tiny_frame(spark, rows, "event_name string, prop_name string")
    return C.verify_events(
        catalog, spec, payload_cols=["context", "traits", "properties"]
    )


# ---------------------------------------------------------------------------
# TPC-H Q1 shape: multi-agg group-by with derived expressions (A1-A5, F17)
# ---------------------------------------------------------------------------


@register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS sum_disc_price,
           round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                 / count(*), 4) AS avg_qty,
           round(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
                 / count(*), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape (A1/A2/P11/F17): grouped decimal-exact sums and
    round(4) averages over lineitem — the cast/arithmetic/aggregation
    conformance anchor. One map-side-combinable aggregate."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
        F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
        .cast("double")
        .alias("sum_disc_price"),
        F.round(
            F.sum(dec("l_quantity")).cast("double") / F.count(F.lit(1)), 4
        ).alias("avg_qty"),
        F.round(
            F.sum(dec("l_discount")).cast("double") / F.count(F.lit(1)), 4
        ).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


# ---------------------------------------------------------------------------
# W1/O3: deterministic top-1-per-group (reference event_verify.py:36-41)
# ---------------------------------------------------------------------------


@register(
    "latest_event_per_user",
    """
    SELECT user_id, event_id, ts, event_type, value FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/O3: deterministic latest-event-per-user via row_number with
    a unique (ts, event_id) tiebreak — the reference's latest-version
    selection (event_verify.py:36-41) without the driver pull and
    without the rank() tie nondeterminism."""
    from ..relational import top_k_per_group

    ev = read_table(spark, sf_dir, "events")
    latest = top_k_per_group(
        ev, ["user_id"], [F.desc("ts"), F.desc("event_id")], k=1
    )
    return latest.select("user_id", "event_id", "ts", "event_type", "value")
