"""The COMPLETE reference pipeline as one oracle-checked query:
wide spec -> latest-version-per-channel selection -> melt -> catalog
restricted to matching channel+version -> conformance metrics.

This is event_verify.py:33-231 end-to-end (SURVEY §3) — minus the
driver loops — with the DuckDB oracle reproducing every stage,
including the version selection window and the wide-spec melt.

The events table has no channel/version columns, so both engines
derive them identically in-plan: channel from ``user_id % 2``, an
``$.app.version`` context payload built by string construction (both
sides build byte-identical JSON). Contrived data, real operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import conformance as C
from ..io import read_table
from ..relational import tiny_frame
from .registry import register

# wide spec: per (channel, version): expected props as CELL VALUES in
# arbitrary prop columns (the reference's dynamic wide shape, §1.3).
# web has versions 1.0 & 2.0 (2.0 wins), ios has 5.0 & 5.5 (5.5 wins).
_SPEC_WIDE = [
    ("web", "1.0", "click", "k", "legacy_prop"),
    ("web", "2.0", "click", "k", None),
    ("web", "2.0", "purchase", "k", "session_id"),
    ("ios", "5.0", "signup", "old_only", None),
    ("ios", "5.5", "signup", "k", None),
    ("ios", "5.5", "error", "k", "trace_id"),
]
_SPEC_SCHEMA = "channel string, version string, event_name string, p1 string, p2 string"

_ORACLE = """
WITH spec_wide(channel, version, event_name, p1, p2) AS (
    VALUES ('web','1.0','click','k','legacy_prop'),
           ('web','2.0','click','k',NULL),
           ('web','2.0','purchase','k','session_id'),
           ('ios','5.0','signup','old_only',NULL),
           ('ios','5.5','signup','k',NULL),
           ('ios','5.5','error','k','trace_id')
), latest AS (
    SELECT * FROM (
        SELECT *, max(version) OVER (PARTITION BY channel) AS __mx
        FROM spec_wide
    ) WHERE version = __mx
), spec_long AS (
    SELECT DISTINCT channel, version, event_name, prop_name FROM (
        SELECT channel, version, event_name, p1 AS prop_name FROM latest
        UNION ALL
        SELECT channel, version, event_name, p2 FROM latest
    ) WHERE prop_name IS NOT NULL AND prop_name != ''
), catalog AS (
    SELECT CASE WHEN user_id % 2 = 0 THEN 'web' ELSE 'ios' END AS channel,
           CASE WHEN user_id % 2 = 0 THEN '2.0' ELSE '5.5' END || ''
               AS version,
           event_type AS event_name,
           '{"app":{"version":"'
             || CASE WHEN event_id % 4 = 0
                     THEN (CASE WHEN user_id % 2 = 0 THEN '1.0' ELSE '5.0' END)
                     ELSE (CASE WHEN user_id % 2 = 0 THEN '2.0' ELSE '5.5' END)
                END
             || '"}}' AS context,
           props AS properties
    FROM events
), matched AS (
    SELECT c.channel, c.version, c.event_name, s.prop_name,
           list_contains(json_keys(c.context), s.prop_name)
             OR list_contains(json_keys(c.properties), s.prop_name) AS key_present,
           coalesce(nullif(json_extract_string(c.context, '$.' || s.prop_name), ''),
                    nullif(json_extract_string(c.properties, '$.' || s.prop_name), ''))
             AS v
    FROM catalog c
    JOIN spec_long s
      ON c.channel = s.channel AND c.event_name = s.event_name
     AND json_extract_string(c.context, '$.app.version') = s.version
), agg AS (
    SELECT channel, version, event_name, prop_name,
           count(*) AS total_records,
           count(CASE WHEN key_present THEN 1 END) AS keys_not_null_count,
           count(v) AS value_not_null_count
    FROM matched GROUP BY 1, 2, 3, 4
)
SELECT s.channel, s.version, s.event_name, s.prop_name,
       coalesce(a.total_records, 0) AS total_records,
       coalesce(a.keys_not_null_count, 0) AS keys_not_null_count,
       coalesce(a.total_records, 0) - coalesce(a.keys_not_null_count, 0)
           AS key_null_count,
       CASE WHEN coalesce(a.total_records, 0) > 0
            THEN round((a.total_records - a.keys_not_null_count) * 100.0
                       / a.total_records, 4) ELSE 0.0 END
           AS key_null_count_percentage,
       coalesce(a.value_not_null_count, 0) AS value_not_null_count,
       coalesce(a.total_records, 0) - coalesce(a.value_not_null_count, 0)
           AS value_null_count,
       CASE WHEN coalesce(a.total_records, 0) > 0
            THEN round((a.total_records - a.value_not_null_count) * 100.0
                       / a.total_records, 4) ELSE 0.0 END
           AS value_null_count_percentage
FROM spec_long s LEFT JOIN agg a
  USING (channel, version, event_name, prop_name)
"""


@register("conformance_pipeline_versioned", _ORACLE)
def conformance_pipeline_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline: latest_per_group on the wide spec (keeps ties —
    reference rank()==1 semantics), melt_spec, catalog version-matched
    via ``$.app.version`` extraction, verify_events with
    (channel, version) as group columns. One lazy plan; stale-version
    rows (25% of events by construction) are excluded exactly as the
    reference's filter at event_verify.py:43."""
    from ..relational import pushdown_fence, spread

    # JSON-derived join keys/filters otherwise push to the single-file
    # scan and parse on one task (see relational.pushdown_fence)
    ev = pushdown_fence(spread(read_table(spark, sf_dir, "events")))
    active = F.when(F.col("user_id") % 2 == 0, "2.0").otherwise("5.5")
    stale = F.when(F.col("user_id") % 2 == 0, "1.0").otherwise("5.0")
    catalog = ev.select(
        F.when(F.col("user_id") % 2 == 0, "web").otherwise("ios").alias("client_name"),
        F.col("event_type").alias("event_name"),
        F.concat(
            F.lit('{"app":{"version":"'),
            F.when(F.col("event_id") % 4 == 0, stale).otherwise(active),
            F.lit('"}}'),
        ).alias("context"),
        F.col("props").alias("properties"),
    )
    spec_wide = tiny_frame(spark, _SPEC_WIDE, _SPEC_SCHEMA)
    out = C.verify_pipeline(
        catalog,
        spec_wide,
        payload_cols=("context", "properties"),
    )
    return out.select(
        "channel", "version", "event_name", "prop_name",
        "total_records", "keys_not_null_count", "key_null_count",
        "key_null_count_percentage", "value_not_null_count",
        "value_null_count", "value_null_count_percentage",
    )
