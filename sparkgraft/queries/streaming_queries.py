"""Streaming queries in the correctness gate: each runs a REAL
Structured Streaming query (file source -> watermark -> windowed
aggregation -> memory sink, driven to completion) and returns the
result as a batch DataFrame — so the driver's DuckDB oracle
hash-compares the output of the streaming ENGINE against batch SQL.
That is the batch/stream parity guarantee, checked cross-engine.

Window note: Spark's tumbling ``window()`` aligns to the epoch; DuckDB's
``time_bucket`` aligns to 2000-01-01, which is itself epoch-aligned for
divisor-of-24h widths, so 6-hour buckets coincide exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import streaming as ST
from .registry import register


@register(
    "stream_windowed_conformance",
    """
    WITH spec(event_name, prop_name) AS (
        SELECT t.event_name, p.prop_name
        FROM (VALUES ('click'),('error'),('purchase'),('signup'),('view')) t(event_name)
        CROSS JOIN (VALUES ('k'),('session_id')) p(prop_name)
    )
    SELECT time_bucket(INTERVAL '12 hours', e.ts) AS window_start,
           s.event_name, s.prop_name,
           count(*) AS total_records,
           count(CASE WHEN list_contains(json_keys(e.props), s.prop_name)
                 THEN 1 END) AS keys_not_null_count,
           count(nullif(json_extract_string(e.props, '$.' || s.prop_name), ''))
               AS value_not_null_count
    FROM events e JOIN spec s ON e.event_type = s.event_name
    GROUP BY 1, 2, 3
    """,
)
def stream_windowed_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship conformance metrics AS A STREAM (12-hour tumbling
    windows, broadcast spec join inside the microbatch engine) — the
    reference's daily batch job recast as a continuous query whose
    output the oracle verifies against batch SQL. ``split_files=4``
    drives >= 4 micro-batches so the verified state is genuinely
    merged across triggers."""
    from .core import _event_spec

    stream = ST.stream_table(
        spark, sf_dir, "events", split_files=4
    ).withColumnRenamed("event_type", "event_name")
    return ST.run_stream_to_memory(
        ST.windowed_conformance(stream, _event_spec(spark), window="12 hours"),
        "q_stream_windowed_conformance",
    )
