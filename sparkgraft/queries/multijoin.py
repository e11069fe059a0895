"""Multi-table join pipelines (TPC-H Q3/Q5/Q10 shapes).

The reference's joins are two-table, single-hop (event_verify.py:101,
:120-129, :215). These queries exercise the join-planning surface that
actually decides 100 TB performance: 3-6 table chains where Catalyst +
AQE must pick broadcast vs shuffle per hop, reorder around selective
dimension filters, and keep the fact table streaming map-side through
every broadcast hop.

Scale design, common to all three:
- dimension filters (`c_mktsegment`, `r_name`) are applied BEFORE the
  join so the broadcast side is minimal and the filter reaches the
  parquet scan as a pushed predicate;
- date-range predicates on the fact tables prune row groups (and, on a
  date-partitioned production table, whole partitions);
- revenue math runs in exact DECIMAL then casts to double once, so the
  result is identical under any partitioning / aggregation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import read_table
from .registry import dec, register

# revenue term: l_extendedprice * (1 - l_discount), decimal-exact.
# Spark DECIMAL(18,2) * DECIMAL(18,2) and DuckDB both produce an exact
# product; the sum stays exact and only the final cast is lossy.
_REV_SQL = "SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))))"


@register(
    "open_lineitems_per_day",
    # RETIRED r8 (three-round-stable; slot funds the r8 promotions —
    # rotation policy; oracle intact, verified every pytest run)
    retired=True,
    oracle="""
    WITH days AS (
        SELECT DISTINCT CAST(o_orderdate AS DATE) AS day FROM orders
        WHERE o_orderdate >= TIMESTAMP '1998-01-01'
          AND o_orderdate < TIMESTAMP '1998-02-01'
    ),
    iv AS (
        SELECT CAST(o.o_orderdate AS DATE) AS s, CAST(l.l_shipdate AS DATE) AS e
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT strftime(d.day, '%Y-%m-%d') AS day, count(*) AS n_open
    FROM days d JOIN iv ON d.day >= iv.s AND d.day < iv.e
    GROUP BY 1
    """,
)
def open_lineitems_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join via ``relational.range_join``: for every distinct
    order date, how many lineitems were OPEN (ordered, not yet
    shipped) — points = the distinct order days of one reporting
    month (the dashboard shape: a bounded point set against the full
    interval table), intervals = each lineitem's [order day, ship day).
    This corpus's synthetic ship dates are uniform over the whole date
    range (~850-day average span, not TPC-H lead times), so an
    all-days variant is inherently ~|days| x ~10k open rows of output;
    the month restriction bounds output while every interval still
    flows through the bucket join. The oracle states the naive
    non-equi join, which Spark would plan as a nested loop; the
    executed plan is range_join's bucket decomposition — an equi-join
    on 64-day time buckets (~1-3 replicas per interval at TPC-H lead
    times) plus the exact predicate, nothing quadratic (asserted in
    tests/test_plan_shape.py)."""
    from ..relational import range_join

    epoch = "1970-01-01"
    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")
    points = (
        orders.where(
            (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1998-02-01").cast("timestamp_ntz"))
        )
        .select(F.to_date("o_orderdate").alias("day"))
        .distinct()
        .withColumn("__t", F.datediff(F.col("day"), F.lit(epoch)))
    )
    iv = (
        lineitem.select("l_orderkey", "l_shipdate")
        .join(orders.select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.datediff(F.to_date("o_orderdate"), F.lit(epoch)).alias("__s"),
            F.datediff(F.to_date("l_shipdate"), F.lit(epoch)).alias("__e"),
        )
    )
    return (
        range_join(points, iv, "__t", "__s", "__e", bucket_width=64)
        .groupBy(F.date_format("day", "yyyy-MM-dd").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_open"))
    )


# --- Retired-tier breadth: more TPC-H join/agg shapes. These never
# consume driver slots; tests/test_retired_oracles.py verifies each
# against its DuckDB oracle on every pytest run.


@register(
    "large_order_customers",
    # PROMOTED to the active driver gate r11 (rotation policy, VERDICT
    # r10 #5: a never-slotted breadth query takes a driver slot; funded
    # by retiring the two-round-stable token_fertility_by_source) —
    # TPC-H Q18 is the canonical agg-HAVING-over-3-table-chain shape
    # and had never ridden the driver gate.
    """
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY 1, 2, 3, 4
    HAVING sum(CAST(l.l_quantity AS DECIMAL(18,2))) > 140
    """,
)
def large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate-HAVING over a 3-table chain — which
    customers placed orders totaling > 140 units. The quantity sum runs
    in exact decimal (order-independent), and the HAVING filter sits on
    the aggregate so AQE sees the real post-agg cardinality."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .groupBy(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .agg(F.sum(dec("l_quantity")).alias("__qty"))
        .where(F.col("__qty") > 140)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "orderdate",
            F.col("__qty").cast("double").alias("total_qty"),
        )
    )


@register(
    "orders_segment_scd2",
    # PROMOTED to a driver slot r6 (rotation policy): the SCD2
    # temporal dimension join.
    # The dimension history is synthesized deterministically from
    # customer: version 1 carries c_mktsegment over
    # [1992-01-01, 1995-07-01), version 2 carries c_mktsegment || '_v2'
    # open-ended from 1995-07-01 — orders span both regimes, so the
    # as-of boundary, the version flip, and the open interval are all
    # exercised (plus NULL-out correctness for any pre-1992 fact).
    oracle="""
    WITH dim AS (
        SELECT c_custkey AS custkey, c_mktsegment AS segment,
               TIMESTAMP '1992-01-01' AS valid_from,
               TIMESTAMP '1995-07-01' AS valid_to
        FROM customer
        UNION ALL
        SELECT c_custkey, c_mktsegment || '_v2',
               TIMESTAMP '1995-07-01', NULL
        FROM customer
    )
    SELECT o.o_orderkey AS orderkey, o.o_custkey AS custkey,
           o.o_orderdate AS orderdate, d.segment
    FROM orders o LEFT JOIN dim d
      ON o.o_custkey = d.custkey
     AND d.valid_from <= o.o_orderdate
     AND (d.valid_to IS NULL OR o.o_orderdate < d.valid_to)
    """,
)
def orders_segment_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """relational.scd2_join: each order carries the market segment its
    customer was in WHEN THE ORDER WAS PLACED, against a two-version
    SCD2 history. The plan is the union-merge as-of (one custkey
    shuffle + sort), never the oracle's interval-predicate join — at
    100 TB the predicate join is a per-key partial cross product,
    while the merge is O(n log n) regardless of how many versions a
    hot customer accumulates."""
    from ..relational import scd2_join

    cust = read_table(spark, sf_dir, "customer")
    v1 = cust.select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("segment"),
        F.lit("1992-01-01").cast("timestamp_ntz").alias("valid_from"),
        F.lit("1995-07-01").cast("timestamp_ntz").alias("valid_to"),
    )
    v2 = cust.select(
        F.col("c_custkey").alias("custkey"),
        F.concat(F.col("c_mktsegment"), F.lit("_v2")).alias("segment"),
        F.lit("1995-07-01").cast("timestamp_ntz").alias("valid_from"),
        F.lit(None).cast("timestamp_ntz").alias("valid_to"),
    )
    dim = v1.unionByName(v2)
    orders = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("orderdate"),
    )
    return scd2_join(
        orders, dim, on="custkey", fact_time="orderdate"
    ).select("orderkey", "custkey", "orderdate", "segment")
