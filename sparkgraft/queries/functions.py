"""Scalar-function breadth (SURVEY §2.8): string, date/time, conditional,
array / higher-order functions, and the melt/unpivot operator.

The reference carries dates as string literals and uses no HOFs
(SURVEY §2.8 footnote); the engine exposes the full surface since a
training-data pipeline lives on these.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import read_table
from .registry import dec, register


@register(
    "date_ops_orders",
    """
    SELECT o_orderkey,
           year(o_orderdate) AS order_year,
           month(o_orderdate) AS order_month,
           day(o_orderdate) AS order_day,
           quarter(o_orderdate) AS order_quarter,
           isodow(o_orderdate) - 1 AS order_weekday,
           date_trunc('month', o_orderdate) AS month_start,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01')
               AS days_to_2002
    FROM orders
    """,
    retired=True,
)
def date_ops_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar functions. Weekday is normalized to Monday=0 on both
    sides (Spark ``weekday`` vs DuckDB ``isodow - 1``) — engines
    disagree on bare dayofweek numbering."""
    orders = read_table(spark, sf_dir, "orders")
    # calendar parts cast to bigint (DuckDB returns BIGINT, Spark INT);
    # dates rendered as strings — Spark DATE collects as datetime.date,
    # DuckDB DATE as datetime64, which would never hash-match
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").cast("bigint").alias("order_year"),
        F.month("o_orderdate").cast("bigint").alias("order_month"),
        F.dayofmonth("o_orderdate").cast("bigint").alias("order_day"),
        F.quarter("o_orderdate").cast("bigint").alias("order_quarter"),
        F.weekday("o_orderdate").cast("bigint").alias("order_weekday"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.datediff(
            F.lit("2002-01-01").cast("date"), F.col("o_orderdate").cast("date")
        )
        .cast("bigint")
        .alias("days_to_2002"),
    )


@register(
    "orders_per_month",
    """
    SELECT date_trunc('month', o_orderdate) AS order_month,
           o_orderstatus,
           count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY 1, 2
    """,
    retired=True,
)
def orders_per_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed rollup — the partition-pruning-friendly shape for a
    day/month-partitioned 100 TB table."""
    orders = read_table(spark, sf_dir, "orders")
    return orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("order_month"),
        "o_orderstatus",
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(dec("o_totalprice")).cast("double").alias("revenue"),
    )
