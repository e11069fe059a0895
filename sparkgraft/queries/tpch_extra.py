"""Advanced TPC-H shapes: correlated subqueries, in-plan scalar gates,
disjunctive pushdown, and same-table EXISTS/NOT-EXISTS (Q8, Q13, Q15,
Q17, Q19, Q21, Q22 — adapted to the trimmed test schema, which has no
partsupp table and no comment/phone/container columns).

The reference (event_verify.py:1-235) never issues a subquery; these
queries exist because a user migrating a real relational workload to
this engine will. Each one demonstrates the Spark-first decorrelation
of a classic correlated-SQL pattern:

- Q15/Q22: scalar subquery thresholds become a 1-row aggregate
  broadcast back into the plan (the A5 in-plan-denominator discipline —
  never a driver-side ``collect`` of the scalar);
- Q17: a per-group correlated AVG becomes a groupBy + equi-join on the
  group key (one extra shuffle of (key, avg) pairs, ~16 bytes/row, vs
  the naive re-scan-per-row a correlated plan implies);
- Q21: EXISTS / NOT EXISTS against the same fact table become ONE
  per-order aggregation producing both existence facts as counts,
  joined back once — a single shuffle of the fact table instead of two
  self-joins;
- Q19: a disjunction of conjunctive range predicates stays a single
  post-join filter; the OR-of-ANDs still prunes the part scan because
  each disjunct's p_brand IN-list unions into a pushable superset.

All double sums run in exact DECIMAL then cast once (partitioning-
stable); every computed column is aliased identically on both sides.
DuckDB oracles deliberately keep the CORRELATED form (EXISTS, scalar
subqueries) so the comparison proves the decorrelation is semantics-
preserving, not just that two identical plans agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import read_table
from .registry import dec, register

_REV_SQL = "SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))))"


def _rev() -> F.Column:
    return F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))


def _ts(s: str) -> F.Column:
    return F.lit(s).cast("timestamp_ntz")


@register(
    "nation_market_share",
    # TPC-H Q8 shape (retired tier: relational breadth; the active
    # multi-join evidence is large_order_customers, the Q18 shape).
    retired=True,
    oracle="""
    SELECT o_year,
           round(CAST(SUM(CASE WHEN supp_nation = 'NATION_5'
                               THEN volume ELSE CAST(0 AS DECIMAL(38,4)) END)
                      AS DOUBLE)
                 / CAST(SUM(volume) AS DOUBLE), 4) AS mkt_share
    FROM (
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
               CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume,
               n2.n_name AS supp_nation
        FROM part, lineitem, orders, customer, supplier,
             nation n1, nation n2, region
        WHERE p_partkey = l_partkey
          AND l_orderkey = o_orderkey
          AND o_custkey = c_custkey
          AND l_suppkey = s_suppkey
          AND c_nationkey = n1.n_nationkey
          AND n1.n_regionkey = r_regionkey
          AND r_name = 'EUROPE'
          AND s_nationkey = n2.n_nationkey
          AND p_type = 'ECONOMY'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
    ) all_nations
    GROUP BY o_year
    """,
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: NATION_5's share of EUROPE-customer ECONOMY-part
    revenue, per order year — an 8-table chain where every dimension
    hop broadcasts and the conditional share is ONE pass (the CASE
    splits the numerator inside the same aggregate; never two scans).

    Join order at scale: part is filtered to one p_type before joining
    (the most selective gate, 1/6 of parts — it prunes lineitem first),
    orders ⋈ lineitem is the one big shuffle (orderkey co-location /
    bucketing makes it shuffle-free on a production layout), and both
    nation lookups ride tiny broadcasts. The share divides two decimal
    sums of the SAME rows, so it is exact under any partitioning.
    """
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1998-01-01"))
    )
    part = read_table(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    customer = read_table(spark, sf_dir, "customer")
    supplier = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")

    eu_custs = customer.join(
        F.broadcast(
            nation.join(
                F.broadcast(region.where(F.col("r_name") == "EUROPE")),
                F.col("n_regionkey") == F.col("r_regionkey"),
            ).select("n_nationkey")
        ),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select("c_custkey")
    supp_nation = supplier.join(
        F.broadcast(nation.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "supp_nation")

    volume = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    zero = F.lit(0).cast("decimal(38,4)")
    return (
        li.join(F.broadcast(part.select("p_partkey")), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders.select("o_orderkey", "o_custkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(eu_custs), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp_nation), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            volume.alias("volume"),
            "supp_nation",
        )
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_5", F.col("volume").cast("decimal(38,4)"))
                    .otherwise(zero)
                ).cast("double")
                / F.sum(F.col("volume").cast("decimal(38,4)")).cast("double"),
                4,
            ).alias("mkt_share")
        )
    )


@register(
    "customer_order_distribution",
    # TPC-H Q13 shape (retired tier).
    retired=True,
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT OUTER JOIN orders
          ON c_custkey = o_custkey
         AND o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: the distribution of per-customer order counts — a
    double aggregation where the LEFT join's extra predicate lives in
    the JOIN CONDITION, not a WHERE (a WHERE would silently turn the
    outer join inner and drop zero-order customers; the A3 null-
    accounting lesson). ``count(o_orderkey)`` counts matches only, so
    unmatched customers land in the c_count=0 bucket.

    Scale: the first groupBy shuffles on c_custkey — the same key the
    join just shuffled on, so Catalyst reuses the partitioning (no
    second exchange); the outer groupBy reduces to at most a few
    hundred distinct counts, a near-free combine.
    """
    customer = read_table(spark, sf_dir, "customer").select("c_custkey")
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    return (
        customer.join(
            orders,
            (F.col("c_custkey") == F.col("o_custkey"))
            & ~F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@register(
    "top_revenue_supplier",
    # TPC-H Q15 shape (retired tier).
    retired=True,
    oracle=f"""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               CAST({_REV_SQL} AS DOUBLE) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: the supplier(s) with the quarter's maximum revenue.
    The oracle keeps the scalar subquery; here the max is an empty
    window over the 100-row revenue aggregate — one extra single-
    partition pass over ALREADY-AGGREGATED rows (|suppliers| rows, not
    |lineitem|), then the supplier dim broadcasts onto the winners.
    Ties are all kept, exactly like the SQL equality gate, so the
    result is deterministic without an arbitrary tiebreak.

    The exact-DECIMAL revenue matters doubly here: the equality gate
    compares the max against every group, and a double-summed revenue
    could make the true winner miss its own maximum under a different
    partitioning.
    """
    li = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ts("1996-01-01")) & (F.col("l_shipdate") < _ts("1996-04-01"))
    )
    supplier = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        _rev().cast("double").alias("total_revenue")
    )
    best = revenue.withColumn(
        "__max_rev", F.max("total_revenue").over(Window.partitionBy())
    ).where(F.col("total_revenue") == F.col("__max_rev"))
    return best.join(
        F.broadcast(supplier), F.col("supplier_no") == F.col("s_suppkey")
    ).select("s_suppkey", "s_name", "total_revenue")


@register(
    "small_qty_avg_revenue",
    # TPC-H Q17 shape (retired tier).
    retired=True,
    oracle="""
    SELECT round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 / 7.0, 4) AS avg_yearly,
           count(*) AS n_small_lines
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND p_brand = 'Brand#23'
      AND p_size < 10
      AND l_quantity < (
          SELECT 0.2 * avg(l_quantity)
          FROM lineitem l2
          WHERE l2.l_partkey = part.p_partkey
      )
    """,
)
def small_qty_avg_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue lost if tiny orders (below 20% of the part's
    average quantity) went unserved. The oracle keeps the correlated
    per-part AVG subquery; the Spark plan decorrelates it into ONE
    groupBy over lineitem producing (l_partkey, 0.2*avg) — computed
    over ALL parts' lineitems exactly as the correlated form demands
    (the subquery is not brand-filtered) — joined back on partkey.

    Scale note: the per-part threshold table is |parts| rows of 16
    bytes; at 100 TB it broadcast-joins. The naive correlated execution
    re-scans lineitem once per probe row — the decorrelation replaces
    O(rows × rows) with two scans and one shuffle.
    """
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").where(
        (F.col("p_brand") == "Brand#23") & (F.col("p_size") < 10)
    )
    thresholds = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_cap")
    )
    return (
        li.join(F.broadcast(part.select("p_partkey")), F.col("l_partkey") == F.col("p_partkey"))
        .join(thresholds, F.col("l_partkey") == F.col("t_partkey"))
        .where(F.col("l_quantity") < F.col("qty_cap"))
        .agg(
            F.round(F.sum(dec("l_extendedprice")).cast("double") / F.lit(7.0), 4).alias(
                "avg_yearly"
            ),
            F.count(F.lit(1)).alias("n_small_lines"),
        )
    )


@register(
    "disjunctive_filter_revenue",
    # TPC-H Q19 shape (retired tier).
    retired=True,
    oracle=f"""
    SELECT CAST({_REV_SQL} AS DOUBLE) AS revenue, count(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def disjunctive_filter_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: revenue under an OR of three conjunctive brand/size/
    quantity bands — the disjunctive-pushdown stress test. The mixed
    predicate (part columns AND lineitem columns inside each disjunct)
    cannot fully push below the join, but its single-table residues
    can: Catalyst derives ``p_brand IN (12,23,3) AND p_size BETWEEN 1
    AND 15`` onto the part scan and ``l_quantity BETWEEN 1 AND 30``
    onto lineitem from the OR's per-branch bounds, so both scans prune
    before the join and the full disjunction evaluates once post-join.
    """
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    band = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .where(band)
        .agg(
            _rev().cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "suppliers_sole_returned",
    # TPC-H Q21 shape — PROMOTED to an active driver slot on
    # registration day (rotation policy: the decorrelated-quantifier
    # family is a new evidence class; funded by retiring
    # doc_repetition_metrics, whose text family keeps five active
    # driver rows). The trimmed schema has no
    # commit/receipt dates, so "kept orders waiting" becomes "had the
    # order's ONLY returned line": same EXISTS / NOT-EXISTS structure
    # against the same fact table, different flag column.
    oracle="""
    SELECT s_name, count(*) AS numwait
    FROM supplier, lineitem l1, orders, nation
    WHERE s_suppkey = l1.l_suppkey
      AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_returnflag = 'R'
      )
      AND s_nationkey = n_nationkey
      AND n_name = 'NATION_3'
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def suppliers_sole_returned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21: suppliers who were the SOLE returner on a multi-
    supplier finished order. The oracle keeps both correlated
    quantifiers; the Spark plan folds EXISTS and NOT EXISTS into ONE
    per-order aggregate — ``n_supp`` (distinct suppliers on the order)
    and ``n_ret_supp`` (distinct suppliers with a returned line) — so

    - EXISTS(other supplier)              ≡ n_supp > 1
    - NOT EXISTS(other supplier returned) ≡ n_ret_supp = 1
      (l1 itself is returned, so "no OTHER returner" means exactly one)

    One shuffle of (orderkey, suppkey, flag) triples replaces two
    correlated self-joins — at 100 TB that is the difference between
    one fact-table pass and three. The order-level aggregate is ~20
    bytes/order and joins back on the orderkey partitioning the
    aggregate just produced.
    """
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    orders = read_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    supplier = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_3")

    # r13 optimization round (guide §2.3): TWO-LEVEL aggregate instead
    # of a double countDistinct. Two distinct aggregates over one
    # groupBy plan an Expand that doubles every lineitem row BEFORE
    # the first exchange (measured 14.2 MB shuffled from a 7 MB
    # projection at sf0.1, plus the gid-staged second aggregate).
    # Level 1 dedups to (orderkey, suppkey) pairs map-side with a
    # plain hash aggregate; level 2 counts pairs per order — exactly
    # countDistinct semantics (max(flag='R') marks a supplier with >=1
    # returned line; countDistinct(when R) counts those suppliers),
    # with no row expansion anywhere.
    pair_facts = li.groupBy(
        F.col("l_orderkey").alias("f_orderkey"), F.col("l_suppkey")
    ).agg(F.max(F.col("l_returnflag") == "R").alias("__ret"))
    order_facts = pair_facts.groupBy("f_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum(F.col("__ret").cast("int")).alias("n_ret_supp"),
    )
    nation_supps = supplier.join(
        F.broadcast(nation.select("n_nationkey")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "s_name")
    return (
        li.where(F.col("l_returnflag") == "R")
        .join(order_facts, F.col("l_orderkey") == F.col("f_orderkey"))
        .where((F.col("n_supp") > 1) & (F.col("n_ret_supp") == 1))
        .join(orders.select("o_orderkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(nation_supps), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(20)
    )


@register(
    "rich_idle_customers",
    # TPC-H Q22 shape (retired tier; the phone-prefix country gate
    # becomes a nation grouping — same anti-join + scalar-threshold
    # structure).
    retired=True,
    oracle="""
    SELECT n_name,
           count(*) AS n_custs,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > (
          SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0
      )
      AND NOT EXISTS (
          SELECT 1 FROM orders WHERE o_custkey = c_custkey
      )
    GROUP BY n_name
    """,
)
def rich_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22: above-average-balance customers who never ordered,
    totalled per nation. Two correlated constructs, both decorrelated:
    the scalar AVG becomes a 1-row aggregate cross-broadcast into the
    filter (in-plan, A5 discipline — no driver collect), and NOT
    EXISTS(orders) is a LEFT ANTI join on custkey.

    Anti-join order matters at scale: the balance gate runs FIRST
    (cheap, prunes ~half the customers before the expensive key
    shuffle), and orders is projected to its join key only, so the
    anti join shuffles 8-byte keys rather than order rows.
    """
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders").select("o_custkey")
    nation = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    avg_bal = customer.where(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("__avg_bal")
    )
    return (
        customer.join(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("__avg_bal"))
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.sum(dec("c_acctbal")).cast("double").alias("total_acctbal"),
        )
    )


@register(
    "bloom_pruned_urgent_revenue",
    # NEW r6 retired tier: the bloom_prune_join operator behind a plain
    # join oracle — the Bloom stage is EXACT pruning (false positives
    # removed by the verifying join), so the oracle is simply the join
    # it accelerates. PROMOTED to the active driver tier r7 (rotation
    # policy).
    oracle=f"""
    SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS ship_month,
           CAST({_REV_SQL} AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
      AND o_totalprice > 150000
    GROUP BY ship_month
    """,
)
def bloom_pruned_urgent_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly shipped revenue restricted to urgent, high-value orders —
    executed through ``relational.bloom_prune_join``: the filtered
    orders build a 2^20-bit Bloom bitmap (128 KB broadcast, independent
    of key count), lineitem tests membership MAP-SIDE and drops
    non-matching rows before any shuffle, and the verifying equi-join
    removes the false positives. At 100 TB this is the big-big join
    pattern: the selective side's key set won't broadcast, but its
    bitmap always will, and the fact table shuffles only the matching
    fraction. The result provably equals the plain join (the oracle IS
    the plain join).
    """
    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_extendedprice",
        "l_discount",
        "l_shipdate",
    )
    orders = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 150000)
    )
    from ..relational import bloom_prune_join

    joined = bloom_prune_join(li, orders.select("o_orderkey"), "o_orderkey")
    return (
        joined.groupBy(
            F.date_format(F.date_trunc("month", "l_shipdate"), "yyyy-MM").alias(
                "ship_month"
            )
        )
        .agg(
            _rev().cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# r7: the four remaining classic correlated-subquery shapes (Q2, Q11,
# Q16, Q20) — all need the partsupp table, which the trimmed test
# schema lacks, so both engines DERIVE an identical synthetic partsupp
# from part x supplier with pure integer arithmetic (the
# part_golden_records derived-table precedent): 4 suppliers per part at
# deterministic md5-free key strides, integer-cents supply cost and
# integer availqty so every aggregate downstream is exact.
# ---------------------------------------------------------------------------

_PARTSUPP_SQL = """
    ns AS (SELECT count(*) AS n FROM supplier),
    partsupp AS (
        SELECT p_partkey AS ps_partkey,
               CAST((p_partkey * 7 + k.k * 13) % ns.n + 1 AS BIGINT)
                   AS ps_suppkey,
               CAST((p_partkey * 3
                     + ((p_partkey * 7 + k.k * 13) % ns.n + 1) * 5) % 1000 + 1
                    AS BIGINT) AS ps_availqty,
               CAST((p_partkey * 31
                     + ((p_partkey * 7 + k.k * 13) % ns.n + 1) * 17) % 10000
                    + 100 AS BIGINT) AS ps_cost_cents
        FROM part, ns, (VALUES (0), (1), (2), (3)) k(k)
    )
"""


def _synth_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived partsupp (see module comment): one row per (part, k)
    for k in 0..3, supplier chosen by a key stride mod |supplier|.
    Pure column arithmetic; |supplier| comes from parquet footer
    metadata (io.table_row_hint — zero Spark jobs, the auto_num_planes
    convention), so the modulus is a plan-time literal rather than a
    1-row broadcast join. No randomness; byte-identical to the
    oracle's count(*)-based CTE."""
    from ..io import table_row_hint

    n_supp = table_row_hint(sf_dir, "supplier")
    part = read_table(spark, sf_dir, "part").select("p_partkey")
    sk = (F.col("p_partkey") * 7 + F.col("__k") * 13) % F.lit(n_supp) + 1
    base = (
        part.select(
            "p_partkey",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("__k"),
        )
        .select(
            F.col("p_partkey").alias("ps_partkey"),
            sk.cast("long").alias("ps_suppkey"),
        )
    )
    return base.select(
        "ps_partkey",
        "ps_suppkey",
        ((F.col("ps_partkey") * 3 + F.col("ps_suppkey") * 5) % 1000 + 1)
        .cast("long")
        .alias("ps_availqty"),
        ((F.col("ps_partkey") * 31 + F.col("ps_suppkey") * 17) % 10000 + 100)
        .cast("long")
        .alias("ps_cost_cents"),
    )


@register(
    "min_cost_supplier",
    # TPC-H Q2 shape (retired tier): correlated scalar MIN subquery.
    retired=True,
    oracle=f"""
    WITH {_PARTSUPP_SQL}
    SELECT s_acctbal, s_name, n_name, p_partkey,
           ps_cost_cents AS cost_cents
    FROM part, partsupp, supplier, nation, region
    WHERE p_partkey = ps_partkey
      AND s_suppkey = ps_suppkey
      AND p_size < 15
      AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
      AND r_regionkey = 1
      AND ps_cost_cents = (
          SELECT min(ps2.ps_cost_cents)
          FROM partsupp ps2, supplier s2, nation n2
          WHERE ps2.ps_partkey = part.p_partkey
            AND s2.s_suppkey = ps2.ps_suppkey
            AND s2.s_nationkey = n2.n_nationkey
            AND n2.n_regionkey = 1
      )
    ORDER BY s_acctbal DESC, p_partkey ASC, ps_suppkey ASC
    LIMIT 100
    """,
)
def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2: for each small part, the region-1 supplier(s) offering
    the MINIMUM supply cost — the textbook correlated scalar-MIN
    subquery. The oracle keeps the correlated form (min re-derived per
    probe row); the Spark plan decorrelates it into ONE region-filtered
    per-part min aggregate joined back on (partkey, cost) — two scans
    and one 16-byte/row shuffle instead of a rescan per row. Dims
    (part filter, supplier, nation, region) all broadcast; the LIMIT
    rides a total-order sort (acctbal DESC, partkey, suppkey — matching
    the oracle's ORDER BY, since cost_cents is constant within the
    per-part min rows), so the selected set is engine-stable even under
    account-balance ties."""
    ps = _synth_partsupp(spark, sf_dir)
    part = (
        read_table(spark, sf_dir, "part")
        .where(F.col("p_size") < 15)
        .select("p_partkey")
    )
    sup = read_table(spark, sf_dir, "supplier")
    nat = read_table(spark, sf_dir, "nation").where(F.col("n_regionkey") == 1)
    eligible = (
        ps.join(F.broadcast(sup), F.col("ps_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    mins = eligible.groupBy(F.col("ps_partkey").alias("m_partkey")).agg(
        F.min("ps_cost_cents").alias("m_cents")
    )
    return (
        eligible.join(F.broadcast(part), F.col("ps_partkey") == F.col("p_partkey"))
        .join(
            mins,
            (F.col("ps_partkey") == F.col("m_partkey"))
            & (F.col("ps_cost_cents") == F.col("m_cents")),
        )
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            F.col("ps_cost_cents").alias("cost_cents"),
            "ps_suppkey",
        )
        # ps_suppkey is the deciding tiebreak: cost_cents is constant
        # among the per-part min rows this join selects, so without the
        # suppkey two equal-acctbal min-cost suppliers of one part tie
        # completely and the LIMIT cut goes nondeterministic at scale
        # factors where supplier keys can collide mod |supplier|.
        .orderBy(
            F.desc("s_acctbal"), F.asc("p_partkey"), F.asc("ps_suppkey")
        )
        .limit(100)
        .drop("ps_suppkey")
    )


@register(
    "important_stock_parts",
    # TPC-H Q11 shape (retired tier): scalar-aggregate HAVING gate.
    retired=True,
    oracle=f"""
    WITH {_PARTSUPP_SQL},
    filtered AS (
        SELECT ps_partkey, ps_cost_cents * ps_availqty AS v
        FROM partsupp JOIN supplier ON ps_suppkey = s_suppkey
        WHERE s_nationkey % 5 = 2
    )
    SELECT ps_partkey, CAST(sum(v) AS BIGINT) AS value_cents
    FROM filtered
    GROUP BY ps_partkey
    HAVING sum(v) > (
        SELECT 1.5 * avg(pv) FROM (
            SELECT sum(v) AS pv FROM filtered GROUP BY ps_partkey
        )
    )
    """,
)
def important_stock_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11: parts whose stock value (cost x availqty over the
    filtered supplier set) exceeds 1.5x the per-part average — the
    HAVING-against-a-scalar-subquery shape, made scale-free (TPC-H's
    fixed fraction of the total only works at one SF). Spark: the
    per-part values aggregate ONCE and feed both the gate and the
    1-row avg threshold (A5 in-plan scalar, broadcast back) — the
    correlated form recomputes the whole grouped subquery for the
    HAVING. Integer-cents values keep every sum exact; only the final
    threshold compare is floating (identical on both engines: exact
    integer sum / count)."""
    ps = _synth_partsupp(spark, sf_dir)
    sup = read_table(spark, sf_dir, "supplier").where(
        F.col("s_nationkey") % 5 == 2
    )
    per_part = (
        ps.join(F.broadcast(sup), F.col("ps_suppkey") == F.col("s_suppkey"))
        .groupBy("ps_partkey")
        .agg(
            F.sum(F.col("ps_cost_cents") * F.col("ps_availqty"))
            .cast("long")
            .alias("value_cents")
        )
    )
    thresh = per_part.agg(
        (F.lit(1.5) * F.avg("value_cents")).alias("__t")
    )
    return (
        per_part.crossJoin(F.broadcast(thresh))
        .where(F.col("value_cents") > F.col("__t"))
        .select("ps_partkey", "value_cents")
    )


@register(
    "supplier_count_by_part_attrs",
    # TPC-H Q16 shape (retired tier): NOT IN exclusion + count distinct.
    retired=True,
    oracle=f"""
    WITH {_PARTSUPP_SQL}
    SELECT p_brand, p_size,
           CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
    FROM partsupp JOIN part ON p_partkey = ps_partkey
    WHERE p_size < 30
      AND ps_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p_brand, p_size
    """,
)
def supplier_count_by_part_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16: distinct supplier counts per (brand, size) with a
    NOT IN supplier blacklist (negative account balance standing in
    for the comment-based complaint filter the trimmed schema lacks).
    Spark: NOT IN over a non-null key column is a left anti join
    against the (tiny, broadcast) blacklist — the correlated form
    probes the blacklist per row. The distinct aggregate is the
    standard two-phase count-distinct keyed on (brand, size,
    suppkey)."""
    ps = _synth_partsupp(spark, sf_dir)
    part = (
        read_table(spark, sf_dir, "part")
        .where(F.col("p_size") < 30)
        .select("p_partkey", "p_brand", "p_size")
    )
    bad = (
        read_table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("ps_suppkey"))
    )
    return (
        ps.join(F.broadcast(bad), "ps_suppkey", "left_anti")
        .join(F.broadcast(part), F.col("ps_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("ps_suppkey").cast("long").alias("supplier_cnt"))
    )


@register(
    "restock_candidate_suppliers",
    # TPC-H Q20 shape (retired tier): nested IN + correlated scalar.
    retired=True,
    oracle=f"""
    WITH {_PARTSUPP_SQL}
    SELECT s_suppkey, s_name, s_acctbal
    FROM supplier
    WHERE s_suppkey IN (
        SELECT ps_suppkey FROM partsupp
        WHERE ps_partkey IN (
            SELECT p_partkey FROM part WHERE p_partkey % 5 = 0
        )
        AND ps_availqty > (
            SELECT 0.5 * sum(l_quantity) FROM lineitem
            WHERE l_partkey = partsupp.ps_partkey
              AND l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1997-01-01'
        )
    )
    """,
)
def restock_candidate_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20: suppliers holding EXCESS stock (availqty above half a
    year's shipped quantity) of watched parts — an IN subquery nesting
    another IN plus a correlated scalar SUM. Spark decorrelation, inside
    out: the correlated per-part year-quantity scalar becomes ONE
    date-pruned lineitem aggregate joined back on partkey (parts with
    no 1996 shipments drop in the inner join, exactly matching the
    correlated form's NULL-comparison exclusion); the part IN-list is a
    broadcast semi join; the outer supplier IN is a final semi join on
    the surviving suppkeys. Three scans + compact key joins replace a
    per-row rescan of lineitem."""
    ps = _synth_partsupp(spark, sf_dir)
    watched = (
        read_table(spark, sf_dir, "part")
        .where(F.col("p_partkey") % 5 == 0)
        .select(F.col("p_partkey").alias("ps_partkey"))
    )
    li = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1997-01-01"))
    )
    year_qty = li.groupBy(F.col("l_partkey").alias("ps_partkey")).agg(
        (F.lit(0.5) * F.sum("l_quantity")).alias("__half_qty")
    )
    excess = (
        ps.join(F.broadcast(watched), "ps_partkey", "left_semi")
        .join(year_qty, "ps_partkey")
        .where(F.col("ps_availqty") > F.col("__half_qty"))
        .select(F.col("ps_suppkey").alias("s_suppkey"))
    )
    return (
        read_table(spark, sf_dir, "supplier")
        .join(excess, "s_suppkey", "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal")
    )
