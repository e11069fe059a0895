"""Relational operator breadth (SURVEY §2.2-2.3, §2.6-2.7).

Filters/predicates, the full join family, set operations, global
sort/top-k, pivot, and grouping-set rollup/cube — each as one
declarative plan with its DuckDB oracle.

Scale notes are attached per query: which side broadcasts, where the
shuffle lands, and why the plan survives a 100x scale-up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import read_table
from .registry import dec, register

# ---------------------------------------------------------------------------
# P2/P3/P6/P8/P11: predicate combinations pushed to the parquet scan
# ---------------------------------------------------------------------------


@register(
    "filter_pushdown",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_linestatus
    FROM lineitem
    WHERE l_returnflag = 'R'
      AND l_linestatus IN ('F', 'O')
      AND l_quantity BETWEEN 10 AND 40
      AND l_shipdate IS NOT NULL
    """,
)
def filter_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive equality + IN-list + range + null-test predicates.

    All four predicates reach the parquet scan (`.explain` shows them
    under PushedFilters), so at 100 TB only matching row groups are
    decoded — the projection also prunes the scan to 6 of 11 columns.
    """
    li = read_table(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_returnflag") == "R")
        & F.col("l_linestatus").isin("F", "O")
        & F.col("l_quantity").between(10, 40)
        & F.col("l_shipdate").isNotNull()
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_linestatus")


# ---------------------------------------------------------------------------
# J1: inner equi-join with broadcast of the small dimension
# ---------------------------------------------------------------------------


@register(
    "revenue_per_segment",
    """
    SELECT c.c_mktsegment,
           count(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def revenue_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-dimension join: customer is the small side -> broadcast
    hint skips the shuffle entirely; the only exchange is the final
    5-row aggregation. At 100 TB the fact table streams map-side."""
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(dec("o_totalprice")).cast("double").alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# U1-U3 + intersect/except (SURVEY §2.7)
# ---------------------------------------------------------------------------


@register(
    "user_funnel_set_ops",
    """
    WITH clickers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
         buyers   AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
         errs     AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
    SELECT 'click_and_buy' AS cohort, user_id FROM (SELECT user_id FROM clickers INTERSECT SELECT user_id FROM buyers)
    UNION ALL
    SELECT 'click_no_buy' AS cohort, user_id FROM (SELECT user_id FROM clickers EXCEPT SELECT user_id FROM buyers)
    UNION ALL
    SELECT 'any_error' AS cohort, user_id FROM errs
    """,
)
def user_funnel_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION ALL over user cohorts in one plan.
    Set ops hash-partition on the full row — at scale prefer keeping a
    cohort label column (as the final UNION ALL here does) over
    materializing N separate DataFrames."""
    ev = read_table(spark, sf_dir, "events")
    by = lambda t: ev.where(F.col("event_type") == t).select("user_id").distinct()  # noqa: E731
    clickers, buyers, errs = by("click"), by("purchase"), by("error")
    return (
        clickers.intersect(buyers).select(F.lit("click_and_buy").alias("cohort"), "user_id")
        .unionByName(
            clickers.exceptAll(buyers).select(F.lit("click_no_buy").alias("cohort"), "user_id")
        )
        .unionByName(errs.select(F.lit("any_error").alias("cohort"), "user_id"))
    )


# ---------------------------------------------------------------------------
# Grouping sets: rollup / cube (engine surface beyond the reference — §2.4)
# ---------------------------------------------------------------------------


@register(
    "lineitem_grouping_sets",
    # RETIRED r8 (three-round-stable; slot funds the r8 promotions —
    # rotation policy; oracle intact, verified every pytest run)
    retired=True,
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag),
                            (l_linestatus), ())
    """,
)
def lineitem_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general form that subsumes ROLLUP
    and CUBE (this set list IS the cube of the two columns and a
    superset of the rollup). One pass, one shuffle: Spark expands the
    sets map-side (Expand node), so at 100 TB the cost is the scan plus
    one combinable aggregation, not one job per grouping."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], ["l_linestatus"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
    )


@register(
    "customers_apply_cdc",
    # PROMOTED to a driver slot r6 (rotation policy): the CDC MERGE
    # (latest change per key wins; I/U upsert, D delete). Snapshot and
    # change batch are both derived deterministically from customer, so
    # inserts of new keys, updates of existing rows, and deletes are
    # all exercised.
    oracle="""
    WITH snapshot AS (
        SELECT c_custkey AS custkey, c_name AS name, c_acctbal AS acctbal
        FROM customer WHERE c_custkey % 4 != 0
    ),
    changes AS (
        SELECT c_custkey AS custkey, c_name AS name, c_acctbal AS acctbal,
               'I' AS op FROM customer WHERE c_custkey % 4 = 0
        UNION ALL
        SELECT c_custkey, c_name, round(c_acctbal + 100.0, 2), 'U'
        FROM customer WHERE c_custkey % 4 = 1
        UNION ALL
        SELECT c_custkey, c_name, c_acctbal, 'D'
        FROM customer WHERE c_custkey % 4 = 2
    )
    SELECT custkey, name, round(acctbal, 2) AS acctbal FROM (
        SELECT * FROM snapshot
        WHERE custkey NOT IN (SELECT custkey FROM changes)
        UNION ALL
        SELECT custkey, name, acctbal FROM changes WHERE op != 'D'
    )
    """,
)
def customers_apply_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """relational.apply_cdc: a derived change batch (every 4th customer
    inserted, the next 4th updated with +100 balance, the next deleted)
    merged into the customer snapshot — the nightly warehouse MERGE.
    The oracle restates the same merge as NOT IN + UNION ALL."""
    from ..relational import apply_cdc

    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_name").alias("name"),
        F.round(F.col("c_acctbal"), 2).alias("acctbal"),
    )
    k = F.col("custkey")
    snapshot = cust.where(k % 4 != 0)
    changes = (
        cust.where(k % 4 == 0)
        .withColumn("op", F.lit("I"))
        .unionByName(
            cust.where(k % 4 == 1)
            .withColumn("acctbal", F.round(F.col("acctbal") + 100.0, 2))
            .withColumn("op", F.lit("U"))
        )
        .unionByName(cust.where(k % 4 == 2).withColumn("op", F.lit("D")))
        .withColumn("seq", F.lit(1).cast("long"))
    )
    return apply_cdc(snapshot, changes, "custkey").select(
        "custkey", "name", F.round(F.col("acctbal"), 2).alias("acctbal")
    )


@register(
    "part_name_fuzzy_matches",
    # Retired-tier BREADTH query: token-blocked fuzzy join verified on
    # every pytest run — blocking premise AND Levenshtein verifier
    # recomputed in SQL (entity-resolution record linkage).
    retired=True,
    oracle="""
    WITH dirty AS (
        SELECT p_partkey AS dirty_key,
               substr(p_name, 1, length(p_name) - 2) AS dirty_name
        FROM part WHERE p_partkey % 10 = 0 AND length(p_name) > 2
    ),
    lp AS (
        SELECT DISTINCT p_name, unnest(string_split(trim(lower(p_name)), ' '))
            AS tok
        FROM part
    ),
    rp AS (
        SELECT DISTINCT dirty_name, unnest(
            string_split(trim(lower(dirty_name)), ' ')) AS tok
        FROM dirty
    ),
    cand AS (
        SELECT DISTINCT lp.p_name, rp.dirty_name
        FROM lp JOIN rp USING (tok) WHERE length(tok) >= 3
    )
    SELECT p.p_partkey AS partkey, c.p_name AS name,
           d.dirty_key, c.dirty_name,
           CAST(levenshtein(c.p_name, c.dirty_name) AS INT) AS edit_dist
    FROM cand c
    JOIN part p ON p.p_name = c.p_name
    JOIN dirty d ON d.dirty_name = c.dirty_name
    WHERE levenshtein(c.p_name, c.dirty_name) <= 2
    """,
)
def part_name_fuzzy_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """relational.fuzzy_join_token_blocked: every 10th part name with
    its last two characters chopped (a deterministic 'dirty' feed)
    fuzzy-joins back to the clean catalog at edit distance <= 2 —
    record linkage with token blocking proposing and exact Levenshtein
    disposing. The truncated twin always shares its leading tokens, so
    the true matches sit inside the blocking premise by construction;
    incidental near-matches between similar catalog names are part of
    the (verified) output."""
    from ..relational import fuzzy_join_token_blocked

    part = read_table(spark, sf_dir, "part")
    clean = part.select(F.col("p_partkey").alias("partkey"), F.col("p_name").alias("name"))
    dirty = part.where(
        (F.col("p_partkey") % 10 == 0) & (F.length("p_name") > 2)
    ).select(
        F.col("p_partkey").alias("dirty_key"),
        F.expr("substr(p_name, 1, length(p_name) - 2)").alias("dirty_name"),
    )
    return fuzzy_join_token_blocked(
        clean, dirty, "name", "dirty_name", max_dist=2
    ).select("partkey", "name", "dirty_key", "dirty_name", "edit_dist")


@register(
    "customer_monthly_spend_resampled",
    # Retired-tier BREADTH query: resample + forward-fill verified on
    # every pytest run — grid generation, latest-in-period selection,
    # and the fill all recomputed in SQL.
    retired=True,
    oracle="""
    WITH obs AS (
        SELECT * FROM (
            SELECT o_custkey AS custkey,
                   date_trunc('month', o_orderdate) AS p,
                   o_totalprice AS v,
                   row_number() OVER (
                       PARTITION BY o_custkey, date_trunc('month', o_orderdate)
                       ORDER BY o_orderdate DESC, o_totalprice DESC) AS rn
            FROM orders WHERE o_custkey < 100
        ) WHERE rn = 1
    ),
    spans AS (
        SELECT custkey, min(p) AS lo, max(p) AS hi FROM obs GROUP BY 1
    ),
    grid AS (
        SELECT custkey, unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS p
        FROM spans
    )
    SELECT g.custkey, g.p AS period_ts,
           last_value(o.v IGNORE NULLS) OVER (
               PARTITION BY g.custkey ORDER BY g.p
               ROWS UNBOUNDED PRECEDING) AS value,
           o.v IS NOT NULL AS observed
    FROM grid g LEFT JOIN obs o ON g.custkey = o.custkey AND g.p = o.p
    """,
)
def customer_monthly_spend_resampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """relational.resample_fill: each customer's order history as a
    COMPLETE monthly series (first to last active month), gaps
    forward-filled with the last observed order price — the
    regularization step before any windowed metric. Latest order in a
    month wins; `observed` marks real vs filled rows."""
    from ..relational import resample_fill

    orders = read_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 100)
    return resample_fill(
        orders.select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderdate").alias("ts"),
            F.col("o_totalprice").alias("value"),
        ),
        "custkey",
        "ts",
        "value",
        step="1 month",
        period="month",
    )


@register(
    "customer_monthly_spend_interpolated",
    # Retired-tier BREADTH query: resample + LINEAR interpolation
    # verified on every pytest run — grid generation, neighbor
    # selection, and the lerp arithmetic all recomputed in SQL
    # (identical expression shape, round(6) both sides).
    retired=True,
    oracle="""
    WITH obs AS (
        SELECT * FROM (
            SELECT o_custkey AS custkey,
                   date_trunc('month', o_orderdate) AS p,
                   o_totalprice AS v,
                   row_number() OVER (
                       PARTITION BY o_custkey, date_trunc('month', o_orderdate)
                       ORDER BY o_orderdate DESC, o_totalprice DESC) AS rn
            FROM orders WHERE o_custkey < 100
        ) WHERE rn = 1
    ),
    spans AS (
        SELECT custkey, min(p) AS lo, max(p) AS hi FROM obs GROUP BY 1
    ),
    grid AS (
        SELECT custkey, unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS p
        FROM spans
    ),
    j AS (
        SELECT g.custkey, g.p, o.v
        FROM grid g LEFT JOIN obs o ON g.custkey = o.custkey AND g.p = o.p
    ),
    w AS (
        SELECT custkey, p, v,
               last_value(v IGNORE NULLS) OVER (
                   PARTITION BY custkey ORDER BY p
                   ROWS UNBOUNDED PRECEDING) AS pv,
               last_value(CASE WHEN v IS NOT NULL THEN p END IGNORE NULLS)
                   OVER (PARTITION BY custkey ORDER BY p
                         ROWS UNBOUNDED PRECEDING) AS pp,
               first_value(v IGNORE NULLS) OVER (
                   PARTITION BY custkey ORDER BY p
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
               first_value(CASE WHEN v IS NOT NULL THEN p END IGNORE NULLS)
                   OVER (PARTITION BY custkey ORDER BY p
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS np
        FROM j
    )
    SELECT custkey, p AS period_ts,
           round(CASE WHEN v IS NOT NULL THEN v
                 ELSE pv + (nv - pv) *
                      (CAST(CAST(epoch(p) AS BIGINT)
                            - CAST(epoch(pp) AS BIGINT) AS DOUBLE)
                       / CAST(CAST(epoch(np) AS BIGINT)
                              - CAST(epoch(pp) AS BIGINT) AS DOUBLE))
                 END, 6) AS value,
           v IS NOT NULL AS observed
    FROM w
    """,
)
def customer_monthly_spend_interpolated(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """relational.resample_interpolate: the same complete monthly grid
    as ``customer_monthly_spend_resampled``, but gaps take the
    straight-line value between the surrounding observed months — the
    gap-fill rule for continuous quantities where forward-fill would
    introduce a step artifact."""
    from ..relational import resample_interpolate

    orders = read_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 100)
    return resample_interpolate(
        orders.select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderdate").alias("ts"),
            F.col("o_totalprice").alias("value"),
        ),
        "custkey",
        "ts",
        "value",
        step="1 month",
        period="month",
    )


@register(
    "customer_snapshot_diff",
    # PROMOTED to a driver slot r6 (rotation policy): snapshot
    # reconciliation — the derived "new" snapshot, both null-safe row
    # hashes, and the insert/update/delete classification all
    # recomputed in SQL. Hash inputs are int/string columns only
    # (double->string formatting is not engine-portable).
    # RETIRED r12 (VERDICT r11 #4 rotation, six-round-stable): the CDC
    # family stays driver-exercised via customers_apply_cdc and
    # orders_segment_scd2; this oracle stays locally verified.
    retired=True,
    oracle="""
    WITH old AS (
        SELECT c_custkey,
               md5(concat_ws('|',
                   coalesce(md5(CAST(c_name AS VARCHAR)), 'N'),
                   coalesce(md5(CAST(c_mktsegment AS VARCHAR)), 'N'),
                   coalesce(md5(CAST(c_nationkey AS VARCHAR)), 'N')
               )) AS h
        FROM customer
    ),
    neu AS (
        SELECT c_custkey,
               md5(concat_ws('|',
                   coalesce(md5(CAST(c_name AS VARCHAR)), 'N'),
                   coalesce(md5(CAST(CASE WHEN c_custkey % 11 = 0
                                     THEN 'MIGRATED' ELSE c_mktsegment END
                                AS VARCHAR)), 'N'),
                   coalesce(md5(CAST(c_nationkey AS VARCHAR)), 'N')
               )) AS h
        FROM customer WHERE c_custkey % 13 != 0
    )
    SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
           CASE WHEN o.h IS NULL THEN 'insert'
                WHEN n.h IS NULL THEN 'delete'
                WHEN o.h != n.h THEN 'update'
                ELSE 'unchanged' END AS change_type
    FROM old o FULL OUTER JOIN neu n USING (c_custkey)
    WHERE CASE WHEN o.h IS NULL THEN 'insert'
               WHEN n.h IS NULL THEN 'delete'
               WHEN o.h != n.h THEN 'update'
               ELSE 'unchanged' END != 'unchanged'
    """,
)
def customer_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """relational.snapshot_diff: reconcile the customer table against
    a migrated snapshot (every 13th key dropped, every 11th segment
    rewritten) — the diff that validates a backfill or derives a
    change feed when the source can't produce one. Row comparison is
    a null-safe per-column-then-row md5 computed map-side on each input, so only
    (key, hash) pairs shuffle into the full outer join — never the
    payload, however wide the table."""
    from ..relational import snapshot_diff

    cust = read_table(spark, sf_dir, "customer")
    cols = ["c_custkey", "c_name", "c_mktsegment", "c_nationkey"]
    old = cust.select(*cols)
    new = cust.where(F.col("c_custkey") % 13 != 0).select(
        "c_custkey",
        "c_name",
        F.when(F.col("c_custkey") % 11 == 0, F.lit("MIGRATED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
        "c_nationkey",
    )
    return snapshot_diff(old, new, ["c_custkey"])


def _pagerank_oracle_sql(iters: int = 3) -> str:
    """Unrolled PageRank SQL mirroring graph.pagerank's exact update:
    same decimal(38,10) contribution sums, same double expression
    shapes ((1.0 - 0.85) computed in DOUBLE, not as a 0.15 literal —
    the binary values differ)."""
    head = """
    WITH raw AS (
        SELECT o_custkey AS cust, l_suppkey AS supp,
               CAST(count(*) AS DOUBLE) AS w
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_custkey < 150
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT cust AS src, supp + 1000000 AS dst, w FROM raw
        UNION ALL
        SELECT supp + 1000000, cust, w FROM raw WHERE supp % 3 != 0
    ),
    nodes AS (SELECT src AS node FROM edges
              UNION SELECT dst FROM edges),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY 1),
    r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / n AS r FROM nodes, nn)"""
    steps = []
    for k in range(1, iters + 1):
        steps.append(f""",
    c{k} AS (
        SELECT e.dst AS node,
               sum(CAST(CAST(0.85 AS DOUBLE) * r.r * e.w / o.ow
                        AS DECIMAL(38,10))) AS c
        FROM edges e
        JOIN r{k-1} r ON e.src = r.node
        JOIN outw o ON e.src = o.src
        GROUP BY 1
    ),
    dg{k} AS (
        SELECT coalesce(sum(CAST(CAST(0.85 AS DOUBLE) * r.r
                                 AS DECIMAL(38,10))),
                        CAST(0 AS DECIMAL(38,10))) AS dg
        FROM r{k-1} r WHERE r.node NOT IN (SELECT src FROM outw)
    ),
    r{k} AS (
        SELECT n0.node,
               (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
                 + coalesce(CAST(c.c AS DOUBLE), CAST(0.0 AS DOUBLE))
                 + CAST(dg.dg AS DOUBLE) / nn.n AS r
        FROM nodes n0 LEFT JOIN c{k} c ON n0.node = c.node, dg{k} dg, nn
    )""")
    return (
        head
        + "".join(steps)
        + f"\n    SELECT node, round(r, 6) AS rank FROM r{iters}"
    )


@register(
    "trade_graph_pagerank",
    # Retired-tier BREADTH query: iterative graph analytics under a
    # real oracle — three PageRank iterations over the customer <->
    # supplier trade graph unrolled as SQL CTEs, decimal contribution
    # sums and every double expression shape identical, so ranks
    # hash-match to 6 places.
    retired=True,
    oracle=_pagerank_oracle_sql(3),
)
def trade_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graph.pagerank over the trade graph: customers point at the
    suppliers they buy from (edge weight = lineitem count) and most
    suppliers point back — every third supplier does not, leaving
    real dangling mass for the redistribution term. Bounded driver
    loop: the driver holds loop control and one node count; each
    iteration is one edge-to-ranks join plus one aggregate, ranks
    localCheckpoint-ed so the plan stays O(1) deep."""
    from ..graph import pagerank

    orders = read_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 150)
    li = read_table(spark, sf_dir, "lineitem")
    raw = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(
            F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    fwd = raw.select(
        F.col("cust").alias("src"),
        (F.col("supp") + 1000000).alias("dst"),
        "w",
    )
    back = raw.where(F.col("supp") % 3 != 0).select(
        (F.col("supp") + 1000000).alias("src"),
        F.col("cust").alias("dst"),
        "w",
    )
    edges = fwd.unionByName(back)
    return pagerank(edges, weight_col="w", iters=3)


@register(
    "part_golden_records",
    # NEW r6 retired tier: entity-resolution SURVIVORSHIP end to end —
    # the fuzzy pair proposal, the transitive closure (recursive CTE),
    # and every survivorship rule (mode with count-desc/value-asc
    # tiebreak, max, member count) recomputed in SQL. PROMOTED to the
    # active driver tier r7 (rotation policy).
    oracle="""
    WITH RECURSIVE dirty AS (
        SELECT p_partkey + 10000000 AS id,
               substr(p_name, 1, length(p_name) - 2) AS name,
               p_brand AS brand,
               p_retailprice - 1.0 AS price
        FROM part WHERE p_partkey % 10 = 0 AND length(p_name) > 2
    ),
    entities AS (
        SELECT p_partkey AS id, p_name AS name, p_brand AS brand,
               p_retailprice AS price
        FROM part
        UNION ALL SELECT * FROM dirty
    ),
    lp AS (
        SELECT id, unnest(string_split(trim(lower(name)), ' ')) AS tok
        FROM entities WHERE id < 10000000
    ),
    rp AS (
        SELECT id, unnest(string_split(trim(lower(name)), ' ')) AS tok
        FROM entities WHERE id >= 10000000
    ),
    np AS (
        SELECT DISTINCT l.id AS u, r.id AS v
        FROM lp l JOIN rp r USING (tok)
        JOIN entities le ON le.id = l.id
        JOIN entities re ON re.id = r.id
        WHERE length(tok) >= 3
          AND levenshtein(le.name, re.name) <= 2
    ),
    edges AS (SELECT u, v FROM np UNION SELECT v, u FROM np),
    reach(n, m) AS (
        SELECT u, u FROM edges
        UNION
        SELECT r.n, e.v FROM reach r JOIN edges e ON r.m = e.u
    ),
    clusters AS (SELECT n AS id, min(m) AS cluster_id FROM reach GROUP BY n),
    labeled AS (
        SELECT e.*, coalesce(c.cluster_id, e.id) AS cluster_id
        FROM entities e LEFT JOIN clusters c USING (id)
    ),
    base AS (
        SELECT cluster_id, count(*) AS n_members,
               round(CAST(max(price) AS DOUBLE), 2) AS price
        FROM labeled GROUP BY 1
    ),
    name_votes AS (
        SELECT cluster_id, name FROM (
            SELECT cluster_id, name,
                   row_number() OVER (
                       PARTITION BY cluster_id
                       ORDER BY count(*) DESC, name ASC) AS rn
            FROM labeled WHERE name IS NOT NULL
            GROUP BY cluster_id, name
        ) WHERE rn = 1
    ),
    brand_votes AS (
        SELECT cluster_id, brand FROM (
            SELECT cluster_id, brand,
                   row_number() OVER (
                       PARTITION BY cluster_id
                       ORDER BY count(*) DESC, brand ASC) AS rn
            FROM labeled WHERE brand IS NOT NULL
            GROUP BY cluster_id, brand
        ) WHERE rn = 1
    )
    SELECT base.cluster_id, n_members, price, name, brand
    FROM base
    LEFT JOIN name_votes USING (cluster_id)
    LEFT JOIN brand_votes USING (cluster_id)
    """,
)
def part_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end to end (relational.golden_records): the
    parts catalog is polluted with deterministic dirty variants (every
    10th name truncated, price docked, id offset by 10M), fuzzy
    token-blocked matching proposes pairs (Levenshtein <= 2 verifier),
    connected components resolve clusters, and survivorship emits ONE
    golden record per entity — mode(name), mode(brand) (count-desc /
    value-asc tiebreaks), max(price) (the undocked clean price wins),
    n_members. Unmatched entities pass through as singletons, so the
    output is the complete mastered catalog. The composite chains
    three independently-oracled operators; its oracle still rebuilds
    every stage.
    """
    from ..relational import fuzzy_join_token_blocked, golden_records

    part = read_table(spark, sf_dir, "part")
    clean = part.select(
        F.col("p_partkey").alias("id"),
        F.col("p_name").alias("name"),
        F.col("p_brand").alias("brand"),
        F.col("p_retailprice").alias("price"),
    )
    dirty = (
        part.where((F.col("p_partkey") % 10 == 0) & (F.length("p_name") > 2))
        .select(
            (F.col("p_partkey") + 10_000_000).alias("id"),
            F.expr("substr(p_name, 1, length(p_name) - 2)").alias("name"),
            F.col("p_brand").alias("brand"),
            (F.col("p_retailprice") - 1.0).alias("price"),
        )
    )
    entities = clean.unionByName(dirty)
    matches = fuzzy_join_token_blocked(
        clean.select("id", "name"),
        dirty.select(F.col("id").alias("r_id"), F.col("name").alias("r_name")),
        "name",
        "r_name",
        max_dist=2,
    )
    pairs = matches.select(
        F.col("id").alias("id_a"), F.col("r_id").alias("id_b")
    ).distinct()
    golden = golden_records(
        entities,
        pairs,
        "id",
        mode_cols=["name", "brand"],
        max_cols=["price"],
    )
    return golden.select(
        "cluster_id",
        "n_members",
        F.round(F.col("price").cast("double"), 2).alias("price"),
        "name",
        "brand",
    )
