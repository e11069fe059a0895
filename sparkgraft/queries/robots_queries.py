"""robots.txt gate query (r12). The corpus has no crawl surface, so
the query plants one URL per document across 5 hosts (path class by
residue) and ONE robots.txt per host (two groups: ``*`` and
``graftbot``) built as plain strings in Spark, parses them with the
Arrow rule parser, and gates every URL TWICE — once as an unlisted
agent (the ``*`` group governs) and once as ``graftbot`` (the exact
group governs and ``*`` must NOT leak). The oracle knows nothing
about robots parsing: the plant is a pure residue function, so it
states each verdict directly — group selection, longest-match
precedence, Allow-wins-ties, and default-allow all hash-checked.
Library logic in sparkgraft/robots.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import robots as R
from ..io import read_table
from ..relational import spread
from .registry import register

_ROBOTS = (
    "User-agent: *\n"
    "Disallow: /private/\n"
    "Allow: /private/public/\n"
    "\n"
    "User-agent: graftbot\n"
    "Disallow: /bot-only/\n"
)


@register(
    "robots_url_gate",
    # NEW r12 retired tier; PROMOTED to the active driver gate r13
    # (VERDICT r12 #5, slot funded by retiring the five-round-stable
    # user_next_event_pairs). RFC 9309 politeness as data. Verdict
    # matrix stated directly by the oracle: for the UNLISTED agent the
    # '*' group blocks /private/ but its longer Allow re-admits
    # /private/public/ (longest-match precedence), /bot-only/ is
    # untouched; for graftbot the exact group governs alone — only
    # /bot-only/ blocked, the '*' rules must not leak.
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           'http://h' || CAST(CAST(doc_id % 5 AS INT) AS VARCHAR)
           || '.example.com'
           || (CASE CAST(doc_id % 4 AS INT)
                   WHEN 0 THEN '/private/x'
                   WHEN 1 THEN '/private/public/x'
                   WHEN 2 THEN '/bot-only/x'
                   ELSE '/ok/x' END)
           || CAST(doc_id AS VARCHAR) AS url,
           CAST(doc_id % 4 AS INT) != 0 AS allowed_unlisted,
           CAST(doc_id % 4 AS INT) != 2 AS allowed_graftbot
    FROM documents
    """,
)
def robots_url_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plant URLs over 5 hosts x 4 path classes, one two-group robots
    file per host; ``robots_rules`` parses (one Arrow pass),
    ``robots_gate`` runs once per agent (host-keyed broadcast rules
    join + the row-local argmax fold). Verdicts are pure residue
    functions, so the oracle checks the full RFC semantics without
    reimplementing the parser."""
    did = F.col("doc_id")
    url = F.concat(
        F.lit("http://h"),
        (did % 5).cast("int").cast("string"),
        F.lit(".example.com"),
        F.when(did % 4 == 0, F.lit("/private/x"))
        .when(did % 4 == 1, F.lit("/private/public/x"))
        .when(did % 4 == 2, F.lit("/bot-only/x"))
        .otherwise(F.lit("/ok/x")),
        did.cast("string"),
    )
    docs = spread(read_table(spark, sf_dir, "documents"))
    urls = docs.select(
        did.cast("bigint").alias("doc_id"), url.alias("url")
    )
    # r13 optimization round: coalesce the 5-row fixture to ONE
    # partition — spark.range spreads it over defaultParallelism (32)
    # near-empty partitions, and the rules side is referenced once
    # per agent, so the Arrow parse ran as 64 near-empty Python tasks
    # per query. A real caller's rules frame carries its own data-sized
    # partitioning; this is fixture sizing, not an operator change.
    hosts = (
        spark.range(5)
        .coalesce(1)
        .select(
            F.concat(
                F.lit("h"), F.col("id").cast("string"),
                F.lit(".example.com"),
            ).alias("host"),
            F.lit(_ROBOTS).alias("content"),
        )
    )
    rules = R.robots_rules(hosts)
    gated = R.robots_gate(
        urls, rules, agent="unlistedbot", out_col="allowed_unlisted"
    )
    gated = R.robots_gate(
        gated, rules, agent="graftbot", out_col="allowed_graftbot"
    )
    return gated.select(
        "doc_id", "url", "allowed_unlisted", "allowed_graftbot"
    )


@register(
    "robots_sitemap_frontier",
    # NEW r13 retired tier: sitemap discovery — the sitemaps.org
    # GLOBAL records surface from each host's robots.txt in file
    # order, deduped, never splitting a User-agent group. The plant is
    # a pure residue function (evens carry a second Sitemap line, one
    # duplicate line planted everywhere must drop), so the oracle
    # states the frontier rows directly.
    retired=True,
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           'http://h' || CAST(doc_id AS VARCHAR) || '.example.com/s'
             || CAST(n AS VARCHAR) || '.xml' AS sitemap_url
    FROM documents
    CROSS JOIN (SELECT unnest(range(1, 3)) AS n) r
    WHERE n = 1 OR doc_id % 2 = 0
    """,
)
def robots_sitemap_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plant one robots.txt per document (s1 for all, s2 for evens, a
    duplicate s1 line that must drop, Sitemap lines interleaved with
    the agent group to prove they never split it), crack with
    ``robots_sitemaps`` — one Arrow pass, no shuffle beyond the
    spread."""
    did = F.col("doc_id")
    base = F.concat(
        F.lit("http://h"), did.cast("string"), F.lit(".example.com")
    )
    content = F.concat(
        F.lit("Sitemap: "), base, F.lit("/s1.xml\n"),
        F.lit("User-agent: *\n"),
        F.when(
            did % 2 == 0,
            F.concat(F.lit("Sitemap: "), base, F.lit("/s2.xml\n")),
        ).otherwise(F.lit("")),
        F.lit("Disallow: /x\n"),
        F.lit("Sitemap: "), base, F.lit("/s1.xml\n"),  # dup: dropped
    )
    docs = spread(read_table(spark, sf_dir, "documents"))
    robots = docs.select(
        did.cast("string").alias("host"), content.alias("content")
    )
    out = R.robots_sitemaps(robots)
    return out.select(
        F.col("host").cast("bigint").alias("doc_id"), "sitemap_url"
    )


@register(
    "robots_crawl_delay_rows",
    # NEW r13 retired tier: the politeness RATE companion to the gate
    # — per-(host, agent) Crawl-delay seconds, group-bound (a delay
    # planted in the '*' group must not leak to the exact group and
    # vice versa), first-valid-value-wins, soup skipped. All residue
    # functions; the oracle states the rows.
    retired=True,
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS doc_id, agent,
           CAST(CASE WHEN agent = '*'
                     THEN (doc_id % 5) + 1 ELSE 0.5 END AS DOUBLE)
             AS crawl_delay_sec
    FROM documents
    CROSS JOIN (SELECT unnest(['*', 'graftbot']) AS agent) a
    WHERE agent = '*' OR doc_id % 3 = 0
    """,
)
def robots_crawl_delay_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plant a '*' group delay of ``(doc_id % 5) + 1`` (preceded by a
    soup value that must be skipped) and, on every third doc, a
    graftbot group with delay 0.5; crack with ``robots_crawl_delays``
    — one Arrow pass."""
    did = F.col("doc_id")
    content = F.concat(
        F.lit("User-agent: *\nCrawl-delay: soup\nCrawl-delay: "),
        ((did % 5) + 1).cast("int").cast("string"),
        F.lit("\nDisallow: /x\n"),
        F.when(
            did % 3 == 0,
            F.lit("\nUser-agent: graftbot\nCrawl-delay: 0.5\n"),
        ).otherwise(F.lit("")),
    )
    docs = spread(read_table(spark, sf_dir, "documents"))
    robots = docs.select(
        did.cast("string").alias("host"), content.alias("content")
    )
    out = R.robots_crawl_delays(robots)
    return out.select(
        F.col("host").cast("bigint").alias("doc_id"),
        "agent",
        "crawl_delay_sec",
    )
