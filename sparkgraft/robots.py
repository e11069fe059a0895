"""robots.txt (RFC 9309) — crawl politeness as data: parse each
host's robots file into rule rows, then gate candidate URLs with the
standard's exact semantics (agent group selection, longest-match
precedence, Allow wins ties, no-match means allowed). The missing
piece between the URL gate (web.py) and a crawl frontier: a pipeline
that re-crawls or expands outlinks (html.html_links) must not fetch
what the host forbids.

The reference (`/root/reference/event_verify.py`) has no crawl
surface; extension module per the brief's training-data-pipeline
mandate, stdlib-only.

Scale shape: robots files arrive as ``(host, content)`` rows — one
small text file per host, millions of hosts — so parsing is one
Arrow-batched pass (``robots_rules``), and the gate collapses each
host's rules to ONE array row, broadcast-joins it onto the URLs, and
folds the RFC argmax row-locally — the URL side (the 100 TB side)
takes zero shuffles and there is never a per-rule or per-URL stage.

RFC 9309 semantics implemented:

- groups: consecutive ``User-agent`` lines share the group that
  follows; a crawler obeys the group matching its product token
  (case-insensitive exact match here) and falls back to the ``*``
  group ONLY when no specific group exists;
- rules: ``Allow`` / ``Disallow`` path patterns; an empty pattern is
  a no-op; ``*`` matches any char run and ``$`` anchors the end (the
  RFC's two metacharacters);
- precedence per URL: the MOST SPECIFIC match wins = longest pattern
  in octets; on a tie Allow wins; no matching rule -> allowed.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .relational import map_rows

__all__ = [
    "parse_robots",
    "parse_robots_directives",
    "pattern_to_regex",
    "robots_rules",
    "robots_gate",
    "robots_sitemaps",
    "robots_crawl_delays",
    "ROBOTS_RULE_SCHEMA",
    "ROBOTS_SITEMAP_SCHEMA",
    "ROBOTS_DELAY_SCHEMA",
]


def parse_robots_directives(content: str) -> dict:
    """Parse one robots.txt into ``{"rules": [(agent_lower, allow,
    pattern)], "sitemaps": [url], "crawl_delays": {agent_lower:
    seconds}}``. Comments (``#``) stripped, unknown directives
    ignored, consecutive ``User-agent`` lines share the following rule
    block, empty patterns dropped (an empty Disallow is the RFC's
    explicit allow-everything no-op). ``Sitemap`` records are GLOBAL
    (the sitemaps.org protocol: not tied to any group — collected in
    file order, duplicates dropped); ``Crawl-delay`` is the
    conventional non-standard group-member directive — it binds to the
    current agent group (and, like Allow/Disallow, ends the
    agent-collection phase), first value per agent wins, non-numeric
    values are soup and skipped. Tolerant throughout: a malformed line
    is skipped, never an error — the public web's robots files are
    ~40% soup."""
    rules: list[tuple[str, bool, str]] = []
    sitemaps: list[str] = []
    delays: dict[str, float] = {}
    agents: list[str] = []
    collecting_agents = True
    for raw in (content or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        key, sep, val = line.partition(":")
        if not sep:
            continue
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if not collecting_agents:
                agents = []  # a new group starts
                collecting_agents = True
            if val:
                agents.append(val.lower())
        elif key in ("allow", "disallow"):
            # ONLY group-member rules end the agent-collection phase:
            # RFC 9309 §2.2.2 requires unrecognized lines not to
            # interfere with group parsing, so a Sitemap line BETWEEN
            # consecutive User-agent lines must not split the group
            # (ADVICE r12 — it used to).
            collecting_agents = False
            if val:
                for a in agents:
                    rules.append((a, key == "allow", val))
        elif key == "crawl-delay":
            collecting_agents = False  # group-member directive
            try:
                secs = float(val)
            except ValueError:
                continue
            if secs >= 0:
                for a in agents:
                    delays.setdefault(a, secs)
        elif key == "sitemap":
            # global record: group context is NOT touched (§2.2.2)
            if val and val not in sitemaps:
                sitemaps.append(val)
        # anything else: soup — neither a rule nor a group boundary
    return {"rules": rules, "sitemaps": sitemaps, "crawl_delays": delays}


def parse_robots(content: str) -> list[tuple[str, bool, str]]:
    """The Allow/Disallow rule rows of :func:`parse_robots_directives`
    (the original r12 surface; the gate consumes exactly these)."""
    return parse_robots_directives(content)["rules"]


def pattern_to_regex(pattern: str) -> str:
    """RFC 9309 path pattern -> anchored regex usable by Java regex,
    RE2, and Python alike: every char escaped except ``*`` (-> ``.*``)
    and a FINAL ``$`` (end anchor); an unanchored pattern is a prefix
    match (``^...``, no trailing anchor)."""
    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    out = "".join(".*" if c == "*" else re.escape(c) for c in body)
    return "^" + out + ("$" if anchored else "")


ROBOTS_RULE_SCHEMA = (
    "host string, agent string, rule_allow boolean, pattern string, "
    "pattern_len int, pattern_re string"
)


def robots_rules(
    robots: DataFrame,
    host_col: str = "host",
    content_col: str = "content",
) -> DataFrame:
    """Arrow-batched parse of ``(host, content)`` robots files into
    one rule row per (host, agent, rule): ``(host, agent, rule_allow,
    pattern, pattern_len, pattern_re)`` — ``pattern_len`` is the
    RFC's specificity key (octets of the raw pattern) and
    ``pattern_re`` the precompiled-to-regex form the gate matches
    with. A NULL/empty content yields no rows (no rules = everything
    allowed, the RFC default for a missing file)."""

    def run(host, content):
        if content is None:
            return
        for agent, allow, pattern in parse_robots(str(content)):
            yield (
                host,
                agent,
                allow,
                pattern,
                len(pattern.encode("utf-8")),
                pattern_to_regex(pattern),
            )

    return map_rows(
        robots.select(host_col, content_col), run, ROBOTS_RULE_SCHEMA
    )


ROBOTS_SITEMAP_SCHEMA = "host string, sitemap_url string"

ROBOTS_DELAY_SCHEMA = "host string, agent string, crawl_delay_sec double"


def robots_sitemaps(
    robots: DataFrame,
    host_col: str = "host",
    content_col: str = "content",
) -> DataFrame:
    """Sitemap discovery (r13): one Arrow pass over ``(host,
    content)`` robots files -> ``(host, sitemap_url)`` rows in file
    order, duplicates dropped per file — the sitemaps.org global
    records that seed a crawl's URL frontier alongside the outlink
    tier (resolve/gate/canonicalize downstream like any other URL).
    NULL/empty content yields no rows."""

    def run(host, content):
        if content is None:
            return
        for sm in parse_robots_directives(str(content))["sitemaps"]:
            yield host, sm

    return map_rows(
        robots.select(host_col, content_col), run, ROBOTS_SITEMAP_SCHEMA
    )


def robots_crawl_delays(
    robots: DataFrame,
    host_col: str = "host",
    content_col: str = "content",
) -> DataFrame:
    """Per-(host, agent) ``Crawl-delay`` seconds (r13) — the
    politeness *rate* companion to the allow/disallow gate: a fetch
    scheduler joins this (broadcast — a few rows per host) onto its
    frontier to budget requests per host. One Arrow pass; files
    without the directive yield no rows; a crawler resolves its
    effective delay with the same group selection as the gate (exact
    agent row if present, else the ``*`` row)."""

    def run(host, content):
        if content is None:
            return
        d = parse_robots_directives(str(content))["crawl_delays"]
        for agent, secs in d.items():
            yield host, agent, float(secs)

    return map_rows(
        robots.select(host_col, content_col), run, ROBOTS_DELAY_SCHEMA
    )


def robots_gate(
    urls: DataFrame,
    rules: DataFrame,
    agent: str,
    url_col: Column | str = "url",
    out_col: str = "robots_allowed",
) -> DataFrame:
    """Gate candidate URLs against parsed robots rules for one
    crawler ``agent``: parse host+path+query off each URL
    (web.parse_url), select the effective agent group per host (the
    exact group when the host HAS one, else ``*`` — RFC 9309 group
    selection), collapse each host's effective rules into ONE array
    row, BROADCAST-join it onto the URLs, and fold the argmax
    row-locally — the longest pattern wins, Allow breaks ties; URLs
    with no matching rule (or no rules at all) are allowed. Adds
    ``out_col`` to the input rows.

    Match target (ADVICE r12 — both were fail-OPEN before): RFC 9309
    §2.2.3 matches rules against the path PLUS the query (``?q=...``)
    when one is present — real-world rules like ``Disallow: /*?`` or
    ``Disallow: /search?q=`` depend on it; the FRAGMENT is excluded
    (it never reaches the server, and parse_url's component extracts
    already drop it). The join key is the URL's host with any
    explicit ``:port`` stripped — robots_rules rows are naturally
    keyed by bare host (one robots.txt per authority), so a
    port-bearing URL must still find its host's rules; callers who
    genuinely serve different robots files per port should key rules
    by ``host:port`` and pre-strip nothing.

    Scale shape — the deliberate one: the URL side (the 100 TB side)
    takes ZERO shuffles. All shuffling happens on the rules side (a
    per-host aggregate of a few rows each); the verdict is a broadcast
    hash join plus a row-local ``F.aggregate`` fold over the host's
    rule array, the regex evaluated only against same-host rules.
    (The first cut used a per-URL argmax WINDOW — a full-width shuffle
    of every candidate URL per gate call; the fold removes it.) When
    the host universe outgrows a broadcast, drop to a shuffle join —
    still one exchange per side, never per-rule or per-URL."""
    from . import web as W

    p = W.parse_url(url_col)
    al = agent.lower()
    # effective group per host from ONE aggregate over the rules (one
    # read, so the robots parse runs once): the exact-agent rules when
    # the host has any, else '*' (collect_list skips the NULLs). Past
    # the filter a rule's agent is either the crawler's or '*', so
    # "not '*'" is the exact group (and when the crawler's agent is
    # '*', the fallback picks the same rules).
    rule = "struct(rule_allow, pattern_len, pattern_re)"
    eff = (
        rules.where(F.col("agent").isin(al, "*"))
        .groupBy(F.col("host").alias("__rhost"))
        .agg(
            F.expr(f"collect_list(IF(agent <> '*', {rule}, NULL)) AS __x"),
            F.expr(f"collect_list(IF(agent = '*', {rule}, NULL)) AS __s"),
        )
        .selectExpr("__rhost", "IF(size(__x) > 0, __x, __s) AS __rules")
    )
    in_cols = urls.columns
    # bare host for the rules join (':port' stripped — the trailing
    # [0-9]+ anchor cannot fire inside an IPv6 '[::1]' literal, whose
    # last char is ']'); path defaults to '/' and the query is
    # appended '?'-prefixed when present (the RFC's match target)
    tagged = urls.withColumns(
        {
            "__host": F.regexp_replace(p["host"], r":[0-9]+$", ""),
            "__target": F.concat(
                F.when(p["path"] == "", "/").otherwise(p["path"]),
                F.when(p["query"] == "", "").otherwise(F.concat(F.lit("?"), p["query"])),
            ),
        }
    )
    joined = tagged.join(
        F.broadcast(eff), tagged["__host"] == eff["__rhost"], "left"
    )
    # row-local argmax fold: (pattern_len, rule_allow) lexicographic
    # max over the rules whose pattern matches the target; the start
    # value (len -1 = no match, allowed) stands when none does, and a
    # host without rules is allowed. Written as one SQL expression: it
    # reads only the two columns named above, and the JVM builds it
    # from one string instead of one py4j round trip per node
    best = F.expr(
        """CASE WHEN __rules IS NULL THEN true ELSE aggregate(
            __rules,
            named_struct('pattern_len', -1, 'rule_allow', true),
            (acc, r) -> CASE
                WHEN regexp_like(__target, r.pattern_re)
                     AND (r.pattern_len > acc.pattern_len
                          OR (r.pattern_len = acc.pattern_len AND r.rule_allow))
                THEN named_struct('pattern_len', r.pattern_len, 'rule_allow', r.rule_allow)
                ELSE acc END
        ).rule_allow END"""
    )
    return joined.select(*in_cols, best.alias(out_col))
