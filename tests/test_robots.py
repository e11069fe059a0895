"""robots.txt tests (sparkgraft/robots.py): parser grammar, RFC 9309
matching semantics, and the gate operator end-to-end."""

from __future__ import annotations

from sparkgraft import robots as R

_ROBOTS = """\
# politeness file
User-agent: *
Disallow: /private/
Allow: /private/public/
Crawl-delay: 2

User-agent: graftbot
User-agent: otherbot
Disallow: /bot-only/
Disallow:
Allow: /bot-only/docs$
"""


def test_parse_robots_grammar():
    rules = R.parse_robots(_ROBOTS)
    # empty Disallow dropped; shared agent lines fan out; comments and
    # unknown directives (Crawl-delay) skipped
    assert ("*", False, "/private/") in rules
    assert ("*", True, "/private/public/") in rules
    assert ("graftbot", False, "/bot-only/") in rules
    assert ("otherbot", False, "/bot-only/") in rules
    assert ("graftbot", True, "/bot-only/docs$") in rules
    assert not any(pat == "" for _, _, pat in rules)
    # a second User-agent AFTER rules starts a NEW group (the '*'
    # group's rules must not leak into graftbot's)
    assert ("graftbot", False, "/private/") not in rules
    assert R.parse_robots("") == [] and R.parse_robots(None) == []


def test_pattern_to_regex_rfc_metachars():
    import re

    cases = [
        ("/private/", "/private/x", True),
        ("/private/", "/priv", False),
        ("/*.php", "/a/b/page.php", True),   # * spans path chars
        ("/*.php", "/a/b/page.html", False),
        ("/fish$", "/fish", True),            # $ anchors the end
        ("/fish$", "/fishing", False),
        ("/a+b", "/a+b", True),               # regex chars escaped
        ("/a+b", "/aab", False),
    ]
    for pattern, path, want in cases:
        rx = R.pattern_to_regex(pattern)
        assert bool(re.search(rx, path)) == want, (pattern, path, rx)


def test_robots_gate_semantics(spark):
    """The RFC matrix through the operator: group selection (exact
    beats *, * only as fallback), longest-match precedence, Allow wins
    ties, default-allow on no match / no rules / missing file."""
    robots = spark.createDataFrame(
        [
            ("a.example.com", _ROBOTS),
            ("norules.example.com", "User-agent: x\nDisallow: /all/"),
            ("nofile.example.com", None),
        ],
        "host string, content string",
    )
    rules = R.robots_rules(robots)
    urls = spark.createDataFrame(
        [
            (1, "http://a.example.com/private/x"),
            (2, "http://a.example.com/private/public/x"),
            (3, "http://a.example.com/bot-only/x"),
            (4, "http://a.example.com/bot-only/docs"),
            (5, "http://a.example.com/free"),
            (6, "http://norules.example.com/all/x"),  # group for agent x only
            (7, "http://nofile.example.com/anything"),
            (8, "http://unknown-host.example.com/y"),
        ],
        "id long, url string",
    )
    star = {
        r.id: r.robots_allowed
        for r in R.robots_gate(urls, rules, agent="randombot").collect()
    }
    # '*' group governs a.example.com for an unlisted agent
    assert star[1] is False          # /private/ disallowed
    assert star[2] is True           # longer Allow wins
    assert star[3] is True and star[4] is True  # bot-only rules not in *
    assert star[5] is True
    assert star[6] is True           # no matching group -> allowed
    assert star[7] is True and star[8] is True  # no file / no rules

    graft = {
        r.id: r.robots_allowed
        for r in R.robots_gate(urls, rules, agent="GraftBot").collect()
    }
    # exact group wins and '*' no longer applies at all
    assert graft[1] is True and graft[2] is True
    assert graft[3] is False         # /bot-only/ disallowed
    assert graft[4] is True          # Allow /bot-only/docs$ longer + anchored
    assert graft[5] is True


def test_robots_gate_parses_rules_once(spark):
    """The effective agent group comes from ONE per-host aggregate over
    the rules, so a gate's plan reads its rules, and runs their Arrow
    parse, once."""
    from sparkgraft.relational import tiny_frame

    rules = R.robots_rules(
        tiny_frame(spark, [("a.example.com", _ROBOTS)], "host string, content string")
    )
    urls = tiny_frame(spark, [("http://a.example.com/x",)], "url string")
    plan = (
        R.robots_gate(urls, rules, agent="graftbot")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("MapInArrow") == 1


def test_parse_robots_unknown_directive_between_agents():
    """RFC 9309 §2.2.2: unrecognized lines must not interfere with
    group parsing — a Sitemap/Crawl-delay line BETWEEN consecutive
    User-agent lines must not split the group (ADVICE r12)."""
    rules = R.parse_robots(
        "User-agent: a\n"
        "Sitemap: http://x.example.com/sitemap.xml\n"
        "User-agent: b\n"
        "Disallow: /x\n"
    )
    assert ("a", False, "/x") in rules
    assert ("b", False, "/x") in rules
    # ...but a rule line still ends collection: the next User-agent
    # starts a fresh group
    rules2 = R.parse_robots(
        "User-agent: a\nDisallow: /x\nUser-agent: b\nDisallow: /y\n"
    )
    assert ("a", False, "/y") not in rules2
    assert ("b", False, "/x") not in rules2


def test_robots_gate_query_target_and_port(spark):
    """ADVICE r12's two fail-open paths: (1) rules match path+query —
    'Disallow: /*?' and 'Disallow: /search?q=' must fire on query
    URLs; (2) an explicit :port on the URL still finds the bare-host
    rules. Fragments are excluded from the match target."""
    robots = spark.createDataFrame(
        [
            ("q.example.com",
             "User-agent: *\nDisallow: /search?q=\nDisallow: /app/*?\n"),
        ],
        "host string, content string",
    )
    rules = R.robots_rules(robots)
    urls = spark.createDataFrame(
        [
            (1, "http://q.example.com/search?q=cats"),      # query rule
            (2, "http://q.example.com/search"),             # no query
            (3, "http://q.example.com/app/page?x=1"),       # /*? wildcard
            (4, "http://q.example.com/app/page"),           # no query
            (5, "http://q.example.com:8080/search?q=dogs"), # port-bearing
            (6, "http://q.example.com/other?y=2"),          # unmatched
        ],
        "id long, url string",
    )
    got = {
        r.id: r.robots_allowed
        for r in R.robots_gate(urls, rules, agent="anybot").collect()
    }
    assert got[1] is False
    assert got[2] is True
    assert got[3] is False
    assert got[4] is True
    assert got[5] is False   # bare-host rules govern host:port URLs
    assert got[6] is True


def test_parse_robots_directives_sitemaps_and_delays():
    """r13: Sitemap records are GLOBAL (file order, deduped, never a
    group boundary); Crawl-delay binds to the current agent group
    (first value per agent wins), soup values are skipped."""
    d = R.parse_robots_directives(
        "Sitemap: http://e.com/s0.xml\n"
        "User-agent: a\n"
        "Sitemap: http://e.com/s1.xml\n"   # between agents: no split
        "User-agent: b\n"
        "Crawl-delay: 2.5\n"
        "Disallow: /x\n"
        "User-agent: c\n"
        "Crawl-delay: soup\n"              # non-numeric: skipped
        "Crawl-delay: -1\n"                # negative: skipped
        "Crawl-delay: 7\n"                 # first VALID value wins
        "Crawl-delay: 9\n"
        "Sitemap: http://e.com/s1.xml\n"   # duplicate: dropped
    )
    assert d["sitemaps"] == ["http://e.com/s0.xml", "http://e.com/s1.xml"]
    assert d["crawl_delays"] == {"a": 2.5, "b": 2.5, "c": 7.0}
    assert ("a", False, "/x") in d["rules"] and ("b", False, "/x") in d["rules"]
    # crawl-delay is a group-member directive: a User-agent after it
    # starts a NEW group (robotparser semantics)
    d2 = R.parse_robots_directives(
        "User-agent: a\nCrawl-delay: 1\nUser-agent: b\nDisallow: /y\n"
    )
    assert ("a", False, "/y") not in d2["rules"]
    assert d2["crawl_delays"] == {"a": 1.0}
    assert R.parse_robots_directives("")["sitemaps"] == []


def test_robots_sitemaps_and_delays_operators(spark):
    robots = spark.createDataFrame(
        [
            ("a.example.com",
             "Sitemap: http://a.example.com/s.xml\n"
             "User-agent: *\nCrawl-delay: 3\nDisallow: /x\n"),
            ("b.example.com", "User-agent: *\nDisallow: /y\n"),
            ("c.example.com", None),
        ],
        "host string, content string",
    )
    sm = {(r.host, r.sitemap_url) for r in R.robots_sitemaps(robots).collect()}
    assert sm == {("a.example.com", "http://a.example.com/s.xml")}
    dl = {
        (r.host, r.agent): r.crawl_delay_sec
        for r in R.robots_crawl_delays(robots).collect()
    }
    assert dl == {("a.example.com", "*"): 3.0}
