"""End-to-end crawl-to-corpus flagship (r13, VERDICT r12 #4): the
100 TB user's actual job as ONE lazy plan — WARC crack -> HTTP body
decode -> HTML text extraction -> robots.txt gate -> URL gate ->
canonical-URL dedup -> per-domain diversity cap -> quality gate. Every
tier is verified alone by its own oracled query; this row verifies the
COMPOSITION end to end on the driver's hash, and its bench entry
tracks the chain's wall time.

The corpus has no crawl surface, so the fixture is planted as pure
residue functions of doc_id (the established convention): each
document becomes one real gzip-member WARC file whose record URL,
robots verdict, gate verdict, dedup partner, domain, and quality all
derive from doc_id arithmetic — the DuckDB oracle states the surviving
corpus rows directly, knowing nothing about WARC framing, HTTP wire
codings, HTML, robots parsing, URL canonicalization, or the cap's
window.

Plant geometry:
- page id ``pid = doc_id // 2``: docs ``2k``/``2k+1`` are the SAME
  page behind canonical noise (www + :80 + utm tracking vs bare) —
  the dedup tier must collapse each pair to ``min(doc_id)``;
- host ``h{pid%4}.site{pid%3}.co.uk`` — 12 bare hosts over 3
  REGISTRABLE domains (the PSL tier groups ``site{s}.co.uk``, not
  ``co.uk``), 24 spellings with the www variants, each with its own
  robots file;
- path class ``pid%4``: 0 ``/private/x`` (robots-disallowed), 1
  ``/private/public/x`` (re-allowed by the LONGER Allow), 2
  ``/search?q=`` (disallowed by a QUERY-matching rule — the r13 RFC
  9309 match-target fix on the driver's hash), 3 ``/ok/x`` — except
  ``pid%8==7`` which plants ``/ads/x`` (url_filter's path blocklist);
- wire encoding ``doc_id%3``: identity / gzip Content-Encoding /
  chunked Transfer-Encoding (the r13 decode tier);
- status 404 planted on ``doc_id%13==0`` (dropped at the status
  filter, which can BREAK a dedup pair — min(doc_id) shifts);
- cap: 25 pages per registrable domain, kept = smallest
  ``md5(doc_id)`` (DuckDB recomputes the same hash); quality: >= 10
  whitespace words of EXTRACTED text.

Scale shape: one fused Arrow pass (fixture build, crack, extract), a
broadcast rules join, row-local gate/canonical
expressions, then the only shuffles in the whole plan: the dedup
groupBy and the cap's one rank window (its Partial
``WindowGroupLimit`` bounds what a mega-domain sends to one reducer).
Zero URL-side shuffles otherwise; no collect anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import html as H
from .. import robots as R
from .. import warc as WC
from .. import web as W
from ..io import read_table
from ..relational import map_rows, spread
from .registry import register

_ROBOTS = (
    "User-agent: *\n"
    "Disallow: /private/\n"
    "Allow: /private/public/\n"
    "Disallow: /search?q=\n"
)

_CAP = 25
_MIN_WORDS = 10


def _fixture_warc_file(did: int, text: str | None) -> bytes:
    """Document ``did`` as one gzip-member WARC file holding one
    response record, planted per the module docstring's geometry."""
    pid = did // 2
    host = f"h{pid % 4}.site{pid % 3}.co.uk"
    c = pid % 4
    if c == 0:
        path, query = f"/private/x{pid}", ""
    elif c == 1:
        path, query = f"/private/public/x{pid}", ""
    elif c == 2:
        path, query = "/search", f"q={pid}"
    elif pid % 8 == 7:
        path, query = f"/ads/x{pid}", ""
    else:
        path, query = f"/ok/x{pid}", ""
    if did % 2 == 0:  # canonical noise variant
        q = query + ("&" if query else "") + "utm_source=x"
        url = f"http://www.{host}:80{path}?{q}"
    else:
        url = f"http://{host}{path}" + (f"?{query}" if query else "")
    body_text = str(text) if text is not None else ""
    esc = body_text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    page = (
        f"<html><head><title>p{pid}</title>"
        "<style>p{x}</style></head>"
        f"<body><p>{esc}</p></body></html>"
    ).encode("utf-8")
    enc = did % 3
    resp = WC.build_http_response(
        status=404 if did % 13 == 0 else 200,
        body=page,
        content_encoding="gzip" if enc == 1 else None,
        chunked=enc == 2,
    )
    return WC.build_warc_file(
        [WC.build_warc_record("response", resp, url=url)], gzip_members=True
    )


@register(
    "crawl_to_corpus",
    # NEW r13 ACTIVE: the full-chain composition row. The oracle
    # replays the residue arithmetic only: which doc_ids survive the
    # status filter, the robots matrix, the ads gate; how pairs
    # collapse; which survivors the md5 cap keeps per registrable
    # domain; and the word-count gate over the raw text (extraction
    # must recover exactly the whitespace-normalized document text —
    # any defect in ANY tier shifts rows or values and
    # hash-mismatches).
    oracle=r"""
    WITH attrs AS (
        SELECT doc_id,
               doc_id // 2 AS pid,
               coalesce(text, '') AS text
        FROM documents
        WHERE doc_id % 13 != 0            -- planted 404s never enter
    ), pages AS (
        SELECT doc_id, pid, text,
               'h' || CAST(pid % 4 AS VARCHAR)
                   || '.site' || CAST(pid % 3 AS VARCHAR)
                   || '.co.uk' AS chost,
               (CASE CAST(pid % 4 AS INT)
                    WHEN 0 THEN '/private/x'
                    WHEN 1 THEN '/private/public/x'
                    WHEN 2 THEN '/search'
                    ELSE (CASE WHEN pid % 8 = 7 THEN '/ads/x'
                          ELSE '/ok/x' END) END)
               || (CASE WHEN pid % 4 = 2 THEN '' ELSE CAST(pid AS VARCHAR) END)
                 AS cpath,
               (CASE WHEN pid % 4 = 2
                     THEN '?q=' || CAST(pid AS VARCHAR) ELSE '' END)
                 AS cquery
        FROM attrs
    ), gated AS (
        -- robots: classes 0 and 2 disallowed (prefix rule; query
        -- rule); url gate: the planted /ads/ segment
        SELECT * FROM pages
        WHERE CAST(pid % 4 AS INT) IN (1, 3)
          AND NOT (pid % 4 = 3 AND pid % 8 = 7)
    ), deduped AS (
        SELECT 'http://' || chost || cpath || cquery AS canonical_url,
               min(doc_id) AS doc_id,
               arg_min(text, doc_id) AS text,
               'site' || CAST(min(pid) % 3 AS VARCHAR) || '.co.uk'
                 AS registrable_domain
        FROM gated
        GROUP BY chost, cpath, cquery
    ), capped AS (
        SELECT * FROM (
            SELECT *,
                   row_number() OVER (
                       PARTITION BY registrable_domain
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ) AS rn
            FROM deduped
        ) WHERE rn <= 25
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           canonical_url,
           registrable_domain,
           CAST(len(string_split(
               trim(regexp_replace(text, '\s+', ' ', 'g')), ' '))
             AS BIGINT) AS n_words
    FROM capped
    WHERE len(string_split(
              trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) >= 10
    """,
)
def crawl_to_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chain, one lazy plan. See the module docstring for the
    plant geometry; every stage below is the engine's own operator —
    nothing here reimplements a tier.

    r14 optimization (guide §4, VERDICT r13 #4): the three Python
    passes — fixture WARC build, ``warc.warc_responses`` crack, and
    ``html.extract_html`` — are FUSED into one ``relational.map_rows``
    pass: each document's fixture file goes through
    ``warc.response_rows`` (the crack/decode/dead-letter loop
    ``warc_responses`` runs), the pass keeps the rows where
    ``warc_error IS NULL AND status = 200`` and applies
    ``html.html_to_text``. One JVM<->Python boundary crossing instead
    of three: the WARC payload bytes and the HTML string no longer
    round-trip through Arrow twice each, and only the three columns
    downstream actually reads (doc_id, url, text — the query's own
    r13 comment: 'the frontier columns exist but are unused') cross
    back, instead of the 10-column response row plus the 10-column
    extract row with links/resolved_links nobody consumes."""

    def build_crack_extract(doc_id, text):
        did = int(doc_id)
        rows = WC.response_rows(_fixture_warc_file(did, text))
        for url, status, _ct, _body, _n, html, _etag, _lm, err in rows:
            if err is None and status == 200:
                # extract_html's text product (NULL html -> NULL text,
                # the codec dead-letter convention)
                yield (did, url, H.html_to_text(html) if html is not None else None)

    docs = spread(read_table(spark, sf_dir, "documents"))
    ext = map_rows(
        docs.select("doc_id", "text"),
        build_crack_extract,
        "doc_id long, url string, text string",
    )
    # robots: one file per host SPELLING (www and bare serve alike
    # here; real crawls key rules per authority) — 24 rules rows,
    # broadcast onto the URL side
    # (coalesce(1): 24 fixture rows — see robots_queries.py's r13 note;
    # the rules side otherwise runs its Arrow parse as 32-way
    # near-empty Python tasks per reference)
    hosts = spark.range(24).coalesce(1).select(
        F.expr(
            "concat(IF(id >= 12, 'www.', ''), 'h', CAST(id % 4 AS STRING), "
            "'.site', CAST(CAST((id % 12) / 4 AS INT) AS STRING), '.co.uk')"
        ).alias("host"),
        F.lit(_ROBOTS).alias("content"),
    )
    rules = R.robots_rules(hosts)
    gated = R.robots_gate(ext, rules, agent="graftbot", url_col="url")
    kept = gated.where(
        F.col("robots_allowed") & W.url_filter("url")["keep"]
    )
    # canonical dedup: one groupBy, min doc wins, its text rides via
    # min_by (partial-aggregatable — no window over the corpus)
    deduped = (
        kept.select(
            W.canonical_url("url").alias("canonical_url"),
            "doc_id",
            "text",
        )
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("text", "doc_id").alias("text"),
        )
    )
    # per-domain diversity cap (one rank window)
    capped = W.domain_cap_sample(
        deduped,
        host_col=W.parse_url("canonical_url")["host"],
        cap=_CAP,
        id_col="doc_id",
    )
    # quality gate on the EXTRACTED text
    n_words = F.size(F.split("text", " "))
    return (
        capped.withColumn("n_words", n_words.cast("bigint"))
        .where(F.col("n_words") >= _MIN_WORDS)
        .select("doc_id", "canonical_url", "registrable_domain", "n_words")
    )
