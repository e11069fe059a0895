"""XML sitemap parsing (sitemaps.org protocol, r13) — the OTHER half
of crawl frontier discovery: ``robots.robots_sitemaps`` surfaces each
host's sitemap URLs, the fetch tier (warc.py decode path) retrieves
and decompresses them, and THIS module cracks the XML into frontier
rows — ``<urlset>`` page entries (loc + lastmod) and
``<sitemapindex>`` child-sitemap entries (the recursion the frontier
loop follows). Downstream is the same machinery as every other URL:
``web.url_filter`` / ``web.canonical_url`` / the robots gate.

The reference (`/root/reference/event_verify.py`) has no crawl
surface; extension module per the brief's training-data-pipeline
mandate, stdlib-only (``xml.etree.ElementTree``).

Scale shape: one sitemap document = one row, cracked in one
Arrow-batched ``relational.map_rows`` pass (the codec seam); a malformed
document dead-letters as its own row instead of killing the scan. Real
sitemaps cap at 50k URLs / 50 MB uncompressed by protocol, so per-row
parsing bounds executor memory by construction.
"""

from __future__ import annotations

import re
from xml.etree import ElementTree

from pyspark.sql import DataFrame

from .relational import map_rows

__all__ = [
    "build_sitemap",
    "build_sitemap_index",
    "parse_sitemap",
    "sitemap_entries",
    "SITEMAP_ENTRY_SCHEMA",
]

_NS = "http://www.sitemaps.org/schemas/sitemap/0.9"


def build_sitemap(entries: list[tuple[str, str | None]]) -> str:
    """Write a ``<urlset>`` document from ``(loc, lastmod_or_None)``
    pairs — the writer side of the seam (tests and planted oracle
    fixtures build REAL documents with it, the build_warc_record
    convention). Minimal escaping for the XML special chars a URL can
    legally carry (``&``)."""
    out = [
        '<?xml version="1.0" encoding="UTF-8"?>',
        f'<urlset xmlns="{_NS}">',
    ]
    for loc, lastmod in entries:
        out.append("<url>")
        out.append(f"<loc>{_esc(loc)}</loc>")
        if lastmod is not None:
            out.append(f"<lastmod>{_esc(lastmod)}</lastmod>")
        out.append("</url>")
    out.append("</urlset>")
    return "".join(out)


def build_sitemap_index(locs: list[tuple[str, str | None]]) -> str:
    """Write a ``<sitemapindex>`` document from ``(loc, lastmod)``
    pairs — the recursion node of the protocol."""
    out = [
        '<?xml version="1.0" encoding="UTF-8"?>',
        f'<sitemapindex xmlns="{_NS}">',
    ]
    for loc, lastmod in locs:
        out.append("<sitemap>")
        out.append(f"<loc>{_esc(loc)}</loc>")
        if lastmod is not None:
            out.append(f"<lastmod>{_esc(lastmod)}</lastmod>")
        out.append("</sitemap>")
    out.append("</sitemapindex>")
    return "".join(out)


def _esc(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


_TAG_LOCAL = re.compile(r"^\{[^}]*\}")


def _local(tag: str) -> str:
    return _TAG_LOCAL.sub("", tag)


def parse_sitemap(xml: str) -> dict:
    """Parse one sitemap document -> ``{"kind": "urlset" |
    "sitemapindex", "entries": [(loc, lastmod_or_None)]}``.
    Namespace-agnostic on the LOCAL tag names (the wild serves the
    0.9 namespace, no namespace, and typo'd namespaces alike);
    entries without a ``<loc>`` are skipped (soup); XML that does not
    parse, or whose root is neither container, raises ValueError (the
    dead-letter convention — a torn gzip tail or an HTML error page
    must not silently yield zero frontier rows)."""
    try:
        root = ElementTree.fromstring(xml)
    except ElementTree.ParseError as e:
        raise ValueError(f"sitemap: bad xml: {e}") from e
    kind = _local(root.tag)
    if kind not in ("urlset", "sitemapindex"):
        raise ValueError(f"sitemap: unexpected root element {kind!r}")
    child_tag = "url" if kind == "urlset" else "sitemap"
    entries: list[tuple[str, str | None]] = []
    for child in root:
        if _local(child.tag) != child_tag:
            continue  # soup element: skip
        loc: str | None = None
        lastmod: str | None = None
        for field in child:
            f = _local(field.tag)
            if f == "loc" and field.text:
                loc = field.text.strip()
            elif f == "lastmod" and field.text:
                lastmod = field.text.strip()
        if loc:
            entries.append((loc, lastmod))
    return {"kind": kind, "entries": entries}


SITEMAP_ENTRY_SCHEMA = (
    "site_id long, kind string, loc string, lastmod string, "
    "sitemap_error string"
)


def sitemap_entries(
    docs: DataFrame,
    id_col: str = "site_id",
    xml_col: str = "xml",
) -> DataFrame:
    """Crack sitemap documents into frontier rows: one Arrow pass over
    ``(site_id, xml)`` -> ``(site_id, kind, loc, lastmod,
    sitemap_error)`` — one row per page URL (``kind='urlset'``) or
    child sitemap (``kind='sitemapindex'``, the rows the frontier loop
    fetches next). A NULL or malformed document dead-letters as ONE
    row with ``sitemap_error`` set and NULL elsewhere."""

    def run(sid, xml):
        sid = int(sid)
        if xml is None:
            yield sid, None, None, None, "sitemap: null"
            return
        try:
            parsed = parse_sitemap(str(xml))
        except ValueError as e:
            yield sid, None, None, None, str(e)
            return
        for loc, lastmod in parsed["entries"]:
            yield sid, parsed["kind"], loc, lastmod, None

    return map_rows(docs.select(id_col, xml_col), run, SITEMAP_ENTRY_SCHEMA)
