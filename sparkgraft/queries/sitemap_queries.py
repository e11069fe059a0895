"""XML sitemap query (r13). The corpus carries no sitemaps, so the
query BUILDS one real sitemap document per document row with the
library's own writer — a ``<urlset>`` for most docs, a
``<sitemapindex>`` on the ``%5==4`` residue (the protocol's recursion
node), and a planted NON-XML error page on the ``%17==0`` residue that
must dead-letter — then cracks them back through
``sitemap.sitemap_entries``. The oracle knows nothing about XML: every
loc/lastmod is a pure residue function, so it states the surviving
frontier rows directly. Library logic in sparkgraft/sitemap.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import sitemap as SM
from ..io import read_table
from ..relational import map_rows, spread
from .registry import register


@register(
    "sitemap_url_frontier",
    retired=True,
    oracle="""
    WITH d AS (
        SELECT doc_id,
               'http://site' || CAST(doc_id % 3 AS VARCHAR)
                 || '.example.com' AS base
        FROM documents
        WHERE doc_id % 17 != 0          -- planted error pages drop
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CASE WHEN doc_id % 5 = 4
                THEN 'sitemapindex' ELSE 'urlset' END AS kind,
           base || (CASE WHEN doc_id % 5 = 4
                    THEN '/sm/' || CAST(doc_id AS VARCHAR) || '/'
                         || CAST(n AS VARCHAR) || '.xml'
                    ELSE '/p/' || CAST(doc_id AS VARCHAR)
                         || (CASE WHEN n = 1 THEN '/a' ELSE '/b' END) END)
             AS loc,
           CASE WHEN doc_id % 5 != 4 AND n = 1
                THEN '2024-01-0' || CAST((doc_id % 9) + 1 AS VARCHAR)
                ELSE NULL END AS lastmod
    FROM d
    CROSS JOIN (SELECT unnest(range(1, 3)) AS n) r
    """,
)
def sitemap_url_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build one sitemap per doc (urlset of two page URLs, the first
    with a lastmod; every fifth doc a sitemapindex of two child
    sitemaps; every seventeenth a planted HTML error page), crack with
    ``sitemap_entries``, keep the non-dead-lettered rows. Two Arrow
    passes (build, crack), no shuffle beyond the spread; any XML
    build/parse, namespace, lastmod, or dead-letter defect
    hash-mismatches."""

    def build(doc_id):
        did = int(doc_id)
        base = f"http://site{did % 3}.example.com"
        if did % 17 == 0:
            xml = "<html><body>500 Server Error</body></html>"
        elif did % 5 == 4:
            xml = SM.build_sitemap_index(
                [(f"{base}/sm/{did}/1.xml", None),
                 (f"{base}/sm/{did}/2.xml", None)]
            )
        else:
            xml = SM.build_sitemap(
                [(f"{base}/p/{did}/a", f"2024-01-0{did % 9 + 1}"),
                 (f"{base}/p/{did}/b", None)]
            )
        yield did, xml

    docs = spread(read_table(spark, sf_dir, "documents"))
    files = map_rows(docs.select("doc_id"), build, "site_id long, xml string")
    out = SM.sitemap_entries(files)
    return out.where(F.col("sitemap_error").isNull()).select(
        F.col("site_id").cast("bigint").alias("doc_id"),
        "kind",
        "loc",
        "lastmod",
    )
