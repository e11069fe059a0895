"""WARC ingestion query (r12, extended r13). The corpus tables carry
no WARC files, so the query BUILDS one real WARC file per document
(warcinfo record + HTTP response record, url and status planted as
pure functions of doc_id, body = the document text) with the library's
own writer, then cracks them back through ``warc.warc_responses`` — a
full write-then-ingest round trip whose expected output the DuckDB
oracle recomputes directly from the documents table. r13 (VERDICT r12
#1) plants the WIRE ENCODINGS real crawl bodies arrive in, by doc_id
residue: identity, gzip Content-Encoding, and chunked
Transfer-Encoding with an ISO-8859-1 charset and a planted non-ASCII
suffix — so chunk de-framing, decompression, and charset-aware text
decode are all on the oracle's hash. Library logic in
sparkgraft/warc.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import warc as WC
from ..io import read_table
from ..relational import map_rows, spread
from .registry import register

# the planted non-ASCII suffix for the ISO-8859-1 class: 5 chars, and
# 5 BYTES in latin-1 (é is one byte there, two in UTF-8 — which is
# exactly what makes the charset path observable in n_body_bytes)
_L1_SUFFIX = " café"


@register(
    "warc_http_responses",
    # r12 retired tier, extended r13: WARC/1.0 framing (gzip members),
    # HTTP response splitting, record-type filtering, AND the r13 body
    # decode tier — chunked de-framing, gzip decompression,
    # charset-aware text decode — verified as a build/parse round
    # trip: the oracle knows nothing about WARC or HTTP wire codings
    # and simply states what ingestion must recover from the documents
    # table. n_body_bytes counts PAYLOAD bytes: for the ISO-8859-1
    # class the suffix is 5 latin-1 bytes while the decoded TEXT holds
    # the 5-char suffix — byte count and text length diverge exactly
    # when the charset path works.
    retired=True,
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS file_id,
           'http://crawl.example.com/doc/' || CAST(doc_id AS VARCHAR)
             AS url,
           CAST(CASE WHEN doc_id % 7 = 0 THEN 404 ELSE 200 END AS INT)
             AS status,
           coalesce(text, '')
             || (CASE WHEN doc_id % 3 = 2 THEN ' café' ELSE '' END)
             AS body_text,
           CAST(strlen(coalesce(text, ''))
                + (CASE WHEN doc_id % 3 = 2 THEN 5 ELSE 0 END) AS BIGINT)
             AS n_body_bytes
    FROM documents
    """,
)
def warc_http_responses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build one gzip-member WARC file per document (warcinfo +
    response; a 404 planted on every seventh doc; wire encoding by
    ``doc_id % 3`` — 0 identity, 1 gzip Content-Encoding, 2 chunked
    Transfer-Encoding + ISO-8859-1 charset + non-ASCII suffix), crack
    them with ``warc.warc_responses``, and emit ``(file_id, url,
    status, body_text, n_body_bytes)``. Two Arrow map passes (build,
    crack) — no shuffle beyond the spread; the oracle recomputes the
    expected rows straight from the documents table, so any framing,
    gzip, chunk, charset, HTTP-split, or byte-fidelity defect in
    EITHER the writer or the parser hash-mismatches."""

    def build(doc_id, text):
        did = int(doc_id)
        status = 404 if did % 7 == 0 else 200
        cls = did % 3
        if cls == 2:
            body = ((text or "") + _L1_SUFFIX).encode("iso-8859-1")
            resp = WC.build_http_response(
                status=status, body=body,
                content_type="text/html; charset=ISO-8859-1",
                chunked=True,
            )
        else:
            body = (text or "").encode("utf-8")
            resp = WC.build_http_response(
                status=status, body=body,
                content_encoding="gzip" if cls == 1 else None,
            )
        recs = [
            WC.build_warc_record(
                "warcinfo", b"software: sparkgraft\r\n",
                content_type="application/warc-fields",
            ),
            WC.build_warc_record(
                "response", resp,
                url=f"http://crawl.example.com/doc/{did}",
            ),
        ]
        yield did, WC.build_warc_file(recs, gzip_members=True)

    docs = spread(read_table(spark, sf_dir, "documents"))
    files = map_rows(
        docs.select("doc_id", "text"), build, "file_id long, payload binary"
    )
    out = WC.warc_responses(files)
    return out.where(F.col("warc_error").isNull()).select(
        F.col("file_id").cast("bigint").alias("file_id"),
        "url",
        "status",
        F.col("text_body").alias("body_text"),
        F.col("n_body_bytes").cast("bigint").alias("n_body_bytes"),
    )
