"""Deterministic corpus sampling / splitting (training-data pipeline
surface).

``sample(fraction)`` / ``rand()`` are non-reproducible: the drawn set
changes with partitioning, task retries, and cluster size — useless for
an auditable 100 TB curation run. The scale-correct idiom is
hash-bucket sampling: a document is kept iff a stable content-free hash
of its key falls under a threshold. Same sample on 1 executor or 1000,
on Spark or DuckDB — which is exactly what lets the oracle verify the
drawn set value-by-value rather than just its size.

md5 is the hash (engine-identical hex, the repo-wide convention); the
first 4 hex chars give 65,536 uniform buckets, compared
lexicographically as strings so both engines share the comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import read_table
from ..relational import tiny_frame
from .registry import register

# per-source sampling thresholds (hex-bucket upper bounds out of 0x10000):
# src0 keeps 1/2, src1 1/4, src2 1/8, everything else 1/16.
_RATES = [("src0", "8000"), ("src1", "4000"), ("src2", "2000")]
_DEFAULT_THR = "1000"

_BUCKET = "substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)"


@register(
    "stratified_sample_docs",
    # Retired r4 to free a driver slot for semantic_dedup_embeddings:
    # the sampling component keeps a driver row via doc_train_split;
    # this query stays locally verified (tests/test_retired_oracles.py,
    # tools/oracle_check.py --retired).
    f"""
    WITH rates(source, thr) AS (
        VALUES ('src0', '8000'), ('src1', '4000'), ('src2', '2000')
    )
    SELECT d.doc_id, d.source, {_BUCKET} AS bucket,
           coalesce(r.thr, '{_DEFAULT_THR}') AS thr
    FROM documents d LEFT JOIN rates r USING (source)
    WHERE {_BUCKET} < coalesce(r.thr, '{_DEFAULT_THR}')
    """,
    retired=True,
)
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sample: per-source keep-rates from a
    broadcast dim table (a 3-row rate spec, the pattern a real curation
    config uses), hash-bucket membership as the draw. The filter is a
    pure row-local predicate: it pushes to the scan side of the join,
    no shuffle at all at any scale."""
    docs = read_table(spark, sf_dir, "documents")
    rates = tiny_frame(spark, _RATES, "source string, thr string")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    thr = F.coalesce(F.col("__thr"), F.lit(_DEFAULT_THR))
    return (
        docs.join(F.broadcast(rates.withColumnRenamed("thr", "__thr")),
                  "source", "left")
        .withColumn("bucket", bucket)
        .withColumn("thr", thr)
        .where(F.col("bucket") < F.col("thr"))
        .select("doc_id", "source", "bucket", "thr")
    )


@register(
    "doc_train_split",
    # retired r6 (slot rotation): two-round-stable; sampling keeps
    # evidence via this retired-tier oracle on every pytest run
    retired=True,
    oracle=f"""
    SELECT doc_id, source, {_BUCKET} AS bucket,
           CASE WHEN {_BUCKET} < 'cccc' THEN 'train'
                WHEN {_BUCKET} < 'e666' THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def doc_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (~80/10/10) by hash
    bucket: stable under re-runs, joins, and repartitioning, so every
    downstream stage agrees on the split without materializing it.
    One narrow projection — no shuffle."""
    docs = read_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    staged = docs.select("doc_id", "source", bucket.alias("bucket"))
    return staged.select(
        "doc_id",
        "source",
        "bucket",
        F.when(F.col("bucket") < "cccc", "train")
        .when(F.col("bucket") < "e666", "val")
        .otherwise("test")
        .alias("split"),
    )


@register(
    "weighted_sample_docs",
    # RETIRED r5 (two-round-stable; driver slot freed for the planted
    # LSH oracle / contract promotion): the sampling component keeps a
    # driver row via doc_train_split; this stays oracle-verified by
    # tests/test_retired_oracles.py.
    retired=True,
    oracle="""
    SELECT doc_id, source, n_chars,
           CAST(CAST('0x' || substr(md5('w:' || CAST(doc_id AS VARCHAR)), 1, 4)
                     AS INTEGER) AS BIGINT) AS bucket,
           round(least(1.0, CAST(n_chars AS DOUBLE) / 500.0), 6) AS weight
    FROM documents
    WHERE CAST('0x' || substr(md5('w:' || CAST(doc_id AS VARCHAR)), 1, 4)
               AS INTEGER)
          < least(1.0, CAST(n_chars AS DOUBLE) / 500.0) * 65536.0
    """,
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row WEIGHTED deterministic sample: each document is kept
    with probability proportional to its own quality weight (here a
    length ramp capped at 1.0 — longer docs up-weighted, the common
    curation heuristic), not a per-stratum rate. The draw is the
    seeded hash bucket as a uniform u01: keep iff
    ``bucket/65536 < weight``, so the drawn set is identical on any
    partitioning, cluster size, or engine — both sides compute the
    same integer-vs-double comparison (values < 2^53, exact). The
    ``'w:'`` salt makes this draw independent of doc_train_split's
    buckets: a doc's split assignment says nothing about its sampling
    fate. Pure row-local predicate: pushes to the scan, no shuffle."""
    docs = read_table(spark, sf_dir, "documents")
    bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("w:"), F.col("doc_id").cast("string"))), 1, 4
        ),
        16,
        10,
    ).cast("long")
    weight = F.least(F.lit(1.0), F.col("n_chars").cast("double") / 500.0)
    staged = docs.select(
        "doc_id",
        "source",
        "n_chars",
        bucket.alias("bucket"),
        weight.alias("__w"),
    )
    return staged.where(
        F.col("bucket").cast("double") < F.col("__w") * 65536.0
    ).select(
        "doc_id",
        "source",
        "n_chars",
        "bucket",
        F.round(F.col("__w"), 6).alias("weight"),
    )
