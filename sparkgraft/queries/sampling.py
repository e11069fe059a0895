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
    # driver evidence via quality_percentile_filter + doc_train_split's
    # retired-tier oracle on every pytest run
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


@register(
    "docs_exact_n_per_source",
    # Retired-tier BREADTH query: exact-N stratified sampling
    # (distributed reservoir equivalent) verified on every pytest run
    # — seeded-hash draw order and the per-stratum cutoff recomputed
    # in SQL.
    retired=True,
    oracle="""
    SELECT doc_id, source FROM (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5('n:' || CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM documents
    ) WHERE rn <= 10
    """,
)
def docs_exact_n_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-N-per-stratum sampling: rate-based draws (hash-bucket
    thresholds) give each stratum a BINOMIAL sample size; when the
    contract is 'exactly 10 docs per source' (eval set assembly,
    per-domain quotas) the draw must be a top-N over a seeded-hash
    order — the deterministic, distributed equivalent of per-stratum
    reservoir sampling. One shuffle on the stratum key; the hash
    order makes the sample identical on any partitioning and
    re-drawable forever from the seed."""
    from ..relational import top_k_per_group

    docs = read_table(spark, sf_dir, "documents")
    draw = F.md5(F.concat(F.lit("n:"), F.col("doc_id").cast("string")))
    picked = top_k_per_group(
        docs.select("doc_id", "source", draw.alias("__draw")),
        ["source"],
        [F.asc("__draw"), F.asc("doc_id")],
        k=10,
    )
    return picked.select("doc_id", "source")


@register(
    "doc_leakage_safe_split",
    # Retired-tier BREADTH query: the dedup-aware split — every doc is
    # bucketed by its exact-dup CLUSTER canonical id, so duplicate
    # texts can never straddle the train/eval boundary. The oracle
    # recomputes the content fingerprint, the per-fingerprint min id,
    # the hex bucket, and the threshold mapping from scratch.
    retired=True,
    oracle="""
    WITH fp AS (
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
        FROM documents
    ),
    cl AS (
        SELECT doc_id, min(doc_id) OVER (PARTITION BY f) AS cluster_id
        FROM fp
    )
    SELECT doc_id, cluster_id,
           substr(md5(CAST(cluster_id AS VARCHAR)), 1, 4) AS bucket,
           CASE WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 4) < 'cccc'
                THEN 'train'
                WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 4) < 'e666'
                THEN 'val'
                ELSE 'test' END AS split
    FROM cl
    """,
)
def doc_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """packing.leakage_safe_split over documents: same 80/10/10 hex
    thresholds as doc_train_split, but keyed on the exact-dup cluster
    canonical id so no duplicated text leaks across splits."""
    from ..packing import leakage_safe_split

    docs = read_table(spark, sf_dir, "documents")
    return leakage_safe_split(docs)


@register(
    "weighted_exact_k_docs",
    # NEW r6 retired tier: A-ES exactly-k weighted sampling — keys,
    # ranking, and the cutoff all recomputed in SQL. r7: key moved to
    # the LOG form ln(u)/w over a 32-bit u (the 16-bit power form
    # saturated at 1.000000000 for weights above ~2e2, degrading the
    # draw to id-ascending ties); rounded to 9 on both engines so libm
    # ulp differences cannot reorder ranks.
    retired=True,
    oracle="""
    SELECT doc_id, source, n_chars, aes_key FROM (
        SELECT doc_id, source, n_chars,
               round(ln((CAST(CAST('0x' || substr(md5('aes:'
                              || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                          AS DOUBLE) + 0.5) / 4294967296.0)
                     / least(1.0, CAST(n_chars AS DOUBLE) / 500.0),
                     9) AS aes_key
        FROM documents
        WHERE least(1.0, CAST(n_chars AS DOUBLE) / 500.0) > 0
    )
    ORDER BY aes_key DESC, doc_id ASC
    LIMIT 20
    """,
)
def weighted_exact_k_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """packing.weighted_sample_exact_k over documents: EXACTLY 20 docs
    drawn with inclusion probability proportional to the length-ramp
    quality weight (Efraimidis-Spirakis keys in the non-saturating
    log form ln(u)/w) — the sampler
    that is both weighted AND exactly sized, where the hash-threshold
    draw is weighted-but-binomial and the exact-N draw is unweighted.
    Row-local keys; the global top-k compiles to TakeOrdered (partial
    per-partition top-k, never a full sort)."""
    docs = read_table(spark, sf_dir, "documents")
    weighted = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.least(F.lit(1.0), F.col("n_chars").cast("double") / 500.0).alias("__w"),
    )
    from ..packing import weighted_sample_exact_k

    return weighted_sample_exact_k(weighted, "__w", 20).select(
        "doc_id", "source", "n_chars", "aes_key"
    )
