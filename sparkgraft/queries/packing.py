"""Training-batch assembly queries (NEW in round 4 — register first
per the coverage policy until they earn green driver rows).

Three operators between "clean corpus" and "training job": token-budget
sequence packing, domain-mixture epoch replication, and per-source
adaptive quality thresholds. Library logic in sparkgraft/packing.py;
here each is bound to the ``documents`` table with a DuckDB oracle that
recomputes every assignment (md5 hex buckets are engine-identical).

The reference script has no batching surface (event_verify.py ends at
an aggregated sink); these are extension operators per the brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import packing as P
from .. import text as T
from ..io import read_table
from ..relational import tiny_frame
from .duckfrag import TOK as _TOK
from .registry import register

# Sequence token budget: small enough that sf0.01 exercises many
# boundary crossings, shaped like a real 2k/4k/8k context budget.
_BUDGET = 2048

# Domain-mixture plan: src1 at 2.5 epochs (2 full + hash-half extra),
# src2 at 1.25, src0 pinned to exactly 1, all other sources default 1.
# Thresholds are 4-hex md5 bucket upper bounds (out of 0x10000).
_MIX_PLAN = [("src0", 1, "0000"), ("src1", 2, "8000"), ("src2", 1, "4000")]


@register(
    "pack_training_sequences",
    f"""
    WITH base AS (
        SELECT doc_id,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket,
               len({_TOK}) AS n_tokens
        FROM documents
    ), cum AS (
        SELECT doc_id, bucket, n_tokens,
               -- sum(BIGINT) is HUGEINT in DuckDB; pin back to BIGINT so
               -- every derived column matches Spark's long exactly
               CAST(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - n_tokens AS BIGINT) AS tok_start
        FROM base
    )
    SELECT doc_id, bucket, n_tokens,
           CAST(floor(tok_start / {_BUDGET}.0) AS BIGINT) AS seq_id,
           CAST(tok_start % {_BUDGET} AS BIGINT) AS seq_offset
    FROM cum
    """,
)
def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk packing of documents into 2048-token training
    sequences. Docs are sharded into 256 deterministic md5 buckets and
    laid end-to-end by doc_id within each; ``seq_id``/``seq_offset``
    locate where each document starts in the carved token stream.

    Plan: tokenize+count map-side in the scan tasks, BEFORE the bucket
    exchange — only three narrow columns ever ride a shuffle, never the
    text (which is why this query deliberately skips the ``spread``
    fan-out other text queries use: a round-robin of the full text
    would cost more at 100 TB than token counting saves, and scan
    splits already parallelize the tokenize there). Then one windowed
    cumsum per bounded bucket — never a global sort. Assignment is a
    pure function of (doc_id, token counts): byte-identical on any
    cluster.
    """
    docs = read_table(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id",
        P.hex_bucket("doc_id", 2).alias("bucket"),
        F.size(T.tokens("text")).cast("bigint").alias("n_tokens"),
    )
    return P.pack_contiguous(
        staged, "n_tokens", "doc_id", _BUDGET, bucket_col="bucket"
    ).select("doc_id", "bucket", "n_tokens", "seq_id", "seq_offset")


@register(
    "domain_mixture_epochs",
    # RETIRED r9 (slot rotation: funds the token_fertility_by_source
    # promotion). Active and hash-green r4-r8; still oracle-verified on
    # every pytest run and in the sf0.1 sweeps.
    retired=True,
    oracle="""
    WITH cfg(source, full_epochs, extra_thr) AS (
        VALUES ('src0', 1, '0000'), ('src1', 2, '8000'), ('src2', 1, '4000')
    ), base AS (
        SELECT d.doc_id, d.source,
               coalesce(c.full_epochs, 1)
               + CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)
                           < coalesce(c.extra_thr, '0000') THEN 1 ELSE 0 END
                 AS n_epochs
        FROM documents d LEFT JOIN cfg c USING (source)
    )
    SELECT doc_id, source, CAST(epoch AS BIGINT) AS epoch FROM (
        SELECT b.doc_id, b.source, unnest(range(1, b.n_epochs + 1)) AS epoch
        FROM base b
    )
    """,
)
def domain_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized domain-mixture plan: (doc_id, source, epoch) rows
    realizing per-source epoch multipliers (src1 at 2.5x via 2 full
    epochs + a deterministic hash-drawn half, src2 at 1.25x, default
    1x). Broadcast 3-row plan + row-local ``explode(sequence)`` — no
    shuffle at any scale; fractional epochs are drawn by md5 bucket so
    the realized mixture is reproducible, never ``rand()``-sampled."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    plan = tiny_frame(
        spark, _MIX_PLAN, "source string, full_epochs int, extra_thr string"
    )
    return P.epoch_replicate(docs, "doc_id", "source", plan).select(
        "doc_id", "source", "epoch"
    )


# Temperature for the multilingual/multi-domain sampling rebalance
# (alpha-scaling of raw domain shares, Conneau & Lample 2019 / XLM-R:
# w_i ∝ p_i^alpha): 0.7 upweights small domains without letting any
# single huge domain dominate the mixture.
_TEMP_ALPHA = 0.7


@register(
    "domain_temperature_weights",
    retired=True,
    oracle=f"""
    WITH per AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len({_TOK})) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ), staged AS (
        SELECT source, n_docs, n_tokens,
               n_tokens / CAST(sum(n_tokens) OVER () AS DOUBLE) AS p,
               pow(n_tokens / CAST(sum(n_tokens) OVER () AS DOUBLE),
                   {_TEMP_ALPHA}) AS pa
        FROM per
    )
    SELECT source, n_docs, n_tokens,
           round(p, 6) AS p_raw,
           round(pa / sum(pa) OVER (), 6) AS w_temp,
           round(pa / sum(pa) OVER () / p, 6) AS boost
    FROM staged
    """,
)
def domain_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-rebalanced domain mixture weights: per-source token
    shares ``p_i`` flattened to ``w_i ∝ p_i^alpha`` (alpha=0.7, the
    XLM-R multilingual sampling rule), plus the realized boost factor
    each domain gets over proportional sampling. Feeds
    ``domain_mixture_epochs``: w_temp * token_budget / n_tokens is the
    per-source epoch multiplier a curriculum would materialize.

    Scale shape: token counting happens map-side in the scan tasks
    (only (source, count) rows ride the one aggregation shuffle — never
    text), and BOTH normalizing sums run as unbounded windows over the
    already-aggregated |sources|-row frame (the PSI convention:
    aggregate once, window over the tiny result, no second scan and no
    driver-side total)."""
    docs = read_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(T.tokens("text"))).cast("bigint").alias("n_tokens"),
    )
    w = Window.partitionBy()
    p = F.col("n_tokens") / F.sum("n_tokens").over(w).cast("double")
    staged = per.select(
        "source",
        "n_docs",
        "n_tokens",
        p.alias("__p"),
        F.pow(p, F.lit(_TEMP_ALPHA)).alias("__pa"),
    )
    wsum = F.sum("__pa").over(w)
    return staged.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round("__p", 6).alias("p_raw"),
        F.round(F.col("__pa") / wsum, 6).alias("w_temp"),
        F.round(F.col("__pa") / wsum / F.col("__p"), 6).alias("boost"),
    )


@register(
    "temperature_resampled_docs",
    retired=True,
    oracle=f"""
    WITH per AS (
        SELECT source, CAST(sum(len({_TOK})) AS BIGINT) AS n_tok
        FROM documents GROUP BY source
    ), shares AS (
        SELECT source, n_tok,
               pow(n_tok / CAST(sum(n_tok) OVER () AS DOUBLE),
                   {_TEMP_ALPHA}) AS pa,
               CAST(sum(n_tok) OVER () AS DOUBLE) AS t_total
        FROM per
    ), w AS (
        SELECT source, n_tok, t_total,
               round(pa / sum(pa) OVER (), 6) AS w6
        FROM shares
    ), rates AS (
        SELECT source,
               CAST(floor(w6 * t_total / n_tok) AS INT) AS full_epochs,
               CAST(floor((w6 * t_total / n_tok
                           - floor(w6 * t_total / n_tok)) * 65536) AS INT)
                 AS frac_thr
        FROM w
    ), planned AS (
        SELECT d.doc_id, d.source,
               r.full_epochs
               + CASE WHEN CAST('0x' ||
                       substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)
                       AS INTEGER) < r.frac_thr THEN 1 ELSE 0 END AS n_epochs
        FROM documents d JOIN rates r USING (source)
    )
    SELECT doc_id, source, CAST(epoch AS BIGINT) AS epoch FROM (
        SELECT p.doc_id, p.source, unnest(range(1, p.n_epochs + 1)) AS epoch
        FROM planned p WHERE p.n_epochs > 0
    )
    """,
)
def temperature_resampled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The temperature mixture MATERIALIZED: per-source replication
    rates derived from the same w ∝ p^0.7 weights as
    ``domain_temperature_weights`` at a token budget equal to the
    corpus total — so over-represented sources downsample (fractional
    epoch via a deterministic md5 draw) and under-represented ones
    replicate — then realized as (doc_id, source, epoch) rows. The
    end-to-end path a curriculum run executes: weights -> rates ->
    rows, with no rand() anywhere.

    Scale shape: the rate table is an aggregate of the corpus (token
    counts map-side, |sources| rows), broadcast back for the one
    row-local epoch explode; the fractional draw compares the doc's
    md5 bucket against floor(frac * 65536) NUMERICALLY (both engines
    parse the hex — no string-format dependence). Zero non-broadcast
    joins, zero shuffles beyond the rate aggregate."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(T.tokens("text")).alias("__nt")
    )
    per = docs.groupBy("source").agg(
        F.sum("__nt").cast("bigint").alias("__n_tok")
    )
    w = Window.partitionBy()
    p = F.col("__n_tok") / F.sum("__n_tok").over(w).cast("double")
    pa = F.pow(p, F.lit(_TEMP_ALPHA))
    staged = per.select(
        "source",
        "__n_tok",
        F.round(pa / F.sum(pa).over(w), 6).alias("__w6"),
        F.sum("__n_tok").over(w).cast("double").alias("__t"),
    )
    r = F.col("__w6") * F.col("__t") / F.col("__n_tok")
    rates = staged.select(
        "source",
        F.floor(r).cast("int").alias("__full"),
        F.floor((r - F.floor(r)) * 65536).cast("int").alias("__thr"),
    )
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("int")
    planned = (
        docs.select("doc_id", "source", bucket.alias("__b"))
        .join(F.broadcast(rates), "source")
        .select(
            "doc_id",
            "source",
            (
                F.col("__full")
                + F.when(F.col("__b") < F.col("__thr"), 1).otherwise(0)
            ).alias("__ne"),
        )
    )
    return (
        planned.where(F.col("__ne") > 0)
        .select(
            "doc_id",
            "source",
            F.explode(F.sequence(F.lit(1), F.col("__ne"))).alias("epoch"),
        )
        .select("doc_id", "source", F.col("epoch").cast("bigint").alias("epoch"))
    )
