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
from ..relational import spread, tiny_frame
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


@register(
    "quality_percentile_filter",
    # RETIRED r7 (rotation: three-round-stable; slot funds the
    # doc_hash_embedding promotion; the histogram-percentile machinery
    # stays actively exercised by corpus_curation_pipeline).
    retired=True,
    oracle=f"""
    WITH base AS (
        SELECT doc_id, source,
               coalesce(round(
                   len(list_filter({_TOK}, t -> list_contains(
                       ['the','a','and','of','to','in','is','it','you','that'], t)))
                   / nullif(len({_TOK}), 0), 6), 0.0) AS sw_ratio
        FROM documents
    ), hist AS (
        SELECT source, sw_ratio, count(*) AS cnt
        FROM base GROUP BY source, sw_ratio
    ), marks AS (
        SELECT source, sw_ratio,
               round((sum(cnt) OVER (PARTITION BY source ORDER BY sw_ratio
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      - cnt)
                     / (sum(cnt) OVER (PARTITION BY source)), 6) AS pct_below
        FROM hist
    )
    SELECT b.doc_id, b.source, b.sw_ratio, m.pct_below
    FROM base b JOIN marks m USING (source, sw_ratio)
    WHERE m.pct_below >= 0.7
    """,
)
def quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive per-source quality gate: keep documents whose stopword
    ratio is in the top ~30% of their source (fraction-strictly-below
    >= 0.7, tie-inclusive). Absolute thresholds misfire when sources
    have different score distributions; the percentile form adapts.

    Scale shape (the point of the operator): NO percent_rank window
    over corpus-sized source partitions. The full table only sees a
    map-side-combinable histogram aggregate and a broadcast-join +
    row-local filter; the ranking window runs over the tiny
    (source, score) histogram. NULL scores (empty docs) are coalesced
    to 0.0 so the join key is never NULL."""
    docs = spread(read_table(spark, sf_dir, "documents"))
    m = T.quality_metrics("text")
    staged = docs.select(
        "doc_id",
        "source",
        F.coalesce(m["stopword_ratio"], F.lit(0.0)).alias("sw_ratio"),
    )
    return P.percentile_keep(staged, "source", "sw_ratio", 0.7).select(
        "doc_id", "source", "sw_ratio", "pct_below"
    )


@register(
    "chunk_documents_sliding",
    # Retired-tier BREADTH query (registry at its 50-slot cap): the
    # long-document chunking stage oracle-verified on every pytest run.
    # chunk=32 / stride=24 tokens so the test corpus exercises many
    # multi-chunk docs, overlap, and short final chunks.
    retired=True,
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS tok FROM documents),
    starts AS (
        SELECT doc_id, tok, unnest(range(0, len(tok), 24)) AS chunk_start
        FROM tok
    )
    SELECT doc_id,
           CAST(chunk_start // 24 AS BIGINT) AS chunk_idx,
           CAST(chunk_start AS BIGINT) AS chunk_start,
           CAST(len(tok[chunk_start + 1 : chunk_start + 32]) AS BIGINT)
               AS n_chunk_tokens,
           array_to_string(tok[chunk_start + 1 : chunk_start + 32], ' ')
               AS chunk_text
    FROM starts
    """,
)
def chunk_documents_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """packing.chunk_documents with a sliding window (32-token chunks
    every 24 tokens — 8-token overlap, the long-context training
    recipe) over the documents table. Entirely row-local (tokenize +
    sequence + explode + slice — zero shuffles at any corpus size);
    the oracle recomputes every chunk boundary and text from the same
    token arrays."""
    docs = read_table(spark, sf_dir, "documents")
    return P.chunk_documents(
        docs, "text", "doc_id", chunk_tokens=32, stride=24
    )


@register(
    "doc_length_deciles",
    # Retired-tier BREADTH query (registry at its 50-slot cap):
    # histogram-based equi-depth binning oracle-verified on every
    # pytest run — every tile assignment recomputed in SQL from the
    # same cumulative-histogram math.
    retired=True,
    oracle="""
    WITH hist AS (
        SELECT source, n_chars, count(*) AS cnt
        FROM documents GROUP BY 1, 2
    ),
    t AS (
        SELECT source, n_chars,
               least(CAST(floor(round(
                   (sum(cnt) OVER (PARTITION BY source ORDER BY n_chars
                        ROWS UNBOUNDED PRECEDING) - cnt)
                   / sum(cnt) OVER (PARTITION BY source), 9) * 10) AS INT),
                   9) AS tile
        FROM hist
    )
    SELECT d.doc_id, d.source, d.n_chars, t.tile
    FROM documents d JOIN t USING (source, n_chars)
    """,
)
def doc_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """packing.ntile_by_histogram: per-source length DECILES of the
    documents table — equal lengths always share a tile (deterministic,
    unlike SQL NTILE's order-dependent tie splitting), and the corpus
    is never sorted globally: a map-side histogram, a window over the
    tiny distinct-score table, a broadcast join back."""
    docs = read_table(spark, sf_dir, "documents")
    return P.ntile_by_histogram(docs, "source", "n_chars", n=10).select(
        "doc_id", "source", "n_chars", "tile"
    )


@register(
    "doc_length_winsorized",
    # Retired-tier BREADTH query: histogram winsorization verified on
    # every pytest run — both quantile bounds and every clamped value
    # recomputed in SQL from the same inclusive-cumulative-share rule.
    retired=True,
    oracle="""
    WITH hist AS (
        SELECT source, n_chars, count(*) AS cnt
        FROM documents GROUP BY 1, 2
    ),
    shares AS (
        SELECT source, n_chars,
               round(sum(cnt) OVER (PARTITION BY source ORDER BY n_chars
                     ROWS UNBOUNDED PRECEDING)
                     / sum(cnt) OVER (PARTITION BY source), 9) AS share
        FROM hist
    ),
    bounds AS (
        SELECT source,
               min(CASE WHEN share >= 0.05 THEN n_chars END) AS lo,
               min(CASE WHEN share >= 0.95 THEN n_chars END) AS hi
        FROM shares GROUP BY 1
    )
    SELECT d.doc_id, d.source, d.n_chars,
           least(greatest(d.n_chars, b.lo), b.hi) AS n_chars_w
    FROM documents d JOIN bounds b USING (source)
    """,
)
def doc_length_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """packing.winsorize: document lengths clamped to each source's
    [p5, p95] — the outlier cap before mean/std-based quality scoring.
    Quantiles are the smallest value whose inclusive cumulative share
    reaches the target (no interpolation: bounds are actual data
    values, identical cross-engine); the corpus sees one map-side
    histogram and a broadcast bounds join, never a global sort."""
    docs = read_table(spark, sf_dir, "documents")
    return P.winsorize(
        docs, "source", "n_chars", lo_frac=0.05, hi_frac=0.95
    ).select("doc_id", "source", "n_chars", "n_chars_w")


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


@register(
    "doc_quality_quantile_normalized",
    # NEW r6 retired tier: cross-source quantile calibration with both
    # domains, both histograms, both CDFs, the non-equi bin mapping,
    # and the rounded output recomputed in SQL.
    retired=True,
    oracle="""
    WITH v AS (
        SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS s FROM documents
    ),
    g AS (
        SELECT min(s) AS glo,
               greatest(max(s) - min(s), 1e-300) / 16 AS gw
        FROM v
    ),
    sg AS (
        SELECT source, min(s) AS slo,
               greatest(max(s) - min(s), 1e-300) / 16 AS sw
        FROM v GROUP BY 1
    ),
    b AS (
        SELECT v.doc_id, v.source, v.s, g.glo, g.gw,
               CAST(least(greatest(floor((s - glo) / gw), 0), 15) AS INT)
                   AS gbin,
               CAST(least(greatest(floor((s - slo) / sw), 0), 15) AS INT)
                   AS sbin
        FROM v CROSS JOIN g JOIN sg USING (source)
    ),
    gh AS (SELECT gbin, count(*) AS c FROM b GROUP BY 1),
    gc AS (
        SELECT gbin,
               CAST(sum(c) OVER (ORDER BY gbin) AS DOUBLE)
                   / CAST(sum(c) OVER () AS DOUBLE) AS gcdf
        FROM gh
    ),
    sh AS (SELECT source, sbin, count(*) AS c FROM b GROUP BY 1, 2),
    sc AS (
        SELECT source, sbin,
               CAST(sum(c) OVER (PARTITION BY source ORDER BY sbin)
                    AS DOUBLE)
                   / CAST(sum(c) OVER (PARTITION BY source) AS DOUBLE)
                   AS scdf
        FROM sh
    ),
    m AS (
        SELECT source, sbin, min(gbin) AS tgt
        FROM sc JOIN gc ON gcdf >= scdf - 1e-12
        GROUP BY 1, 2
    )
    SELECT b.doc_id, b.source,
           CAST(b.s AS BIGINT) AS n_chars,
           round(b.glo + (m.tgt + 1) * b.gw, 6) AS norm_score
    FROM b JOIN m ON b.source = m.source AND b.sbin = m.sbin
    """,
)
def doc_quality_quantile_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """packing.quantile_normalize over documents: each document's
    length score is mapped to the GLOBAL length distribution's value at
    the document's within-SOURCE quantile (16 bins) — after which one
    corpus-wide threshold treats every source fairly even though their
    raw length distributions differ. Histogram CDFs on both axes,
    per-group domains (a shared domain collapses narrow-scaled groups
    to a bin or two — the failure the unit test pins), a broadcast
    non-equi bin mapping, never a per-group sort."""
    from ..packing import quantile_normalize

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    scored = docs.withColumn("__s", F.col("n_chars").cast("double"))
    return quantile_normalize(scored, "__s", "source", bins=16).select(
        "doc_id", "source", "n_chars", "norm_score"
    )
