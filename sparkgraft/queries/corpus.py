"""Corpus-statistics queries (NEW round 4): vocabulary building, the
corpus-level duplicated-n-gram filter signal, and the documents <->
embeddings cross-modal join — the reporting / filter-signal tier a
training-data pipeline runs before (and after) its dedup passes.

All three are fully oracled; registered FIRST per the coverage policy
(queries/__init__.py) until they earn their first driver row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import dedup as D
from .. import text as T
from ..io import read_table
from .duckfrag import SHINGLES_K3 as _SHINGLES
from .duckfrag import TOK as _TOK
from .registry import register


@register(
    "corpus_vocab_topk",
    f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS tok FROM documents),
    words AS (SELECT doc_id, unnest(tok) AS word FROM tok)
    SELECT word,
           CAST(count(*) AS BIGINT) AS term_freq,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
    FROM words
    GROUP BY word
    ORDER BY term_freq DESC, word ASC
    LIMIT 500
    """,
)
def corpus_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-500 corpus vocabulary by term frequency with document
    frequencies — the tokenizer-training / stopword-inference /
    min-df-cut primitive (text.vocabulary). The two-phase distinct
    aggregation keys its partial phase on (word, doc), so the most
    frequent word skews no reducer; the top-k is a TakeOrdered
    (per-partition heads merged on the driver), never a global sort
    partition. The (term_freq, word) sort key is unique, so the
    LIMIT boundary is deterministic cross-engine."""
    docs = read_table(spark, sf_dir, "documents")
    return (
        T.vocabulary(docs, "text", "doc_id")
        .orderBy(F.desc("term_freq"), F.asc("word"))
        .limit(500)
    )


@register(
    "corpus_dup_ngram_stats",
    f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS tok FROM documents),
    sh AS (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM tok),
    dfq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_shingles,
           round(CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS dup_frac
    FROM sh JOIN dfq USING (shingle)
    GROUP BY doc_id
    """,
)
def corpus_dup_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document corpus-duplication profile: the fraction of each
    doc's distinct word 3-grams that appear in >= 2 documents — the
    RefinedWeb-style "duplicated n-gram fraction" quality gate, the
    corpus-wide complement of the within-doc doc_repetition_metrics.
    One shingle pass persisted into two consumers (global shingle
    document frequencies + the row-preserving join back); see
    dedup.duplicated_shingle_stats for the skew analysis."""
    docs = read_table(spark, sf_dir, "documents")
    return D.duplicated_shingle_stats(docs, "text", "doc_id", k=3)


@register(
    "doc_embedding_profile",
    # RETIRED r9 (slot rotation: funds the ann_ivfpq_top1_planted
    # promotion — VERDICT r8 #1). Active and hash-green r4-r8; still
    # oracle-verified on every pytest run and in the sf0.1 sweeps.
    retired=True,
    oracle="""
    SELECT d.source,
           CAST(e.label AS BIGINT) AS label,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(d.n_chars) AS BIGINT) AS sum_chars,
           round(CAST(sum(d.n_chars) AS DOUBLE) / count(*), 2) AS avg_chars,
           CAST(sum(CASE WHEN e.embedding IS NULL THEN 0
                         ELSE len(list_filter(e.embedding, x -> x > 0))
                    END) AS BIGINT) AS sum_pos_dims
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    GROUP BY d.source, CAST(e.label AS BIGINT)
    """,
)
def doc_embedding_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal join: attach each document's embedding row
    (doc_id = vec_id) and profile (source, label) cells — the sanity
    report a pipeline runs after computing embeddings for a text
    corpus (are labels balanced per source? do lengths drift by
    cluster?). The vector-derived measure is the positive-dimension
    count (exact integer from float sign bits, so the cross-engine
    hash compares exactly — no float-sum ordering hazard).

    Scale shape: a pure equi-join of two big tables — shuffle-hash on
    the id at 100 TB (or exchange-free with both sides bucketed by id
    via io.write_parquet's bucketing sink); AQE may elect a broadcast
    at small SF. The per-row HOF runs JVM-side in codegen; the final
    aggregate is low-cardinality (sources x labels) and map-side
    combinable."""
    docs = read_table(spark, sf_dir, "documents")
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.when(F.col("embedding").isNull(), F.lit(0))
        .otherwise(F.size(F.filter("embedding", lambda x: x > F.lit(0.0))))
        .alias("__pos_dims"),
    )
    return (
        docs.join(emb, docs.doc_id == emb.vec_id)
        .groupBy("source", F.col("label").cast("bigint").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.sum("__pos_dims").cast("bigint").alias("sum_pos_dims"),
        )
        .withColumn(
            "avg_chars",
            F.round(
                F.col("sum_chars").cast("double") / F.col("n_docs").cast("double"),
                2,
            ),
        )
        .select(
            "source", "label", "n_docs", "sum_chars", "avg_chars", "sum_pos_dims"
        )
    )


@register(
    "documents_contract_report",
    # PROMOTED to an active slot in r5 (VERDICT r4 task 8): single-scan
    # contract evaluation is the operator real pipelines run most often
    # after dedup, so it earns one round of direct driver evidence
    # (slot freed by retiring weighted_sample_docs).
    oracle="""
    WITH v AS (
        SELECT
            CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                AS id_null,
            CAST(sum(CASE WHEN lang IS NOT NULL
                          AND lang NOT IN ('en','de','es','fr')
                     THEN 1 ELSE 0 END) AS BIGINT) AS lang_bad,
            CAST(sum(CASE WHEN n_chars IS NOT NULL AND n_chars < 1
                     THEN 1 ELSE 0 END) AS BIGINT) AS chars_low,
            CAST(sum(CASE WHEN source IS NOT NULL
                          AND NOT regexp_matches(source, '^src[0-9]+$')
                     THEN 1 ELSE 0 END) AS BIGINT) AS src_bad
        FROM documents
    ),
    u AS (
        SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS id_dup FROM (
            SELECT count(*) AS n FROM documents
            WHERE doc_id IS NOT NULL GROUP BY doc_id HAVING count(*) > 1
        )
    )
    SELECT * FROM (
        SELECT 'doc_id:not_null' AS rule_id, 'doc_id' AS col_name,
               'not_null' AS check_kind, id_null AS n_violations,
               id_null = 0 AS passed FROM v
        UNION ALL
        SELECT 'doc_id:unique', 'doc_id', 'unique', id_dup, id_dup = 0 FROM u
        UNION ALL
        SELECT 'lang:allowed', 'lang', 'allowed', lang_bad, lang_bad = 0 FROM v
        UNION ALL
        SELECT 'n_chars:min', 'n_chars', 'min', chars_low, chars_low = 0 FROM v
        UNION ALL
        SELECT 'source:matches', 'source', 'matches', src_bad, src_bad = 0 FROM v
    )
    """,
)
def documents_contract_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """contract.validate_contract over the documents table with a
    realistic promotion contract (ids present+unique, a lang
    allowlist that flags the zh slice, positive lengths, source-name
    shape). The oracle restates every rule as plain SQL conditional
    sums / HAVING counts, so the one-scan rule compilation — including
    its NULL-pass semantics — is cross-engine verified. Output columns
    renamed (col_name/check_kind) to dodge SQL reserved words in the
    oracle."""
    from ..contract import validate_contract

    docs = read_table(spark, sf_dir, "documents")
    rules = [
        {"column": "doc_id", "check": "not_null"},
        {"column": "doc_id", "check": "unique"},
        {"column": "lang", "check": "allowed", "values": ["en", "de", "es", "fr"]},
        {"column": "n_chars", "check": "min", "value": 1},
        {"column": "source", "check": "matches", "pattern": "^src[0-9]+$"},
    ]
    return (
        validate_contract(docs, rules)
        .withColumnRenamed("column", "col_name")
        .withColumnRenamed("check", "check_kind")
    )
