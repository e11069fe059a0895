"""Text-analysis extension queries over ``documents`` (BASELINE.json
north star: language-ID, quality scoring, token counting, document
fingerprinting). Oracles recompute everything — including md5
fingerprints — in DuckDB, so the hash comparison verifies the actual
text math, not just row shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import text as T
from ..io import read_table
from ..relational import spread
from .registry import register

# Shared DuckDB fragments (single source of truth in duckfrag so the
# packing module can reuse them without importing this module, which
# would perturb registration order).
from .duckfrag import EN_STOP as _EN  # noqa: E402
from .duckfrag import TOK as _TOK  # noqa: E402
_ES = "['el','la','de','que','y','en','un','una','es','los']"
_FR = "['le','la','et','les','des','un','une','du','est','que']"
_DE = "['der','die','das','und','ist','ein','eine','zu','den','von']"


# The r13 multilingual plant (VERDICT r12 #7): once the charset decode
# tier landed, the corpus stopped being ASCII-by-construction, so the
# quality tier's whitespace/tokenizer classes must agree between Java
# and RE2 on NON-ASCII input. The suffix plants every divergence
# candidate: accented Latin, CJK, an IDEOGRAPHIC SPACE (U+3000 — in
# NEITHER engine's \s, so it glues one symbol run), Hangul, a \x0b
# vertical tab (Java's \s has it, RE2's does NOT — the classes are now
# explicit on the Spark side so both engines keep it), guillemets, and
# a no-break space (U+00A0 — whitespace in neither).
_ML_SUFFIX = (
    " Zürich café 東京　データ 데이터\x0b«ciao» fin"
)
_ML_SUFFIX_SQL = (
    "' Zürich café 東京　データ 데이터' || chr(11) || "
    "'«ciao» fin'"
)


@register(
    "doc_quality_multilingual",
    # NEW r13 retired tier: the text.quality_metrics contract re-proved
    # on non-ASCII text — same metric expressions, same oracle shape,
    # over text || the multilingual suffix. Any Java-vs-RE2 class
    # divergence (\x0b in \s, unicode whitespace, \w width) shifts
    # n_punct / token counts and hash-mismatches.
    retired=True,
    oracle=f"""
    WITH base AS (
        SELECT doc_id,
               coalesce(text, '') || {_ML_SUFFIX_SQL} AS t
        FROM documents
    ), m AS (
        SELECT doc_id, t,
               string_split(trim(regexp_replace(lower(t),
                   '\\s+', ' ', 'g')), ' ') AS tok,
               length(t) AS n_chars,
               length(t)
                 - length(regexp_replace(t, '[^\\w\\s]', '', 'g'))
                 AS n_punct
        FROM base
    )
    SELECT doc_id, n_chars,
           len(tok) AS n_tokens,
           round(n_punct / nullif(n_chars, 0), 6) AS punct_ratio,
           round(list_sum(list_transform(tok, t -> length(t)))
                 / nullif(len(tok), 0), 6) AS mean_token_len
    FROM m
    """,
)
def doc_quality_multilingual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality metrics over multilingual text: every document's text
    carries the planted non-ASCII suffix, and the SAME codegen
    expressions as text.quality_metrics must produce the SAME counts
    the DuckDB (RE2) twin computes — the proof that the explicit
    whitespace classes hold off Java's \\x0b divergence and that
    unicode spaces (U+3000, U+00A0) are data, not separators, in both
    engines."""
    docs = spread(read_table(spark, sf_dir, "documents"))
    t = F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(_ML_SUFFIX))
    m = T.quality_metrics(t)
    return docs.select(
        "doc_id",
        m["n_chars"].alias("n_chars"),
        m["n_tokens"].alias("n_tokens"),
        m["punct_ratio"].alias("punct_ratio"),
        m["mean_token_len"].alias("mean_token_len"),
    )


_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


@register(
    "doc_repetition_metrics",
    # retired r6 (slot rotation): slot funds suppliers_sole_returned;
    # text-family driver evidence stays with tfidf_top_terms,
    # corpus_vocab_topk, corpus_dup_ngram_stats, doc_gopher_quality_gate
    # and corpus_curation_pipeline; locally oracled on every pytest run
    retired=True,
    oracle=f"""
    WITH base AS (SELECT doc_id, {_TOK} AS tok FROM documents),
    grams AS (
        SELECT doc_id, 1 AS n, unnest(tok) AS g FROM base
        UNION ALL
        SELECT doc_id, 2 AS n,
               unnest(list_transform(range(1, len(tok)),
                                     i -> tok[i] || ' ' || tok[i + 1])) AS g
        FROM base WHERE len(tok) >= 2
    ), cnt AS (
        SELECT doc_id, n, g, count(*) AS c FROM grams GROUP BY 1, 2, 3
    ), agg AS (
        SELECT doc_id,
               CAST(coalesce(sum(c) FILTER (WHERE n = 1), 0) AS BIGINT)
                   AS n_tokens,
               CAST(coalesce(sum(c) FILTER (WHERE n = 1 AND c > 1), 0) AS BIGINT)
                   AS dup_tok,
               CAST(coalesce(sum(c) FILTER (WHERE n = 2), 0) AS BIGINT)
                   AS n_bigrams,
               CAST(coalesce(max(c) FILTER (WHERE n = 2), 0) AS BIGINT)
                   AS top_bigram_count,
               CAST(coalesce(sum(c) FILTER (WHERE n = 2 AND c > 1), 0) AS BIGINT)
                   AS dup_big
        FROM cnt GROUP BY 1
    )
    SELECT d.doc_id,
           coalesce(a.n_tokens, 0) AS n_tokens,
           round(a.dup_tok / nullif(a.n_tokens, 0), 6) AS dup_token_frac,
           coalesce(a.n_bigrams, 0) AS n_bigrams,
           coalesce(a.top_bigram_count, 0) AS top_bigram_count,
           round(a.top_bigram_count / nullif(a.n_bigrams, 0), 6)
               AS top_bigram_frac,
           round(a.dup_big / nullif(a.n_bigrams, 0), 6) AS dup_bigram_frac
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def doc_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1): per-doc
    duplicate-token fraction, most-frequent-bigram fraction, and
    duplicate-bigram fraction — the signals that catch boilerplate and
    template spam that whole-doc dedup misses.

    Shape: ONE explode of tagged (unigram UNION bigram) grams ->
    map-side-combinable count on (doc_id, n, gram) -> per-doc
    conditional aggregates -> left join back so empty docs keep zero
    counts (fractions NULL, mirrored exactly in the oracle). Both
    shuffles are keyed on doc_id(+gram): linear, skew-free, no
    quadratic stage anywhere — this runs at corpus scale."""
    docs = spread(read_table(spark, sf_dir, "documents"))
    staged = docs.select("doc_id", T.tokens("text").alias("__tok"))
    tag = lambda n: lambda g: F.struct(  # noqa: E731
        F.lit(n).cast("int").alias("n"), g.alias("g")
    )
    # explode_outer + null filter, not explode: the inferred size()>0
    # filter would re-inline the tokenizer below the spread exchange
    # and run it in the single-task scan stage (see dedup._doc_shingles)
    grams = staged.select(
        "doc_id",
        F.explode_outer(
            F.concat(
                F.transform(F.col("__tok"), tag(1)),
                F.transform(T.word_bigrams(F.col("__tok")), tag(2)),
            )
        ).alias("gr"),
    ).where(F.col("gr").isNotNull())
    cnt = (
        grams.select("doc_id", F.col("gr.n").alias("n"), F.col("gr.g").alias("g"))
        .groupBy("doc_id", "n", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n, c = F.col("n"), F.col("c")
    z = F.lit(0).cast("bigint")
    agg = cnt.groupBy("doc_id").agg(
        F.coalesce(F.sum(F.when(n == 1, c)), z).alias("n_tokens"),
        F.coalesce(F.sum(F.when((n == 1) & (c > 1), c)), z).alias("__dup_tok"),
        F.coalesce(F.sum(F.when(n == 2, c)), z).alias("n_bigrams"),
        F.coalesce(F.max(F.when(n == 2, c)), z).alias("top_bigram_count"),
        F.coalesce(F.sum(F.when((n == 2) & (c > 1), c)), z).alias("__dup_big"),
    )
    nz = lambda d: F.when(d > 0, d)  # noqa: E731
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_tokens"), z).alias("n_tokens"),
            F.round(F.col("__dup_tok") / nz(F.col("n_tokens")), 6)
            .alias("dup_token_frac"),
            F.coalesce(F.col("n_bigrams"), z).alias("n_bigrams"),
            F.coalesce(F.col("top_bigram_count"), z).alias("top_bigram_count"),
            F.round(F.col("top_bigram_count") / nz(F.col("n_bigrams")), 6)
            .alias("top_bigram_frac"),
            F.round(F.col("__dup_big") / nz(F.col("n_bigrams")), 6)
            .alias("dup_bigram_frac"),
        )
    )


@register(
    "token_fertility_by_source",
    # NEW r8 retired tier; PROMOTED to the active driver gate r9;
    # RETIRED again r11 (rotation policy: hash-stable across r9/r10;
    # the shared tokenize pass stays driver-exercised in the tfidf/
    # BM25/corpus active rows and this oracle keeps running in the
    # retired sweeps — slot funds large_order_customers):
    # tokenizer-efficiency
    # (fertility) readout per source — chars per BPE-ish token and BPE
    # tokens per whitespace word. Sources whose text is symbol/digit-
    # heavy fragment into more model tokens per word; this is the
    # per-domain budget correction a token-budgeted mixture plan needs
    # on top of raw word counts. All sums exact BIGINTs; the two
    # ratios are round(CAST/NULLIF, 6) on both engines.
    oracle=rf"""
    WITH base AS (
        SELECT source,
               CASE WHEN text IS NULL THEN 0 ELSE length(text) END AS n_chars,
               CASE WHEN text IS NULL THEN 0
                    ELSE len(regexp_extract_all(lower(text),
                             '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+'))
               END AS n_bpe,
               len({_TOK}) AS n_ws
        FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(n_bpe) AS BIGINT) AS total_bpe_tokens,
           CAST(sum(n_ws) AS BIGINT) AS total_ws_tokens,
           round(CAST(sum(n_chars) AS DOUBLE) / nullif(sum(n_bpe), 0), 6)
               AS chars_per_bpe_token,
           round(CAST(sum(n_bpe) AS DOUBLE) / nullif(sum(n_ws), 0), 6)
               AS bpe_tokens_per_word
    FROM base GROUP BY source
    """,
    retired=True,
)
def token_fertility_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenizer fertility: how many characters one BPE-ish
    token covers and how many model tokens a whitespace word fragments
    into — the per-domain correction that turns word budgets into
    model-token budgets (symbol/digit-heavy domains fragment more).
    One scan, one map-side-combinable aggregate per source; both
    ratios NULL-guarded against empty sources."""
    docs = spread(read_table(spark, sf_dir, "documents"))
    n_chars = F.when(F.col("text").isNull(), F.lit(0)).otherwise(
        F.length("text")
    ).cast("bigint")
    n_bpe = F.when(F.col("text").isNull(), F.lit(0)).otherwise(
        F.size(T.regex_tokens("text"))
    ).cast("bigint")
    n_ws = F.size(T.tokens("text")).cast("bigint")
    agg = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_chars).alias("total_chars"),
        F.sum(n_bpe).alias("total_bpe_tokens"),
        F.sum(n_ws).alias("total_ws_tokens"),
    )
    nz = lambda c: F.when(c == 0, F.lit(None)).otherwise(c)  # noqa: E731
    return agg.select(
        "source",
        "n_docs",
        "total_chars",
        "total_bpe_tokens",
        "total_ws_tokens",
        F.round(
            F.col("total_chars").cast("double")
            / nz(F.col("total_bpe_tokens")),
            6,
        ).alias("chars_per_bpe_token"),
        F.round(
            F.col("total_bpe_tokens").cast("double")
            / nz(F.col("total_ws_tokens")),
            6,
        ).alias("bpe_tokens_per_word"),
    )


@register(
    "corpus_curation_pipeline",
    f"""
    WITH base AS (
        SELECT doc_id, source, text, {_TOK} AS tok FROM documents
    ),
    scored AS (
        SELECT doc_id, source, text,
               len(tok) AS n_tokens,
               round(len(list_filter(tok, t -> list_contains({_EN}, t)))
                     / nullif(len(tok), 0), 6) AS stopword_ratio,
               len(list_filter(tok, t -> list_contains({_DE}, t))) AS s_de,
               len(list_filter(tok, t -> list_contains({_EN}, t))) AS s_en,
               len(list_filter(tok, t -> list_contains({_ES}, t))) AS s_es,
               len(list_filter(tok, t -> list_contains({_FR}, t))) AS s_fr,
               coalesce(length(text), 0)
                 - coalesce(length(regexp_replace(text, '[一-鿿]', '', 'g')), 0)
                 AS s_zh
        FROM base
    ),
    classified AS (
        SELECT *,
               CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                    WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
                    WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                    WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                    WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                    ELSE 'zh' END AS lang_pred
        FROM scored
    ),
    filtered AS (
        SELECT * FROM classified
        WHERE n_tokens >= 20
          AND coalesce(stopword_ratio, 0) >= 0.01
          AND lang_pred = 'en'
    ),
    deduped AS (
        SELECT *, row_number() OVER (
            PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
            ORDER BY doc_id ASC) AS rn
        FROM filtered
    )
    SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
           stopword_ratio, lang_pred
    FROM deduped
    WHERE rn = 1
      AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc'
    """,
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END training-data curation flow as ONE Catalyst plan:
    quality gate (n_tokens >= 20, stopword_ratio >= 0.01 — the Gopher
    'not natural language' cut) -> language filter (stopword/CJK argmax
    = 'en') -> exact dedup keep-first (md5 fingerprint) -> deterministic
    hash-bucket train split. Every stage is the already-verified
    library operator (text.quality_metrics, text.lang_id,
    dedup.dedup_exact, sampling's md5 bucket), composed; the oracle
    recomputes the whole chain in SQL, so this row verifies the
    COMPOSITION — filters commute with projections, the dedup window
    sees post-filter rows, the split hashes surviving ids only.

    Scale shape: one scan, one shuffle for the dedup window, zero
    joins. The quality/lang filters sit BEHIND a pushdown_fence:
    pushed to the scan they re-evaluate the full tokenizer trees in
    the (single-file, single-task) scan stage — measured 4x slower;
    at petabyte scale with splittable inputs one drops the fence and
    lets the scan filter early. This is the plan a 100 TB corpus
    cleanup actually runs."""
    from ..relational import pushdown_fence

    docs = pushdown_fence(spread(read_table(spark, sf_dir, "documents")))
    from .. import dedup as D

    m = T.quality_metrics("text")
    staged = docs.select(
        "doc_id",
        "source",
        "text",
        m["n_tokens"].alias("n_tokens"),
        m["stopword_ratio"].alias("stopword_ratio"),
        T.lang_id("text").alias("lang_pred"),
    )
    filtered = staged.where(
        (F.col("n_tokens") >= 20)
        & (F.coalesce(F.col("stopword_ratio"), F.lit(0.0)) >= 0.01)
        & (F.col("lang_pred") == "en")
    )
    deduped = D.dedup_exact(filtered, "text", "doc_id")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    return deduped.where(bucket < "cccc").select(
        "doc_id", "source", "n_tokens", "stopword_ratio", "lang_pred"
    )


@register(
    "tfidf_top_terms",
    f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS tok FROM documents),
    terms AS (SELECT doc_id, unnest(tok) AS term FROM tok),
    tc AS (SELECT doc_id, term, count(*) AS tf_raw FROM terms GROUP BY 1, 2),
    dl AS (SELECT doc_id, sum(tf_raw) AS doc_len FROM tc GROUP BY 1),
    dfq AS (SELECT term, count(*) AS docfreq FROM tc GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tc.doc_id, tc.term,
               round((CAST(tf_raw AS DOUBLE) / CAST(doc_len AS DOUBLE))
                     * (ln((CAST(n_docs AS DOUBLE) + 1)
                           / (CAST(docfreq AS DOUBLE) + 1)) + 1), 6) AS tfidf
        FROM tc JOIN dl USING (doc_id) JOIN dfq USING (term) CROSS JOIN n
    )
    SELECT doc_id, rank, term, tfidf FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS BIGINT) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 terms per document by smoothed tf-idf — the corpus-level
    text-analysis op (idf needs global document frequencies): one
    tokenize pass, compact (doc, term) count table feeding lengths and
    docfreqs, broadcast one-row N, deterministic rounded ranking. The
    oracle recomputes the identical double math including ln()."""
    docs = read_table(spark, sf_dir, "documents")
    return T.tfidf_top_terms(docs, "text", "doc_id", k=5)


@register(
    "doc_unigram_logprob",
    # Retired-tier BREADTH query (registry at its 50-slot cap): the
    # perplexity-proxy quality score oracle-verified on every pytest
    # run. Model corpus = src0 documents; every doc scored against it,
    # so OOV smoothing (ctf = 0) is exercised by the non-src0 slices.
    retired=True,
    oracle=f"""
    WITH stok AS (SELECT doc_id, {{tok}} AS tok FROM documents),
    terms AS (SELECT doc_id, unnest(tok) AS term FROM stok),
    tc AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
    mterms AS (
        SELECT d.doc_id, unnest({{tok}}) AS term
        FROM documents d WHERE d.source = 'src0'
    ),
    ctf AS (SELECT term, count(*) AS ctf FROM mterms GROUP BY 1),
    tot AS (SELECT CAST(coalesce(sum(ctf), 0) AS DOUBLE) AS t,
                   CAST(count(*) AS DOUBLE) AS v FROM ctf),
    scored AS (
        SELECT tc.doc_id,
               sum(tf) AS n_tokens,
               sum(CAST(tf AS DECIMAL(18,0))
                   * CAST(round(-ln((CAST(coalesce(ctf, 0) AS DOUBLE) + 1)
                                    / (t + v)), 6) AS DECIMAL(18,6))) AS s
        FROM tc LEFT JOIN ctf USING (term) CROSS JOIN tot
        GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(coalesce(sc.n_tokens, 0) AS BIGINT) AS n_tokens,
           round(CAST(sc.s AS DOUBLE) / CAST(sc.n_tokens AS DOUBLE), 6)
               AS avg_neg_logprob
    FROM documents d LEFT JOIN scored sc USING (doc_id)
    """.replace("{tok}", _TOK),
)
def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean negative unigram log-probability per document under a
    reference unigram model (the src0 slice of the corpus) — the
    perplexity-proxy quality filter (CCNet-style: improbable-word
    documents score high). Rounded per-term -ln p accumulated in exact
    decimal => engine-independent; the oracle recomputes the identical
    math including ln() (tfidf precedent). Docs outside src0 exercise
    the out-of-vocabulary smoothing path (ctf = 0)."""
    docs = read_table(spark, sf_dir, "documents")
    model = docs.where(F.col("source") == "src0")
    return T.unigram_logprob(docs, "text", "doc_id", model_df=model)


@register(
    "doc_cdc_segments",
    # Retired-tier BREADTH query (registry at its 50-slot cap):
    # content-defined segmentation oracle-verified on every pytest run
    # — every boundary decision, segment hash, and length recomputed
    # from the same md5 list math in DuckDB.
    retired=True,
    oracle=f"""
    WITH tok AS (SELECT doc_id, {{tok}} AS tok FROM documents
                 WHERE {{tok}} != []::VARCHAR[]),
    b AS (
        SELECT doc_id, tok,
               list_filter(range(0, len(tok)),
                   i -> CAST('0x' || substr(md5(tok[i + 1]), 1, 4) AS INTEGER)
                        % 8 = 0) AS bpos
        FROM tok
    ),
    se AS (
        SELECT doc_id, tok,
               list_filter(
                   list_zip(
                       list_concat([0], list_transform(bpos, p -> p + 1)),
                       list_concat(list_transform(bpos, p -> p + 1),
                                   [len(tok)])),
                   p -> p[2] > p[1]) AS segs
        FROM b
    )
    SELECT doc_id,
           CAST(i AS INT) AS seg_idx,
           md5(array_to_string(tok[segs[i + 1][1] + 1 : segs[i + 1][2]], ' '))
               AS seg_hash,
           CAST(segs[i + 1][2] - segs[i + 1][1] AS INT) AS n_seg_tokens
    FROM se, unnest(range(0, len(segs))) AS t(i)
    """.replace("{tok}", _TOK),
)
def doc_cdc_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text.cdc_segments exploded to rows: each document's
    content-defined segments (FastCDC at word level, ~8-token expected
    length) with their md5 hashes — the shift-robust dedup key that
    survives token insertions/deletions, where fixed-window chunk
    hashes all change past the first edit. Entirely row-local HOFs in
    codegen; the only exchange is the spread fan-out.

    explode_outer + null filter, not plain explode: a bare explode
    lets InferFiltersFromGenerate push a ``size(segments) > 0`` filter
    (carrying the ENTIRE segmentation expression tree) below the
    spread into the single-task scan — measured 18s -> ~1s at sf0.1
    (the dedup._doc_shingles / dedup_spans lesson)."""
    docs = spread(read_table(spark, sf_dir, "documents"))
    return (
        docs.select(
            "doc_id",
            F.explode_outer(T.cdc_segments("text", avg_tokens=8)).alias("s"),
        )
        .where(F.col("s").isNotNull())
        .select(
            "doc_id",
            F.col("s.seg_idx").alias("seg_idx"),
            F.col("s.seg_hash").alias("seg_hash"),
            F.col("s.n_seg_tokens").alias("n_seg_tokens"),
        )
    )


@register(
    "doc_quality_logistic",
    # Retired-tier BREADTH query: the quality-CLASSIFIER stage (CCNet
    # fastText-filter shape) verified on every pytest run — feature
    # extraction, the sigmoid arithmetic, and the keep decision all
    # recomputed in SQL. Fixed published weights (what a deployed
    # filter ships); training is classify.train_logistic, verified
    # against a numpy twin in test_classify.py.
    retired=True,
    oracle=f"""
    WITH base AS (
        SELECT doc_id, source, {{tok}} AS tok,
               coalesce(length(text), 0) AS n_chars,
               coalesce(length(text), 0)
                 - coalesce(length(regexp_replace(text, '[^\\w\\s]', '', 'g')), 0)
                 AS n_punct
        FROM documents
    ),
    feats AS (
        SELECT doc_id, source,
               round(n_punct / nullif(n_chars, 0), 6) AS punct_ratio,
               round(len(list_filter(tok, t -> list_contains({{en}}, t)))
                     / nullif(len(tok), 0), 6) AS stopword_ratio,
               round(list_sum(list_transform(tok, t -> length(t)))
                     / nullif(len(tok), 0), 6) AS mean_token_len
        FROM base
    )
    SELECT doc_id, source, punct_ratio, stopword_ratio, mean_token_len,
           round(1.0 / (1.0 + exp(-(-1.0 + 4.0 * stopword_ratio
                                    + -8.0 * punct_ratio
                                    + 0.25 * mean_token_len))), 6)
               AS quality_score,
           CASE WHEN punct_ratio IS NULL THEN NULL
                ELSE round(1.0 / (1.0 + exp(-(-1.0 + 4.0 * stopword_ratio
                                              + -8.0 * punct_ratio
                                              + 0.25 * mean_token_len))), 6)
                     >= 0.5 END AS keep
    FROM feats
    """.replace("{tok}", _TOK).replace("{en}", _EN),
)
def doc_quality_logistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """classify.logistic_score over the quality features: every
    document scored by a fixed logistic model (sigmoid of a weighted
    feature sum) and gated at 0.5 — the quality-classifier stage of a
    curation pipeline as ONE codegen map over the scan, no shuffle.
    Empty docs (NULL features) keep a NULL score and NULL verdict."""
    from ..classify import logistic_score

    docs = spread(read_table(spark, sf_dir, "documents"))
    m = T.quality_metrics("text")
    feats = docs.select(
        "doc_id",
        "source",
        m["punct_ratio"].alias("punct_ratio"),
        m["stopword_ratio"].alias("stopword_ratio"),
        m["mean_token_len"].alias("mean_token_len"),
    )
    score = logistic_score(
        {
            "stopword_ratio": 4.0,
            "punct_ratio": -8.0,
            "mean_token_len": 0.25,
        },
        bias=-1.0,
    )
    return feats.select(
        "*",
        score.alias("quality_score"),
        (score >= 0.5).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Gopher / C4 corpus-cleaning gates (round 6)
# ---------------------------------------------------------------------------

# Thresholds tuned to the synthetic corpus's 10-99-word docs so the
# gate splits it nontrivially (production defaults live on the library
# function's signature: min_words=50, min_stop_hits=2).
_G_MIN_WORDS = 30
_G_MIN_STOP = 1
_G_STOP = "['the','be','to','of','and','that','have','with']"


@register(
    "doc_gopher_quality_gate",
    # ACTIVE (r6 continuation): promoted on registration day per the
    # coverage policy (new code earns driver rows); funded by retiring
    # the two-round-stable doc_quality_metrics, whose expressions stay
    # driver-exercised inside corpus_curation_pipeline
    oracle=f"""
    WITH base AS (
        SELECT doc_id, source, text, {_TOK} AS tok FROM documents
    ), m AS (
        SELECT doc_id, source,
               CAST(len(tok) AS BIGINT) AS n_words,
               round(list_sum(list_transform(tok, t -> length(t)))
                     / nullif(len(tok), 0), 6) AS mean_word_len,
               round((
                 (coalesce(length(text), 0)
                    - coalesce(length(replace(text, '#', '')), 0))
                 + CAST((coalesce(length(text), 0)
                    - coalesce(length(replace(text, '...', '')), 0)) / 3
                   AS BIGINT)
               ) / nullif(len(tok), 0), 6) AS symbol_ratio,
               round(len(list_filter(tok, x -> regexp_matches(x, '[a-z]')))
                     / nullif(len(tok), 0), 6) AS alpha_frac,
               CAST(len(list_filter({_G_STOP}, w -> list_contains(tok, w)))
                    AS BIGINT) AS stop_hits,
               CASE WHEN text IS NULL OR text = '' THEN []::VARCHAR[]
                    ELSE string_split(text, chr(10)) END AS ls
        FROM base
    ), fr AS (
        SELECT *,
               round(len(list_filter(ls, l ->
                       starts_with(trim(l), '-') OR starts_with(trim(l), '*')
                       OR starts_with(trim(l), '•')))
                     / nullif(len(ls), 0), 6) AS bullet_frac,
               round(len(list_filter(ls, l -> ends_with(trim(l), '...')))
                     / nullif(len(ls), 0), 6) AS ellipsis_frac
        FROM m
    ), rules AS (
        SELECT doc_id, source, n_words, mean_word_len, symbol_ratio,
               alpha_frac, stop_hits,
               coalesce(n_words >= {_G_MIN_WORDS} AND n_words <= 100000, false)
                 AS r_word_count,
               coalesce(mean_word_len >= 3.0 AND mean_word_len <= 10.0, false)
                 AS r_mean_word_len,
               coalesce(symbol_ratio <= 0.1, false) AS r_symbol_ratio,
               coalesce(bullet_frac <= 0.9, false) AS r_bullet_lines,
               coalesce(ellipsis_frac <= 0.3, false) AS r_ellipsis_lines,
               coalesce(alpha_frac >= 0.8, false) AS r_alpha_words,
               coalesce(stop_hits >= {_G_MIN_STOP}, false) AS r_stopwords
        FROM fr
    )
    SELECT *,
           r_word_count AND r_mean_word_len AND r_symbol_ratio
           AND r_bullet_lines AND r_ellipsis_lines AND r_alpha_words
           AND r_stopwords AS keep
    FROM rules
    """,
)
def doc_gopher_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher doc-level quality gate (text.gopher_rules; Rae et al.
    2021 §A1.1): every heuristic — word-count band, mean-word-length
    band, #/... symbol ratio, bullet/ellipsis line fractions,
    alphabetic-word fraction, required-stopword presence — recomputed
    by the oracle, plus the conjunction verdict. One scan, row-local
    HOFs, no shuffle; the gate splits the synthetic corpus ~2:1."""
    docs = spread(read_table(spark, sf_dir, "documents"))
    g = T.gopher_rules("text", min_words=_G_MIN_WORDS, min_stop_hits=_G_MIN_STOP)
    cols = [
        "n_words", "mean_word_len", "symbol_ratio", "alpha_frac",
        "stop_hits", "r_word_count", "r_mean_word_len", "r_symbol_ratio",
        "r_bullet_lines", "r_ellipsis_lines", "r_alpha_words",
        "r_stopwords", "keep",
    ]
    return docs.select("doc_id", "source", *[g[c].alias(c) for c in cols])


# Planted fixture lines for the C4 line filter: each line is dropped by
# exactly ONE rule (terminal punct passes on all four), so the oracle
# verifies every rule independently. Chosen free of SQL-quoting hazards.
_JS_LINE = "this page requires javascript to render properly."
_BRACE_LINE = "the function body is { return one } here."
_SHORT_LINE = "buy now."
_LOREM_LINE = "lorem ipsum dolor sit amet consectetur adipiscing."


@register(
    "doc_c4_line_filter",
    retired=True,
    oracle=f"""
    WITH b AS (
        SELECT doc_id, source, {_TOK} AS tok FROM documents
    ), built AS (
        SELECT doc_id, source,
               list_concat(
                 CASE WHEN len(tok) = 0 THEN []::VARCHAR[]
                      ELSE list_transform(
                             range(0, CAST(ceil(len(tok) / 8.0) AS INT)),
                             i -> array_to_string(tok[i*8+1 : i*8+8], ' ')
                                  || CASE WHEN i % 3 = 2 THEN '' ELSE '.' END)
                 END,
                 list_concat(
                   CASE WHEN doc_id % 7 = 0 THEN ['{_JS_LINE}']
                        ELSE []::VARCHAR[] END,
                   list_concat(
                     CASE WHEN doc_id % 11 = 0 THEN ['{_BRACE_LINE}']
                          ELSE []::VARCHAR[] END,
                     list_concat(
                       CASE WHEN doc_id % 5 = 0 THEN ['{_SHORT_LINE}']
                            ELSE []::VARCHAR[] END,
                       CASE WHEN doc_id % 13 = 0 THEN ['{_LOREM_LINE}']
                            ELSE []::VARCHAR[] END)))) AS ls
        FROM b
    ), filt AS (
        SELECT doc_id, source, ls,
               list_filter(ls, l ->
                 (ends_with(trim(l), '.') OR ends_with(trim(l), '!')
                  OR ends_with(trim(l), '?') OR ends_with(trim(l), '"'))
                 AND (CASE WHEN trim(l) = '' THEN 0
                           ELSE len(string_split(
                                  trim(regexp_replace(l, '\\s+', ' ', 'g')),
                                  ' ')) END) >= 5
                 AND NOT contains(lower(trim(l)), '{{')
                 AND NOT contains(lower(trim(l)), '}}')
                 AND NOT contains(lower(trim(l)), 'lorem ipsum')
                 AND NOT contains(lower(trim(l)), 'javascript')) AS kept
        FROM built
    )
    SELECT doc_id, source,
           CAST(len(ls) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept,
           array_to_string(kept, chr(10)) AS kept_text
    FROM filt
    """,
)
def doc_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning (text.c4_line_filter; Raffel et al. 2020
    §2.2) over a deterministic multi-line fixture: the single-line
    synthetic docs are re-cut into 8-token lines (every third left
    without terminal punctuation) and salted by doc_id residue with a
    javascript line, a curly-brace line, a too-short line, and a lorem
    ipsum line — one planted violation per rule. The REBUILT document
    (surviving lines joined) is the verified value, byte-for-byte."""
    docs = spread(read_table(spark, sf_dir, "documents"))
    staged = docs.select("doc_id", "source", T.tokens("text").alias("__tok"))
    n = F.size("__tok")
    m = F.ceil(n / F.lit(8.0)).cast("int")
    empty = F.array().cast("array<string>")
    base = F.when(n == 0, empty).otherwise(
        F.transform(
            F.sequence(F.lit(0), m - 1),
            lambda i: F.concat(
                F.array_join(F.slice(F.col("__tok"), i * 8 + 1, 8), " "),
                F.when(i % 3 == 2, F.lit("")).otherwise(F.lit(".")),
            ),
        )
    )

    def plant(mod: int, line: str):
        return F.when(
            F.col("doc_id") % mod == 0, F.array(F.lit(line))
        ).otherwise(empty)

    lines = F.concat(
        base,
        plant(7, _JS_LINE),
        plant(11, _BRACE_LINE),
        plant(5, _SHORT_LINE),
        plant(13, _LOREM_LINE),
    )
    staged2 = staged.select(
        "doc_id", "source", F.array_join(lines, "\n").alias("__text2")
    )
    c = T.c4_line_filter("__text2")
    return staged2.select(
        "doc_id",
        "source",
        c["n_lines"].alias("n_lines"),
        c["n_kept"].alias("n_kept"),
        c["kept_text"].alias("kept_text"),
    )


@register(
    "doc_importance_resampling",
    # ACTIVE (r6 continuation): promoted on registration day per the
    # coverage policy; funded by retiring orders_per_customer_left
    # (left-outer evidence stays driver-held by conformance_flagship)
    oracle=f"""
    WITH stok AS (SELECT doc_id, {{tok}} AS tok FROM documents),
    terms AS (SELECT doc_id, unnest(tok) AS term FROM stok),
    tc AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
    rctf AS (SELECT term, sum(tf) AS rctf FROM tc GROUP BY 1),
    tterms AS (SELECT unnest({{tok}}) AS term FROM documents
               WHERE source = 'src0'),
    tctf AS (SELECT term, count(*) AS tctf FROM tterms GROUP BY 1),
    rtot AS (SELECT CAST(coalesce(sum(rctf), 0) AS DOUBLE) AS rt,
                    CAST(count(*) AS DOUBLE) AS rv FROM rctf),
    ttot AS (SELECT CAST(coalesce(sum(tctf), 0) AS DOUBLE) AS tt,
                    CAST(count(*) AS DOUBLE) AS tv FROM tctf),
    scored AS (
        SELECT tc.doc_id, sum(tf) AS n_tokens,
               sum(CAST(tf AS DECIMAL(18,0)) *
                   (CAST(round(ln((CAST(coalesce(tctf, 0) AS DOUBLE) + 1)
                                  / (tt + tv)), 6) AS DECIMAL(18,6))
                    - CAST(round(ln((CAST(coalesce(rctf, 0) AS DOUBLE) + 1)
                                    / (rt + rv)), 6) AS DECIMAL(18,6)))) AS s
        FROM tc LEFT JOIN tctf USING (term) LEFT JOIN rctf USING (term)
        CROSS JOIN ttot CROSS JOIN rtot
        GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(coalesce(sc.n_tokens, 0) AS BIGINT) AS n_tokens,
           round(CAST(sc.s AS DOUBLE) / CAST(sc.n_tokens AS DOUBLE), 6)
               AS avg_llr,
           coalesce(round(CAST(sc.s AS DOUBLE)
                          / CAST(sc.n_tokens AS DOUBLE), 6) > 0, false)
               AS keep
    FROM documents d LEFT JOIN scored sc USING (doc_id)
    """.replace("{tok}", _TOK),
)
def doc_importance_resampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance resampling gate (text.importance_llr; Xie
    et al. 2023): every document scored by its mean unigram
    log-likelihood ratio between the src0 target model and the whole
    corpus's background model, ``keep = avg_llr > 0``. The oracle
    recomputes both smoothed models, the rounded per-term ln-ratio,
    the exact-decimal accumulation, and the gate."""
    docs = read_table(spark, sf_dir, "documents")
    target = docs.where(F.col("source") == "src0")
    return T.importance_llr(docs, target)


@register(
    "pretrain_curation_pipeline",
    retired=True,
    oracle=f"""
    WITH base AS (
        SELECT doc_id, source, text, {_TOK} AS tok FROM documents
    ), m AS (
        SELECT doc_id, source, text, CAST(len(tok) AS BIGINT) AS n_tokens,
               round(list_sum(list_transform(tok, t -> length(t)))
                     / nullif(len(tok), 0), 6) AS mean_word_len,
               round((
                 (coalesce(length(text), 0)
                    - coalesce(length(replace(text, '#', '')), 0))
                 + CAST((coalesce(length(text), 0)
                    - coalesce(length(replace(text, '...', '')), 0)) / 3
                   AS BIGINT)
               ) / nullif(len(tok), 0), 6) AS symbol_ratio,
               round(len(list_filter(tok, x -> regexp_matches(x, '[a-z]')))
                     / nullif(len(tok), 0), 6) AS alpha_frac,
               len(list_filter({_G_STOP}, w -> list_contains(tok, w)))
                 AS stop_hits,
               CASE WHEN text IS NULL OR text = '' THEN []::VARCHAR[]
                    ELSE string_split(text, chr(10)) END AS ls
        FROM base
    ), gated AS (
        SELECT doc_id, source, text, n_tokens FROM m
        WHERE coalesce(n_tokens >= {_G_MIN_WORDS} AND n_tokens <= 100000,
                       false)
          AND coalesce(mean_word_len BETWEEN 3.0 AND 10.0, false)
          AND coalesce(symbol_ratio <= 0.1, false)
          AND coalesce(round(len(list_filter(ls, l ->
                    starts_with(trim(l), '-') OR starts_with(trim(l), '*')
                    OR starts_with(trim(l), '•')))
                  / nullif(len(ls), 0), 6) <= 0.9, false)
          AND coalesce(round(len(list_filter(ls, l ->
                    ends_with(trim(l), '...')))
                  / nullif(len(ls), 0), 6) <= 0.3, false)
          AND coalesce(alpha_frac >= 0.8, false)
          AND coalesce(stop_hits >= {_G_MIN_STOP}, false)
    ), deduped AS (
        SELECT doc_id, source, n_tokens FROM (
            SELECT *, row_number() OVER (
                PARTITION BY md5(trim(regexp_replace(lower(text),
                                                     '\\s+', ' ', 'g')))
                ORDER BY doc_id ASC) AS rn
            FROM gated
        ) WHERE rn = 1
    ), per AS (
        SELECT source, CAST(sum(n_tokens) AS BIGINT) AS n_tok
        FROM deduped GROUP BY source
    ), shares AS (
        SELECT source, n_tok,
               pow(n_tok / CAST(sum(n_tok) OVER () AS DOUBLE), 0.7) AS pa,
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
        SELECT d.doc_id, d.source, d.n_tokens,
               r.full_epochs
               + CASE WHEN CAST('0x' ||
                       substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)
                       AS INTEGER) < r.frac_thr THEN 1 ELSE 0 END AS n_epochs
        FROM deduped d JOIN rates r USING (source)
    )
    SELECT doc_id, source, n_tokens, CAST(epoch AS BIGINT) AS epoch FROM (
        SELECT p.doc_id, p.source, p.n_tokens,
               unnest(range(1, p.n_epochs + 1)) AS epoch
        FROM planned p WHERE p.n_epochs > 0
    )
    """,
)
def pretrain_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-6 operators COMPOSED end-to-end the way a pretraining
    run chains them: Gopher doc-quality gate -> exact-dup keep-first ->
    temperature-rebalanced epoch materialization (w ∝ p^0.7 over the
    SURVIVING corpus — mixture weights must be computed after
    filtering/dedup, or removed duplicates still inflate their
    domain's share). Output is the realized training roster:
    (doc_id, source, n_tokens, epoch). Every stage — all seven rule
    booleans, the fingerprint window, the weights, rates, fractional
    draws and epoch rows — is recomputed by the oracle.

    Scale shape: the gate is row-local on the scan; dedup is one
    fingerprint-keyed window; the rate table is a |sources|-row
    aggregate broadcast back for a row-local explode. Text crosses
    exactly one exchange (the dedup window's); everything after moves
    (id, source, count) rows."""
    from pyspark.sql import Window

    from .. import dedup as D

    docs = spread(read_table(spark, sf_dir, "documents"))
    g = T.gopher_rules("text", min_words=_G_MIN_WORDS, min_stop_hits=_G_MIN_STOP)
    gated = docs.select(
        "doc_id",
        "source",
        "text",
        F.size(T.tokens("text")).cast("bigint").alias("n_tokens"),
        g["keep"].alias("__keep"),
    ).where(F.col("__keep"))
    deduped = D.dedup_exact(gated, "text", "doc_id").select(
        "doc_id", "source", "n_tokens"
    )
    per = deduped.groupBy("source").agg(
        F.sum("n_tokens").cast("bigint").alias("__n_tok")
    )
    w = Window.partitionBy()
    p = F.col("__n_tok") / F.sum("__n_tok").over(w).cast("double")
    pa = F.pow(p, F.lit(0.7))
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
        deduped.withColumn("__b", bucket)
        .join(F.broadcast(rates), "source")
        .select(
            "doc_id",
            "source",
            "n_tokens",
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
            "n_tokens",
            F.explode(F.sequence(F.lit(1), F.col("__ne"))).alias("epoch"),
        )
        .select(
            "doc_id", "source", "n_tokens",
            F.col("epoch").cast("bigint").alias("epoch"),
        )
    )


@register(
    "doc_bigram_logprob",
    # NEW r6 retired tier: the context-aware sibling of
    # doc_unigram_logprob — same rounding/decimal discipline, model =
    # the src0 slice, so non-src0 docs exercise unseen-bigram AND
    # unseen-context smoothing.
    retired=True,
    oracle="""
    WITH stok AS (SELECT doc_id, {tok} AS tok FROM documents),
    bgi AS (
        SELECT doc_id, tok,
               unnest(range(1, greatest(len(tok), 1))) AS i
        FROM stok
    ),
    bg AS (
        SELECT doc_id,
               tok[CAST(i AS INT)] AS w1,
               tok[CAST(i + 1 AS INT)] AS w2
        FROM bgi
    ),
    dbg AS (SELECT doc_id, w1, w2, count(*) AS tf FROM bg GROUP BY 1, 2, 3),
    mbg AS (
        SELECT b.w1, b.w2, b.tf
        FROM dbg b JOIN documents d USING (doc_id)
        WHERE d.source = 'src0'
    ),
    c12 AS (SELECT w1, w2, sum(tf) AS c12 FROM mbg GROUP BY 1, 2),
    c1 AS (SELECT w1, sum(tf) AS c1 FROM mbg GROUP BY 1),
    voc AS (
        SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v
        FROM (SELECT w1 AS w FROM mbg UNION ALL SELECT w2 FROM mbg)
    ),
    scored AS (
        SELECT dbg.doc_id,
               sum(dbg.tf) AS n_bigrams,
               sum(CAST(dbg.tf AS DECIMAL(18,0))
                   * CAST(round(-ln((CAST(coalesce(c12.c12, 0) AS DOUBLE) + 1)
                                    / (CAST(coalesce(c1.c1, 0) AS DOUBLE) + v)),
                          6) AS DECIMAL(18,6))) AS s
        FROM dbg
        LEFT JOIN c12 ON dbg.w1 = c12.w1 AND dbg.w2 = c12.w2
        LEFT JOIN c1 ON dbg.w1 = c1.w1
        CROSS JOIN voc
        GROUP BY 1
    )
    SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
           round(CAST(s AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 6)
               AS avg_neg_logprob
    FROM scored
    """.replace("{tok}", _TOK),
)
def doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean negative add-one bigram log-probability per document under
    a src0-slice reference model (text.bigram_logprob): the quality
    signal that catches fluent-word/nonsense-ORDER text a unigram
    model scores as fine. One tokenize pass feeds the per-doc bigram
    counts, the model counts, the context counts, and the broadcast
    1-row vocabulary scalar; docs with < 2 tokens have no bigram and
    are absent, matching the oracle."""
    docs = read_table(spark, sf_dir, "documents")
    return T.bigram_logprob(
        docs, model_df=docs.where(F.col("source") == "src0")
    )


@register(
    "doc_hash_embedding",
    # NEW r6 retired tier: the feature-hashing embedder with every
    # coordinate reproduced in SQL — md5-derived dimension and sign,
    # exact signed integer counts, one rounded normalize. PROMOTED to
    # the active driver tier r7 (rotation policy). RETIRED again r12
    # (VERDICT r11 #4 rotation, five-round-stable): the hashing-trick
    # machinery stays exercised by the tfidf/BM25 rows; oracle stays
    # locally verified.
    retired=True,
    oracle="""
    WITH stok AS (SELECT doc_id, {tok} AS tok FROM documents),
    t AS (SELECT doc_id, unnest(tok) AS term FROM stok),
    h AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(term), 1, 8) AS BIGINT) % 64 AS pos,
               CASE WHEN substr(md5(term), 9, 1) < '8' THEN 1 ELSE -1 END
                   AS sign
        FROM t
    ),
    cell AS (SELECT doc_id, pos, sum(sign) AS raw FROM h GROUP BY 1, 2),
    dense AS (
        SELECT ids.doc_id, CAST(g.i AS BIGINT) AS pos,
               coalesce(c.raw, 0) AS raw
        FROM (SELECT DISTINCT doc_id FROM cell) ids
        CROSS JOIN range(0, 64) g(i)
        LEFT JOIN cell c ON c.doc_id = ids.doc_id AND c.pos = g.i
    ),
    nrm AS (
        SELECT doc_id, sqrt(sum(CAST(raw * raw AS DOUBLE))) AS n
        FROM dense GROUP BY 1
    )
    SELECT dense.doc_id, pos,
           round(CAST(raw AS DOUBLE) / n, 6) AS v
    FROM dense JOIN nrm USING (doc_id)
    WHERE n > 0
    """.replace("{tok}", _TOK),
)
def doc_hash_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text.hash_embed_long over the corpus — (doc_id, pos, v) scalars
    for robust cross-engine comparison (the embedding_standardized
    convention). The Spark plan does one md5 pass per exploded token
    (codegen, not a transform() lambda) then TWO COMPACT INTEGER
    shuffles — a (doc, dim) signed-count aggregate (<= dim rows/doc,
    ~24 bytes/row; the text never shuffles) and a per-doc map collect
    that also computes the norm in-aggregate — and a HOF-free densify
    (literal-sequence explode + codegen map lookup). Exploding the
    ARRAY form instead re-evaluates interpreted lambdas under the
    Generate (measured 7.5s vs 2.0s at sf0.1, r7); the 170+ s
    zero-shuffle HOF-fold first cut is documented at text.hash_embed.
    The oracle takes the explode/group/densify route; agreement (plus
    the long==array equality test) proves both tails compute the
    textbook hashed vector. This is the model-free bridge from text
    into the vector operators (cosine/LSH/SemDeDup/PCA/RRF), so its
    coordinates being oracle-exact matters downstream."""
    docs = read_table(spark, sf_dir, "documents")
    return T.hash_embed_long(docs)
