"""Deduplication extension queries over ``documents`` (BASELINE.json
north star: exact hash-groupBy, n-gram Jaccard, MinHash+LSH, SimHash).

Every hash is md5 so the DuckDB oracle reproduces signatures, band
hashes and SimHash values bit-for-bit — the comparison verifies the
dedup math itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import dedup as D
from ..io import read_table
from .registry import register

# DuckDB fragments mirroring text.tokens / dedup.word_shingles (k=3)
from .duckfrag import SHINGLES_K3 as _SHINGLES  # noqa: E402
from .duckfrag import TOK as _TOK  # noqa: E402
_SH_CTE = f"""
    tok AS (SELECT doc_id, {_TOK} AS tok FROM documents),
    sh AS (
        SELECT doc_id, unnest({_SHINGLES}) AS shingle
        FROM tok
    ),
    sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        FROM sh a JOIN sh b USING (shingle)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    jac AS (
        SELECT doc_a, doc_b, common,
               x.n_shingles AS size_a, y.n_shingles AS size_b,
               round(common / (x.n_shingles + y.n_shingles - common), 6) AS jaccard
        FROM common
        JOIN sizes x ON common.doc_a = x.doc_id
        JOIN sizes y ON common.doc_b = y.doc_id
    )
"""


@register(
    "dedup_exact_keep_first",
    # r13 second rotation: retired (driver-green since r1) to fund the
    # tar-shard container promotion; oracle intact, still swept
    retired=True,
    oracle="""
    SELECT doc_id, lang, source, n_chars FROM (
        SELECT d.*, row_number() OVER (
            PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
            ORDER BY doc_id ASC) AS rn
        FROM documents d
    ) WHERE rn = 1
    """,
)
def dedup_exact_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one survivor (lowest doc_id) per content
    fingerprint. One shuffle on the fingerprint — the md5 key is
    uniformly distributed, so no skew at any corpus size."""
    docs = read_table(spark, sf_dir, "documents")
    return D.dedup_exact(docs, "text", "doc_id").select(
        "doc_id", "lang", "source", "n_chars"
    )


@register(
    "ngram_jaccard_near_dups",
    f"""
    WITH {_SH_CTE}
    SELECT doc_a, doc_b, jaccard
    FROM jac WHERE jaccard >= 0.2
    """,
)
def ngram_jaccard_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard >= 0.2 via shingle inverted index.

    The library also ships ``dedup.jaccard_pairs_prefix`` (AllPairs/
    PPJoin prefix filtering, output-identical — proven by
    tests/test_dedup.py::test_prefix_filter_equals_inverted_index).
    Prefix filtering wins on Zipfian real-world corpora where a few
    stop-shingles generate most candidate pairs; THIS synthetic corpus
    draws from a tiny uniform vocabulary, so prefixes barely prune and
    the plain inverted index benches ~2x faster — measured, not
    assumed, hence the choice here."""
    docs = read_table(spark, sf_dir, "documents")
    return D.jaccard_pairs(docs, "text", "doc_id", k=3, threshold=0.2).select(
        "doc_a", "doc_b", "jaccard"
    )


_MINHASH_SEEDS = 16
_BANDS = 4
_ROWS = _MINHASH_SEEDS // _BANDS

_SIG_SQL = (
    "["
    + ", ".join(
        f"list_aggregate(list_transform(shingles, s -> md5('{i}|' || s)), 'min')"
        for i in range(_MINHASH_SEEDS)
    )
    + "]"
)
_BANDS_SQL = ", ".join(
    f"md5(array_to_string(sig[{b * _ROWS + 1}:{b * _ROWS + _ROWS}], ',')) AS bh_{b}"
    for b in range(_BANDS)
)
_BAND_UNION = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, bh_{b} AS band_hash FROM banded"
    for b in range(_BANDS)
)


@register(
    "minhash_lsh_near_dups",
    f"""
    WITH {_SH_CTE},
    shs AS (SELECT doc_id, {_SHINGLES} AS shingles FROM tok),
    sigs AS (SELECT doc_id, {_SIG_SQL} AS sig FROM shs WHERE len(shingles) > 0),
    banded AS (SELECT doc_id, {_BANDS_SQL} FROM sigs),
    bands AS ({_BAND_UNION}),
    candidates AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b USING (band, band_hash)
        WHERE a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b, j.jaccard
    FROM candidates c JOIN jac j USING (doc_a, doc_b)
    WHERE j.jaccard >= 0.2
    """,
)
def minhash_lsh_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16)+LSH(4 bands) candidates, exact-Jaccard verified at
    0.2. The oracle recomputes the full signature/banding pipeline in
    SQL — both engines agree on every md5, so the candidate sets match
    exactly, not just statistically."""
    docs = read_table(spark, sf_dir, "documents")
    return D.minhash_near_dups(
        docs,
        "text",
        "doc_id",
        k=3,
        num_hashes=_MINHASH_SEEDS,
        num_bands=_BANDS,
        threshold=0.2,
    )


@register(
    "simhash_by_doc",
    # r13 second rotation: retired (driver-green since r2) to fund the
    # NFC canonical-key promotion; oracle intact, still swept
    retired=True,
    oracle=f"""
    WITH base AS (SELECT doc_id, {_TOK} AS tok FROM documents)
    SELECT doc_id,
           CASE WHEN len(tok) = 0 THEN NULL
                ELSE CAST(list_sum(list_transform(range(0, 32), j ->
                    CASE WHEN list_sum(list_transform(tok, t ->
                            2 * ((CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) >> j) & 1) - 1
                         )) > 0
                         THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT)
           END AS simhash
    FROM base
    """,
)
def simhash_by_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document (md5-derived token hashes -> per-bit
    sign sums). Near-dup = small Hamming distance; the per-doc value is
    the oracle-checkable unit."""
    from ..relational import spread

    docs = spread(read_table(spark, sf_dir, "documents"))
    hashed = docs.select("doc_id", D.token_hashes32("text").alias("__h"))
    return hashed.select(
        "doc_id", D.simhash_from_hashes(F.col("__h")).alias("simhash")
    )


# word 4-grams for the REGISTERED query: real pipelines use 8-13-gram
# collision (the library default is k=8), but this synthetic corpus has
# no verbatim 8-gram leakage across its doc_id%97 split — k=4 is the
# longest n-gram that produces non-trivial contamination evidence here
_SHINGLES4 = (
    "CASE WHEN len(tok) = 0 THEN []::VARCHAR[] ELSE list_distinct("
    "list_transform(range(1, greatest(len(tok) - 3, 1) + 1), "
    "i -> array_to_string(tok[i:i+3], ' '))) END"
)


@register(
    "decontaminate_docs",
    f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS tok FROM documents),
    sh AS (SELECT doc_id, unnest({_SHINGLES4}) AS shingle FROM tok),
    ev AS (SELECT doc_id AS eval_id, shingle FROM sh WHERE doc_id % 97 = 0),
    tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 97 <> 0)
    SELECT tr.doc_id,
           CAST(count(DISTINCT ev.eval_id) AS BIGINT) AS n_eval_docs,
           CAST(count(DISTINCT tr.shingle) AS BIGINT) AS n_shared_ngrams
    FROM tr JOIN ev USING (shingle)
    GROUP BY tr.doc_id
    """,
)
def decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination over ``documents``: train docs (doc_id
    % 97 != 0) sharing any word 4-gram with the held-out eval slice
    (doc_id % 97 == 0). The eval (shingle, eval_id) table broadcasts —
    at 100 TB the train side streams through one tokenize pass + one
    broadcast join + one map-side-combinable aggregation, never
    shuffling text."""
    docs = read_table(spark, sf_dir, "documents")
    part = F.col("doc_id") % 97 == 0
    return D.decontaminate(
        docs.where(~part), docs.where(part), "text", "doc_id", k=4
    )


_COS_SQL = (
    "round(list_sum(list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / "
    "(sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * "
    "sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)"
)

_SIMHASH_SQL = (
    "CASE WHEN len(tok) = 0 THEN NULL "
    "ELSE CAST(list_sum(list_transform(range(0, 32), j -> "
    "CASE WHEN list_sum(list_transform(tok, t -> "
    "2 * ((CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) >> j) & 1) - 1"
    ")) > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) END"
)


@register(
    "near_dup_committee_pairs",
    # Retired-tier BREADTH query: the multi-signal consensus verified
    # on every pytest run — jaccard membership, embedding cosine,
    # SimHash Hamming, and the vote count all recomputed in SQL.
    retired=True,
    oracle=f"""
    WITH {{sh_cte}},
    jp AS (SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= 0.2),
    ep AS (
        SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
               {_COS_SQL.format(a='a.embedding', b='b.embedding')} AS cos_sim
        FROM embeddings a CROSS JOIN embeddings b
        WHERE a.vec_id < b.vec_id
    ),
    epf AS (SELECT * FROM ep WHERE cos_sim >= 0.4),
    cand AS (
        SELECT coalesce(jp.doc_a, epf.doc_a) AS doc_a,
               coalesce(jp.doc_b, epf.doc_b) AS doc_b,
               jp.jaccard, epf.cos_sim
        FROM jp FULL OUTER JOIN epf
          ON jp.doc_a = epf.doc_a AND jp.doc_b = epf.doc_b
    ),
    sims AS (
        SELECT doc_id, {_SIMHASH_SQL} AS simhash
        FROM (SELECT doc_id, {{tok}} AS tok FROM documents)
    ),
    scored AS (
        SELECT c.doc_a, c.doc_b, c.jaccard, c.cos_sim,
               CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INT) AS hamming
        FROM cand c
        LEFT JOIN sims sa ON c.doc_a = sa.doc_id
        LEFT JOIN sims sb ON c.doc_b = sb.doc_id
    )
    SELECT doc_a, doc_b, jaccard, cos_sim, hamming,
           jaccard IS NOT NULL AS sig_jaccard,
           cos_sim IS NOT NULL AS sig_embedding,
           coalesce(hamming <= 8, FALSE) AS sig_simhash,
           CAST(CAST(jaccard IS NOT NULL AS INT)
                + CAST(cos_sim IS NOT NULL AS INT)
                + CAST(coalesce(hamming <= 8, FALSE) AS INT) AS INT)
               AS n_signals
    FROM scored
    """.replace("{sh_cte}", _SH_CTE).replace("{tok}", _TOK),
)
def near_dup_committee_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup.near_dup_committee over documents + embeddings
    (doc_id = vec_id): lexical Jaccard and blocked embedding cosine
    PROPOSE candidate pairs, SimHash Hamming SCORES every proposal, and
    the vote count ships with per-signal booleans — the conservative
    n_signals >= 2 slice feeds cluster resolution, the single-signal
    tail is the threshold-tuning audit. Every signal and the vote are
    recomputed by the oracle."""
    docs = read_table(spark, sf_dir, "documents")
    emb = read_table(spark, sf_dir, "embeddings")
    from ..io import table_row_hint

    return D.near_dup_committee(
        docs,
        emb,
        approx_rows=table_row_hint(sf_dir, "embeddings"),
    )


@register(
    "conservative_dedup_keep",
    # Retired-tier BREADTH query: the full dedup DECISION pipeline —
    # multi-signal vote -> transitive closure -> canonical survivors —
    # verified end-to-end on every pytest run (committee signals, the
    # recursive closure, and every per-document keep verdict all
    # recomputed in SQL).
    retired=True,
    oracle=f"""
    WITH RECURSIVE {{sh_cte}},
    jp AS (SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= 0.2),
    ep AS (
        SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
               {_COS_SQL.format(a='a.embedding', b='b.embedding')} AS cos_sim
        FROM embeddings a CROSS JOIN embeddings b
        WHERE a.vec_id < b.vec_id
    ),
    epf AS (SELECT doc_a, doc_b, cos_sim FROM ep WHERE cos_sim >= 0.4),
    cand AS (
        SELECT coalesce(jp.doc_a, epf.doc_a) AS doc_a,
               coalesce(jp.doc_b, epf.doc_b) AS doc_b,
               jp.jaccard, epf.cos_sim
        FROM jp FULL OUTER JOIN epf
          ON jp.doc_a = epf.doc_a AND jp.doc_b = epf.doc_b
    ),
    sims AS (
        SELECT doc_id, {_SIMHASH_SQL} AS simhash
        FROM (SELECT doc_id, {{tok}} AS tok FROM documents)
    ),
    voted AS (
        SELECT c.doc_a, c.doc_b
        FROM cand c
        LEFT JOIN sims sa ON c.doc_a = sa.doc_id
        LEFT JOIN sims sb ON c.doc_b = sb.doc_id
        WHERE CAST(c.jaccard IS NOT NULL AS INT)
              + CAST(c.cos_sim IS NOT NULL AS INT)
              + CAST(coalesce(
                    bit_count(xor(sa.simhash, sb.simhash)) <= 8, FALSE)
                AS INT) >= 2
    ),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM voted
        UNION
        SELECT doc_b, doc_a FROM voted
    ),
    reach(n, m) AS (
        SELECT u, u FROM edges
        UNION
        SELECT r.n, e.v FROM reach r JOIN edges e ON r.m = e.u
    ),
    clusters AS (
        SELECT n AS doc_id, CAST(min(m) AS BIGINT) AS cluster_id
        FROM reach GROUP BY n
    )
    SELECT d.doc_id, c.cluster_id,
           c.cluster_id IS NULL OR c.cluster_id = d.doc_id AS keep
    FROM documents d LEFT JOIN clusters c USING (doc_id)
    """.replace("{sh_cte}", _SH_CTE).replace("{tok}", _TOK),
)
def conservative_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION, end to end: committee pairs with >= 2
    agreeing signals (lexical + semantic + bit-level consensus — the
    conservative slice) resolve through connected components, and each
    document gets its verdict: singletons keep, each cluster keeps its
    canonical min-id member. This is the query a curation pipeline
    actually materializes — per-document keep bits, not pair lists —
    and the oracle recomputes vote, closure, and verdict declaratively."""
    docs = read_table(spark, sf_dir, "documents")
    emb = read_table(spark, sf_dir, "embeddings")
    from ..io import table_row_hint

    committee = D.near_dup_committee(
        docs,
        emb,
        approx_rows=table_row_hint(sf_dir, "embeddings"),
        min_signals=2,
    )
    clusters = D.near_dup_clusters(committee.select("doc_a", "doc_b"))
    return docs.select("doc_id").join(clusters, "doc_id", "left").select(
        "doc_id",
        "cluster_id",
        (
            F.col("cluster_id").isNull()
            | (F.col("cluster_id") == F.col("doc_id"))
        ).alias("keep"),
    )


@register(
    "dedup_repeated_spans",
    # ACTIVE (r5, swapped in for the two-round-stable
    # winnowing_shared_fingerprints): cross-document repeated-span
    # removal — segmentation, the corpus-wide keep-first rule, and
    # the document REASSEMBLY (string equality of the rebuilt text)
    # all recomputed in DuckDB.
    oracle="""
    WITH tok AS (SELECT doc_id, {tok} AS tok FROM documents
                 WHERE {tok} != []::VARCHAR[]),
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
    ),
    segrows AS (
        SELECT doc_id, CAST(i AS INT) AS seg_idx,
               array_to_string(tok[segs[i + 1][1] + 1 : segs[i + 1][2]], ' ')
                   AS seg_text,
               CAST(segs[i + 1][2] - segs[i + 1][1] AS BIGINT)
                   AS n_seg_tokens
        FROM se, unnest(range(0, len(segs))) AS t(i)
    ),
    marked AS (
        SELECT *,
               row_number() OVER (PARTITION BY md5(seg_text)
                                  ORDER BY doc_id, seg_idx) = 1 AS keep
        FROM segrows
    ),
    agg AS (
        SELECT doc_id,
               coalesce(string_agg(CASE WHEN keep THEN seg_text END, ' '
                                   ORDER BY seg_idx), '') AS text_dedup,
               CAST(count(*) AS BIGINT) AS n_segs,
               CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_segs_removed,
               CAST(coalesce(sum(CASE WHEN NOT keep THEN n_seg_tokens END),
                             0) AS BIGINT) AS n_tokens_removed
        FROM marked GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(a.text_dedup, '') AS text_dedup,
           coalesce(a.n_segs, 0) AS n_segs,
           coalesce(a.n_segs_removed, 0) AS n_segs_removed,
           coalesce(a.n_tokens_removed, 0) AS n_tokens_removed
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """.replace("{tok}", _TOK),
)
def dedup_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup.dedup_spans over ``documents``: the distributed stand-in
    for exact-substring dedup (Lee et al., arXiv:2107.06499) — cut
    every document into content-defined segments (shift-robust
    word-level FastCDC), keep the FIRST corpus-wide occurrence of each
    segment, and REBUILD each document from its surviving spans. Two
    shuffles (md5 segment hash, then doc_id), no driver action, no
    quadratic stage — where the paper's suffix array is single-machine
    by construction."""
    docs = read_table(spark, sf_dir, "documents")
    return D.dedup_spans(docs, "text", "doc_id", avg_tokens=8)


# Planted boilerplate for the line-removal gate: two template lines
# salted into large residue classes (~1/2 and ~1/3 of the corpus), far
# above the min_docs=10 threshold; the organic 8-token word-soup lines
# sit far below it.
_NEWS_LINE = "subscribe to our newsletter for updates."
_RIGHTS_LINE = "all rights reserved by the site owner."


@register(
    "boilerplate_line_removal",
    # PROMOTED to the active driver tier r7 (rotation policy: r6 families
    # earn a green driver row before settling into the retired tier).
    oracle=f"""
    WITH b AS (
        SELECT doc_id, {_TOK} AS tok FROM documents
    ), built AS (
        SELECT doc_id,
               list_concat(
                 CASE WHEN len(tok) = 0 THEN []::VARCHAR[]
                      ELSE list_transform(
                             range(0, CAST(ceil(len(tok) / 8.0) AS INT)),
                             i -> array_to_string(tok[i*8+1 : i*8+8], ' ')
                                  || '.')
                 END,
                 list_concat(
                   CASE WHEN doc_id % 2 = 0 THEN ['{_NEWS_LINE}']
                        ELSE []::VARCHAR[] END,
                   CASE WHEN doc_id % 3 = 0 THEN ['{_RIGHTS_LINE}']
                        ELSE []::VARCHAR[] END)) AS ls
        FROM b
    ), lines AS (
        SELECT doc_id, CAST(t.i AS BIGINT) AS line_idx,
               ls[CAST(t.i + 1 AS INT)] AS line,
               md5(trim(regexp_replace(lower(ls[CAST(t.i + 1 AS INT)]),
                                       '\\s+', ' ', 'g'))) AS k
        FROM built, unnest(range(0, len(ls))) AS t(i)
    ), freq AS (
        SELECT k, count(DISTINCT doc_id) AS nd FROM lines GROUP BY k
    ), flagged AS (
        SELECT l.doc_id, l.line_idx, l.line,
               coalesce(f.nd >= 10, false) AS bp
        FROM lines l LEFT JOIN freq f USING (k)
    ), agg AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CASE WHEN bp THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_removed,
               array_to_string(
                 list(line ORDER BY line_idx) FILTER (WHERE NOT bp),
                 chr(10)) AS cleaned
        FROM flagged GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(a.cleaned, '') AS cleaned_text,
           coalesce(a.n_lines, 0) AS n_lines,
           coalesce(a.n_removed, 0) AS n_removed
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def boilerplate_line_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup.dedup_boilerplate_lines over a planted multi-line fixture:
    the single-line docs are re-cut into 8-token lines and salted with
    two template lines landing in ~1/2 and ~1/3 of the corpus — both
    far above the 10-distinct-doc threshold, so they vanish from every
    document while the organic lines survive. The REBUILT text is the
    verified value, byte-for-byte, with per-doc line/removal counts."""
    from ..relational import spread

    from .. import text as T

    docs = spread(read_table(spark, sf_dir, "documents"))
    tok = F.col("__tok")
    staged = docs.select("doc_id", T.tokens("text").alias("__tok"))
    n = F.size("__tok")
    m = F.ceil(n / F.lit(8.0)).cast("int")
    empty = F.array().cast("array<string>")
    base = F.when(n == 0, empty).otherwise(
        F.transform(
            F.sequence(F.lit(0), m - 1),
            lambda i: F.concat(
                F.array_join(F.slice(tok, i * 8 + 1, 8), " "), F.lit(".")
            ),
        )
    )

    def plant(mod: int, line: str):
        return F.when(
            F.col("doc_id") % mod == 0, F.array(F.lit(line))
        ).otherwise(empty)

    lines = F.concat(base, plant(2, _NEWS_LINE), plant(3, _RIGHTS_LINE))
    fixture = staged.select(
        "doc_id", F.array_join(lines, "\n").alias("text")
    )
    return D.dedup_boilerplate_lines(fixture, "text", "doc_id", min_docs=10)


@register(
    "near_dup_quality_keep",
    # NEW r6, PROMOTED to an active driver slot on registration day
    # (rotation policy: new code earns driver rows) — funded by
    # retiring near_dup_doc_clusters, which this query strictly
    # SUPERSETS (same transitive closure, plus the quality score and
    # the argmax keep decision, all in the one oracle).
    oracle=f"""
    WITH RECURSIVE {_SH_CTE},
    np AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.2),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM np
        UNION
        SELECT doc_b, doc_a FROM np
    ),
    reach(n, m) AS (
        SELECT u, u FROM edges
        UNION
        SELECT r.n, e.v FROM reach r JOIN edges e ON r.m = e.u
    ),
    clusters AS (
        SELECT n AS doc_id, CAST(min(m) AS BIGINT) AS cluster_id
        FROM reach GROUP BY n
    ),
    quality AS (
        SELECT doc_id,
               CAST(len(list_distinct(tok)) AS BIGINT) AS n_unique_tokens
        FROM tok
    )
    SELECT doc_id, cluster_id, n_unique_tokens,
           row_number() OVER (
               PARTITION BY cluster_id
               ORDER BY n_unique_tokens DESC, doc_id ASC) = 1 AS keep
    FROM clusters JOIN quality USING (doc_id)
    """,
)
def near_dup_quality_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-argmax dedup decision (dedup.quality_keep): the same
    3-gram-Jaccard components as dedup.near_dup_clusters, but the
    survivor is the member with the RICHEST vocabulary (distinct-token
    count; doc_id ASC tiebreak) rather than the lowest id — the policy
    a curation pipeline actually wants, since near-dup groups mix a
    clean original with truncated copies. The oracle recomputes the
    transitive closure (recursive CTE), the quality score, and the
    argmax window, so the full decision surface is hash-checked.
    """
    from .. import text as T

    docs = read_table(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(docs, "text", "doc_id", k=3, threshold=0.2)
    scores = docs.select(
        "doc_id",
        F.array_size(F.array_distinct(T.tokens("text"))).cast("bigint").alias(
            "n_unique_tokens"
        ),
    )
    return D.quality_keep(
        pairs.select("doc_a", "doc_b"), scores, "doc_id", "n_unique_tokens"
    )
