"""Exact and near-duplicate detection for LLM training corpora.

Five operators, all expressed as DataFrame plans (no UDFs):

- exact:    md5-fingerprint groupBy (``text.fingerprint``)
- jaccard:  word-shingle inverted index self-join -> exact n-gram
            Jaccard >= threshold
- minhash:  md5-based MinHash signatures + LSH banding -> candidate
            pairs via band-bucket join -> exact-Jaccard verification
- simhash:  32-bit md5-derived SimHash per document (near-dup =
            small Hamming distance)

Scale shape: everything pivots on ``explode`` + equi-join — the
inverted-index pattern. The all-pairs O(n^2) comparison never appears;
candidate generation is |docs| x shingles (jaccard) or |docs| x bands
(LSH), and the shuffle key is the shingle/band hash, which AQE
re-splits if a hot shingle skews (stopword-heavy shingles are capped
by ``max_df`` document-frequency pruning, the standard trick).

Cross-engine determinism: every hash whose VALUE reaches an output or
ordering is md5 (identical hex everywhere), and MinHash minimizes the
md5 *hex string* lexicographically — a valid uniform min-hash that
needs no engine-specific 64-bit integer coercion. Purely INTERNAL
grouping/join keys (the shingle inverted index, boilerplate line keys)
use xxhash64 instead — 8-byte fixed-width keys, ~4x narrower shuffles,
same groups.
Reference parity note: the reference has no dedup at all; this is the
north-star extension surface (BASELINE.json).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import fingerprint, tokens

__all__ = [
    "shingles_from_tokens",
    "word_shingles",
    "exact_dup_groups",
    "dedup_exact",
    "jaccard_pairs",
    "jaccard_pairs_prefix",
    "signature_from_shingles",
    "minhash_signature",
    "lsh_bands",
    "minhash_near_dups",
    "token_hashes32",
    "simhash_from_hashes",
    "simhash_from_hashes_hof",
    "simhash32",
    "decontaminate",
    "near_dup_clusters",
    "near_dup_committee",
    "dedup_spans",
    "near_dup_incremental",
    "plan_lsh",
    "quality_keep",
]


def shingles_from_tokens(tok: Column, k: int = 3) -> Column:
    """Distinct word k-shingles from a token-array COLUMN. Pipelines
    stage tokens -> shingles -> signatures as separate projections:
    re-deriving shingles from raw text inside every one of 16 minhash
    expressions re-inlines the whole tokenizer 16x (CollapseProject
    keeps multi-referenced non-trivial aliases staged, so a select
    boundary really does evaluate once)."""
    n = F.size(tok)
    shingled = F.transform(
        F.sequence(F.lit(1), F.greatest(n - k + 1, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(tok, i, k)),
    )
    return F.when(n > 0, F.array_distinct(shingled)).otherwise(
        F.array().cast("array<string>")
    )


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """Distinct word k-shingles ('n-grams') of the normalized text.
    Documents shorter than k tokens yield their full token join (one
    shingle) so short docs still participate."""
    tok = tokens(text)
    n = F.size(tok)
    # greatest(..., 1): docs with n <= k produce one full-text shingle;
    # also keeps sequence()/slice() args valid — when/otherwise does NOT
    # short-circuit, so the transform is evaluated even for empty docs
    shingled = F.transform(
        F.sequence(F.lit(1), F.greatest(n - k + 1, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(tok, i, k)),
    )
    return F.when(n > 0, F.array_distinct(shingled)).otherwise(
        F.array().cast("array<string>")
    )


def exact_dup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Groups of byte-identical (modulo case/whitespace) documents:
    ``(fingerprint, n_docs, canonical_id)`` for groups with >= 2 docs."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("canonical_id"),
        )
        .where(F.col("n_docs") >= 2)
    )


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one document per fingerprint (lowest id wins) — the
    hash-groupBy exact dedup. One shuffle on the fingerprint."""
    from .relational import top_k_per_group

    with_fp = df.withColumn("fingerprint", fingerprint(text_col))
    return top_k_per_group(
        with_fp, ["fingerprint"], [F.asc(id_col)], k=1
    ).drop("fingerprint")


def _doc_shingle_sets(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """(doc_id, shingles array) with tokenization staged once and the
    input spread across cores first (a single-file corpus otherwise
    tokenizes on one core)."""
    from .relational import spread

    tok_df = spread(df.select(F.col(id_col).alias("doc_id"), F.col(text_col))).select(
        "doc_id", tokens(text_col).alias("__tok")
    )
    return tok_df.select(
        "doc_id", shingles_from_tokens(F.col("__tok"), k).alias("shingles")
    )


def _doc_shingles(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """(doc_id, shingle) exploded — via ``explode_outer`` + a
    post-generate null filter, NOT plain ``explode``. From a bare
    explode, InferFiltersFromGenerate derives ``size(shingles) > 0``,
    inlines the whole tokenize+shingle expression tree into that
    filter, and pushes it below the ``spread`` Exchange — re-running
    the full shingle pipeline IN THE SINGLE-TASK SCAN STAGE (measured
    7s of a 8.3s query at sf0.1; 0.5s with the outer form). The outer
    variant yields one (doc_id, NULL) row for empty docs, filtered on
    the generate's OUTPUT column, which nothing can push down."""
    return (
        _doc_shingle_sets(df, text_col, id_col, k)
        .select("doc_id", F.explode_outer("shingles").alias("shingle"))
        .where(F.col("shingle").isNotNull())
    )


def dedup_incremental(
    new_docs: DataFrame,
    seen_fingerprints: DataFrame,
    text_col: str = "text",
    *,
    id_col: str = "doc_id",
    fingerprint_col: str = "fingerprint",
) -> DataFrame:
    """Incremental exact dedup: drop arriving documents whose content
    fingerprint is already in the historical store, then dedup the
    batch against itself — how a pipeline that refreshes its corpus
    (new crawl snapshot, daily feed) avoids re-running dedup over all
    of history. The store is just the ``(fingerprint)`` table each run
    appends (io.overwrite_partitions makes the append idempotent).

    Scale shape: an anti join keyed on the md5 fingerprint — uniform
    key, no skew; Spark picks broadcast when the store's distinct-key
    projection fits, shuffle-hash otherwise — followed by the standard
    within-batch keep-first. The history side streams ONLY its
    fingerprint column (column pruning: never the stored text).

    Returns the surviving new rows, with ``fingerprint_col`` attached
    so the caller can append exactly these fingerprints to the store.

    NULL-text rows hash to the sentinel ``__null_text__`` instead of a
    NULL fingerprint: a NULL key matches nothing in the anti join, so
    such rows would be re-emitted as fresh on EVERY run even after
    their fingerprint was appended, while still collapsing to one
    survivor within a batch — inconsistent cross-run vs within-batch
    behavior. With the sentinel, NULL-text rows dedup exactly like any
    other content group (one survivor ever, matching dedup_exact's
    within-batch rule), and the sentinel can never collide with a real
    md5 hex digest.
    """
    from pyspark.sql.window import Window

    from .text import fingerprint as _fp

    staged = new_docs.withColumn(
        fingerprint_col, F.coalesce(_fp(text_col), F.lit("__null_text__"))
    )
    store = seen_fingerprints.select(F.col(fingerprint_col)).distinct()
    fresh = staged.join(store, [fingerprint_col], "left_anti")
    # deterministic keep-first within the batch, same rule as
    # dedup_exact: lowest id wins on self-duplicates (an explicit
    # unique id column — ordering by an arbitrary column would make
    # the survivor partitioning-dependent on ties)
    w_first = Window.partitionBy(fingerprint_col).orderBy(F.col(id_col))
    return (
        fresh.withColumn("__rn", F.row_number().over(w_first))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def duplicated_shingle_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    persist_shingles: bool = True,
) -> DataFrame:
    """Per-document corpus-duplication profile: of each document's
    DISTINCT word ``k``-shingles, how many occur in at least one OTHER
    document — the RefinedWeb/Gopher-style "duplicated n-gram
    fraction" filter signal, computed corpus-wide (unlike
    ``repetition_metrics``, which is within-document).

    Scale shape: one tokenize+shingle pass feeding TWO consumers (the
    global shingle document-frequency aggregate and the join-back), so
    the exploded (doc, shingle) table persists; shingles are distinct
    per doc, so ``count(*)`` per shingle IS its document frequency and
    the aggregate is map-side combinable. The join back is keyed on
    the shingle hash — row-preserving (each row meets exactly one
    frequency row), so a stop-shingle's popularity costs join fan-in,
    never fan-OUT; the final per-doc aggregate combines map-side.
    Nothing broadcasts: at 100 TB the frequency table is
    vocabulary-sized, and AQE may still elect a broadcast at small SF.

    Returns ``(doc_id, n_shingles, n_dup_shingles, dup_frac)`` —
    documents with no shingles (empty text) are absent, as in the
    shingle-based pair operators.
    """
    # shuffle the 8-byte xxhash64 of each shingle, not the string —
    # same discipline (and collision math) as jaccard_pairs; only
    # counts are emitted, so results are unchanged
    sh = _doc_shingles(df, text_col, id_col, k).select(
        "doc_id", F.xxhash64("shingle").alias("shingle")
    )
    if persist_shingles:
        # eager + lineage-truncating (r13): the two consumers below are
        # planned as concurrent AQE stages and raced the cold cache —
        # see relational.materialize_intermediate
        from .relational import materialize_intermediate

        sh = materialize_intermediate(sh)
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    return (
        sh.join(dfreq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(F.when(F.col("__df") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_shingles"),
        )
        .withColumn(
            "dup_frac",
            F.round(
                F.col("n_dup_shingles").cast("double")
                / F.col("n_shingles").cast("double"),
                6,
            ),
        )
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    persist_intermediates: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard similarity via shingle inverted index.

    ``persist_intermediates`` caches the per-doc shingle-ARRAY stage
    (one row per doc), which feeds both the exploded self-join input
    and the ``sizes`` branch. WHAT gets persisted matters: the self-
    join's two sides are identical subtrees that Spark already dedupes
    via ReusedExchange — persisting the EXPLODED table replaces that
    with two cache scans and measured ~3x slower. But ``sizes`` is a
    *different* subtree; uncached it re-runs the tokenizer over the
    corpus per consumer. Persisting the compact array stage keeps the
    ReusedExchange AND kills the re-tokenize — measured 5x end-to-end
    at sf0.1. Disable if per-doc shingle arrays exceed cluster
    memory+disk cache.

    ``|A ∩ B|`` comes from the self-join on shingle; ``|A ∪ B|`` =
    |A| + |B| - common. Only pairs sharing >= 1 shingle are ever
    materialized. ``max_df`` drops shingles appearing in more than
    that many documents (stop-shingles produce quadratic candidate
    blowup for near-zero signal — prune before the join).

    Returns ``(doc_a, doc_b, common, size_a, size_b, jaccard)`` with
    ``doc_a < doc_b`` and jaccard rounded to 6.
    """
    sh_sets = _doc_shingle_sets(df, text_col, id_col, k)
    if persist_intermediates:
        from .relational import materialize_intermediate

        # eager=False (r14, VERDICT r13 #1): the self-join sides share
        # ONE subtree via ReusedExchange and the only other consumer is
        # the cheap sizes projection; the driver's quiet bench showed
        # the r13 eager checkpoint a net loss here (ngram_jaccard
        # 1.62→1.80s at sf0.1). Lazy persist restores the benched-green
        # pre-r13 behavior.
        sh_sets = materialize_intermediate(sh_sets, eager=False)
    # join key = 64-bit hash of the shingle, not the string: halves the
    # shuffle bytes and makes comparisons fixed-width. Engine-internal
    # only — outputs carry counts, never the hashed key. (xxhash64
    # collisions at ~1e-13 for any realistic shingle population.)
    # explode_outer + null filter, not explode: see _doc_shingles — the
    # inferred size()>0 filter would re-run the shingle pipeline below
    # the exchange when the persist barrier is disabled
    sh = (
        sh_sets.select("doc_id", F.explode_outer("shingles").alias("__shingle_str"))
        .where(F.col("__shingle_str").isNotNull())
        .select("doc_id", F.xxhash64("__shingle_str").alias("shingle"))
    )
    if max_df is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.countDistinct("doc_id").alias("df"))
            .where(F.col("df") <= max_df)
            .select("shingle")
        )
        sh = sh.join(rare, "shingle")
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    else:
        # set sizes straight off the arrays — no explode+reshuffle pass
        sizes = sh_sets.select(
            "doc_id", F.size("shingles").cast("bigint").alias("n_shingles")
        ).where(F.col("n_shingles") > 0)

    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    out = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("common")
                / (F.col("size_a") + F.col("size_b") - F.col("common")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return out.select("doc_a", "doc_b", "common", "size_a", "size_b", "jaccard")


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
    persist_intermediates: bool = True,
) -> DataFrame:
    """Asymmetric near-dup: shingle CONTAINMENT ``|A∩B| / |A|`` per
    direction, keeping pairs where either direction reaches
    ``threshold`` — the metric that catches a document EMBEDDED in a
    larger one (quote-expansion, boilerplate wrapping, page-in-page
    scrapes), which symmetric Jaccard scores near zero when the sizes
    differ a lot (A ⊂ B with |B| = 10|A| has jaccard 0.1 but
    containment_a 1.0).

    Same machinery and scale shape as :func:`jaccard_pairs` (one
    persisted shingle-array stage, hashed inverted-index self-join,
    ``max_df`` stop-shingle pruning); only the final score/filter
    differs, and the filter compares the ROUNDED scores so an external
    SQL engine reproduces the kept set exactly.

    Returns ``(doc_a, doc_b, common, size_a, size_b, containment_a,
    containment_b)`` with ``doc_a < doc_b``.
    """
    pairs = jaccard_pairs(
        df,
        text_col,
        id_col,
        k=k,
        threshold=0.0,
        max_df=max_df,
        persist_intermediates=persist_intermediates,
    )
    cont_a = F.round(F.col("common") / F.col("size_a"), 6)
    cont_b = F.round(F.col("common") / F.col("size_b"), 6)
    return (
        pairs.withColumn("containment_a", cont_a)
        .withColumn("containment_b", cont_b)
        .where(
            F.greatest(F.col("containment_a"), F.col("containment_b"))
            >= threshold
        )
        .select(
            "doc_a",
            "doc_b",
            "common",
            "size_a",
            "size_b",
            "containment_a",
            "containment_b",
        )
    )


def signature_from_shingles(shingles: Column, num_hashes: int = 16) -> Column:
    """MinHash signature from a shingle-array column: for seed i,
    ``min(md5(i || '|' || shingle))``, as an array of hex strings.

    Lexicographic min over md5 hex is a uniform min-hash; using the hex
    string avoids engine-specific integer narrowing, so an external SQL
    engine reproduces the signature byte-for-byte.
    """

    def seeded_md5(seed: int):
        # closure factory — a `lambda s, i=i` default-arg form would be
        # read by Spark as the (element, index) two-param lambda and
        # silently bind `i` to the array index
        prefix = F.lit(f"{seed}|")
        return lambda s: F.md5(F.concat(prefix, s))

    return F.array(
        *[
            F.array_min(F.transform(shingles, seeded_md5(i)))
            for i in range(num_hashes)
        ]
    )


def _verify_candidate_pairs(
    candidates: DataFrame, sh_df: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of (doc_a, doc_b) candidate pairs by
    joining the full shingle sets back and intersecting arrays — the
    shared disposal stage behind every candidate generator (LSH bands,
    prefix filter). Never materializes non-candidate pairs."""
    sh_a = sh_df.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("__sh_a")
    )
    sh_b = sh_df.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("__sh_b")
    )
    common = F.size(F.array_intersect("__sh_a", "__sh_b")).cast("bigint")
    union = (
        F.size("__sh_a").cast("bigint") + F.size("__sh_b").cast("bigint") - common
    )
    return (
        candidates.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .where((F.size("__sh_a") > 0) & (F.size("__sh_b") > 0))
        .select("doc_a", "doc_b", F.round(common / union, 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def jaccard_pairs_prefix(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Jaccard >= threshold via PREFIX FILTERING (the AllPairs/PPJoin
    family): exact results, far fewer candidates than the full inverted
    index.

    Under a global rarity order on shingles (document frequency asc,
    shingle asc as tiebreak), any pair with ``jaccard >= t`` must share
    a shingle within each side's first ``n - ceil(t*n) + 1`` shingles
    (since overlap >= ceil(t*n) for both sizes n). So only the PREFIX
    of each document is indexed and self-joined; common shingles — the
    quadratic-blowup generators in a same-domain corpus — land at the
    END of the order and never produce candidates on their own.

    Plan shape: one df-count aggregation, one rank window per doc, a
    self-join keyed on (rare) prefix shingles, then exact verification
    on the candidate set. Output identical to ``jaccard_pairs``.
    """
    from pyspark.sql import Window

    sh_sets = _doc_shingle_sets(df, text_col, id_col, k)
    # explode_outer + null filter: see _doc_shingles (this stage is
    # unpersisted, so the inferred-filter pushdown would serialize the
    # whole shingle pipeline into the single-task scan stage)
    sh = sh_sets.select(
        "doc_id", F.explode_outer("shingles").alias("shingle")
    ).where(F.col("shingle").isNotNull())
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))

    w_rank = Window.partitionBy("doc_id").orderBy(F.asc("__df"), F.asc("shingle"))
    w_all = Window.partitionBy("doc_id")
    ranked = (
        sh.join(dfreq, "shingle")
        .withColumn("__pos", F.row_number().over(w_rank))
        .withColumn("__n", F.count(F.lit(1)).over(w_all))
    )
    prefix = ranked.where(
        F.col("__pos")
        <= F.col("__n") - F.ceil(F.lit(threshold) * F.col("__n")) + 1
    ).select("doc_id", "shingle")

    a = prefix.alias("a")
    b = prefix.alias("b")
    candidates = (
        a.join(b, "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return _verify_candidate_pairs(candidates, sh_sets, threshold)


def minhash_signature(
    text: Column | str, k: int = 3, num_hashes: int = 16
) -> Column:
    """Column-level convenience over ``signature_from_shingles`` (for
    pipelines prefer the staged form — see minhash_near_dups)."""
    return signature_from_shingles(word_shingles(text, k), num_hashes)


def lsh_bands(signature: Column, num_bands: int, rows_per_band: int) -> Column:
    """Band the signature for LSH: array of ``(band_idx, band_hash)``
    structs where band_hash = md5 of the concatenated band slice. Two
    docs sharing any band hash become a candidate pair."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",", F.slice(signature, b * rows_per_band + 1, rows_per_band)
                    )
                ).alias("band_hash"),
            )
            for b in range(num_bands)
        ]
    )


def minhash_near_dups(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    num_hashes: int = 16,
    num_bands: int = 4,
    threshold: float = 0.5,
    persist_intermediates: bool = True,
) -> DataFrame:
    """MinHash + LSH near-duplicate pairs, exact-Jaccard verified.

    Pipeline: signature -> band -> explode bands -> self-join on
    ``(band, band_hash)`` (candidate generation — the ONLY join, keyed
    on a hash so it shuffles evenly) -> distinct pairs -> verify with
    exact Jaccard on the shingle sets (the usual LSH false-positive
    filter). At 100 TB the candidate set is ~linear in corpus size for
    sane banding; nothing quadratic exists in the plan.

    ``persist_intermediates`` caches the shingle sets and band table:
    both feed the plan 2-3 times (self-join sides + verification), and
    without the cache each branch re-runs tokenize + 16 md5 minhashes
    over the corpus — measured 2-3x end-to-end. Disable if the corpus
    shingle table cannot fit cluster memory+disk cache.
    """
    from .relational import materialize_intermediate

    rows = num_hashes // num_bands
    # staged projections: tokens -> shingles -> signature -> bands.
    # Each boundary materializes a multi-referenced array once per row;
    # inlining instead re-evaluates the tokenizer inside all
    # num_hashes minhash expressions (measured 25x slowdown).
    # eager=False on both states (r14, VERDICT r13 #1): the banded
    # self-join sides share one subtree via ReusedExchange and the
    # shingle sets feed cheap projections; the driver's quiet bench
    # showed the r13 eager checkpoints a net loss (minhash_lsh
    # 1.18→1.97s at sf0.1). Lazy persist restores the benched-green
    # pre-r13 behavior.
    sh_df = _doc_shingle_sets(df, text_col, id_col, k)
    if persist_intermediates:
        sh_df = materialize_intermediate(sh_df, eager=False)
    sigs = sh_df.select(
        "doc_id",
        signature_from_shingles(F.col("shingles"), num_hashes).alias("__sig"),
    )
    # explode_outer: a bare explode makes InferFiltersFromGenerate
    # wrap the full 16-md5 signature tree in a size()>0 filter that
    # evaluates BESIDE the projection — doubling signature cost even
    # above the persist barrier (see _doc_shingles)
    banded = (
        sigs.select(
            "doc_id",
            F.explode_outer(lsh_bands(F.col("__sig"), num_bands, rows)).alias("b"),
        )
        .where(F.col("b").isNotNull())
        .select(
            "doc_id",
            F.col("b.band").alias("band"),
            F.col("b.band_hash").alias("band_hash"),
        )
    )
    if persist_intermediates:
        banded = materialize_intermediate(banded, eager=False)

    a = banded.alias("a")
    b = banded.alias("b")
    candidates = (
        a.join(b, ["band", "band_hash"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # exact-Jaccard verification on the CANDIDATES ONLY — never the
    # all-pairs inverted-index plan, whose cost is what LSH exists to avoid
    return _verify_candidate_pairs(candidates, sh_df, threshold)


def token_hashes32(text: Column | str) -> Column:
    """Per-token 32-bit hashes (first 8 hex chars of md5) — stage this
    as its own projection before ``simhash_from_hashes``: the 32 bit
    sums each re-scan the array, and they must re-scan cheap ints, not
    re-inlined md5+conv trees."""
    return F.transform(
        tokens(text),
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint"),
    )


def simhash_from_hashes(hashes: Column) -> Column:
    """32-bit SimHash from a token-hash array column: bit j of the
    result is the sign of ``sum over tokens of ±1`` at that bit.
    Near-duplicates differ in few bits (Hamming distance).

    Pure integer arithmetic, so the numpy form below is EXACTLY the HOF
    form (``simhash_from_hashes_hof``, kept as the cross-check and the
    any-SQL-engine reference semantics) — but one Arrow batch does all
    32 bit-position sums in two reduceat passes instead of 32
    interpreted HOF folds re-scanning the array per row (HOF lambdas
    never enter whole-stage codegen; measured ~1.1s -> ~0.3s for
    simhash_by_doc at sf0.1)."""
    from pyspark.sql.functions import pandas_udf

    bit_idx = np.arange(32, dtype=np.int64)
    bit_weights = (np.int64(1) << bit_idx)

    @pandas_udf("bigint")
    def sh(arrs: pd.Series) -> pd.Series:
        n = len(arrs)
        rows = [
            np.asarray(a, dtype=np.int64) if a is not None else None
            for a in arrs
        ]
        lens = np.array([len(a) if a is not None else 0 for a in rows])
        out = np.zeros(n, dtype=np.int64)
        nonempty = np.nonzero(lens > 0)[0]
        if len(nonempty):
            cat = np.concatenate([rows[i] for i in nonempty])
            starts = np.zeros(len(nonempty), dtype=np.int64)
            starts[1:] = np.cumsum(lens[nonempty])[:-1]
            # one 1-D reduceat per bit position keeps peak memory at
            # O(tokens), not O(tokens x 32) — a batch with long docs
            # would otherwise expand to GBs
            ones = np.empty((len(nonempty), 32), dtype=np.int64)
            for j in range(32):
                ones[:, j] = np.add.reduceat((cat >> j) & 1, starts)
            signed = 2 * ones - lens[nonempty][:, None]   # sum of ±1
            out[nonempty] = ((signed > 0) * bit_weights).sum(axis=1)
        result = pd.array(out, dtype="Int64")
        result[lens == 0] = pd.NA  # empty/null token arrays -> NULL
        return pd.Series(result)

    return sh(hashes)


def simhash_from_hashes_hof(hashes: Column) -> Column:
    """The built-in-expression (HOF) form of :func:`simhash_from_hashes`
    — 32 interpreted ``aggregate`` folds. Identical output (integer
    math is exact); kept as the engine-neutral reference semantics and
    the pytest cross-check for the vectorized form."""
    def bit_sum(j: int) -> Column:
        # closure over j, not a default arg (Spark reads lambda arity)
        def step(acc: Column, v: Column) -> Column:
            return acc + (F.shiftright(v, j).bitwiseAND(F.lit(1)) * 2 - 1)

        return F.aggregate(hashes, F.lit(0).cast("bigint"), step)

    out = F.lit(0).cast("bigint")
    for j in range(32):
        out = out + F.when(bit_sum(j) > 0, F.lit(2**j).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
    return F.when(F.size(hashes) > 0, out).otherwise(F.lit(None).cast("bigint"))


def simhash32(text: Column | str) -> Column:
    """Column-level convenience: 32-bit SimHash over whitespace tokens
    (pipelines should stage ``token_hashes32`` first — see
    queries/dedup.simhash_by_doc)."""
    return simhash_from_hashes(token_hashes32(text))


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Cross-corpus decontamination: flag TRAIN documents that share
    any word ``k``-gram with a held-out EVAL/benchmark corpus — the
    long-n-gram overlap check a training pipeline runs before shipping
    data (verbatim benchmark leakage survives paraphrase-level edits
    poorly, which is why the industry-standard check is 8-13 word-gram
    collision, not similarity).

    Returns one row per CONTAMINATED train doc:
    ``(doc_id, n_eval_docs, n_shared_ngrams)`` — distinct eval docs
    hit and distinct shared k-grams. Clean docs are absent (the common
    case at scale; callers left-anti join to get the clean set).

    Scale shape: the asymmetry is the design. Train is the 100 TB
    side — it is tokenized in one streaming pass and NEVER shuffled
    before the final per-doc aggregation (map-side combinable). Eval
    corpora are small by nature (benchmarks, not crawls), so the
    distinct eval (shingle, eval_id) table broadcasts
    (``broadcast_eval=True``): the contamination join is then a
    broadcast hash join against every train partition in place. For an
    unusually large eval side, set ``broadcast_eval=False`` for a
    plain hash-shuffle equi-join on the shingle string. Short docs
    follow ``word_shingles`` semantics (< k tokens -> one full-text
    shingle), so tiny eval docs still decontaminate exactly.
    """
    tr = _doc_shingles(train, text_col, id_col, k)
    ev = _doc_shingles(eval_df, text_col, id_col, k).select(
        F.col("doc_id").alias("__eval_id"), "shingle"
    )
    if broadcast_eval:
        ev = F.broadcast(ev)
    return (
        tr.join(ev, "shingle")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("__eval_id").alias("n_eval_docs"),
            F.countDistinct("shingle").alias("n_shared_ngrams"),
        )
    )


def near_dup_clusters(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 20,
    checkpoint_interval: int = 5,
) -> DataFrame:
    """Connected components over a near-dup PAIR graph — the step that
    turns pairwise similarity into dedup decisions: near-dup relations
    are not transitive (A~B, B~C does not imply A~C scores above the
    threshold), yet a dedup pipeline must keep ONE survivor per
    connected group, so the pair output of jaccard_pairs /
    minhash_near_dups / cosine_pairs_lsh feeds this to get
    ``(doc_id, cluster_id)`` with ``cluster_id = min(doc_id)`` over
    each component (the canonical survivor id).

    Algorithm: min-label propagation to fixpoint — each iteration every
    node takes the min of its label and its neighbors' labels (one
    equi-join edges-to-labels + one min-aggregation per iteration,
    both keyed on node id: linear, skew-free). Converges in
    graph-DIAMETER iterations; near-dup components are tight cliques
    (diameter 1-2), so 2-3 iterations in practice — ``max_iter`` is a
    pathological-chain guard that raises rather than returning a
    half-merged clustering.

    This is the engine's one deliberately ITERATIVE operator: the
    convergence check is a driver-side action per iteration (documented
    exception to the no-driver-actions rule — fixpoint loops need a
    termination test). Each iteration's labels persist and the
    previous generation unpersists, so no iteration recomputes the
    last — but persist alone does nothing for the LOGICAL plan, which
    grows GEOMETRICALLY: each generation references the previous
    labels twice (messages join + update join), J(k) = 2*J(k-1) + 2
    join nodes, so a diameter-17 graph would carry >260k joins into
    the analyzer (optimizer time and task-binary size blow up long
    before runtime does). Every ``checkpoint_interval`` iterations the
    labels are ``localCheckpoint``-ed (eager, block-backed), truncating
    lineage to the materialized blocks and bounding the live plan to
    one interval. Deep-chain graphs (diameter ~ max_iter) are
    exercised in tests/test_dedup.py.

    Singleton documents (no near-dup pair) are not in the graph and so
    not in the output — callers left-anti join to add them as their own
    clusters if needed.
    """
    from pyspark import StorageLevel

    a, b = F.col(id_a), F.col(id_b)
    # localCheckpoint, not persist: persist caches BLOCKS but leaves the
    # full upstream LOGICAL plan attached, and every label generation
    # embeds the edges subtree twice — fed by a deep producer (e.g. the
    # near_dup_committee composition) the per-iteration plan carries
    # 2^interval copies of that producer's whole tree, and plan
    # stringification alone OOMs the driver (observed at sf0.1).
    # Checkpointing cuts the graph at the materialized edges, making
    # each iteration's plan O(interval), independent of the producer.
    edges = (
        pairs.select(a.alias("src"), b.alias("dst"))
        .unionByName(pairs.select(b.alias("src"), a.alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        for it in range(max_iter):
            # neighbor labels: every node hears the label of each peer
            msgs = (
                edges.join(
                    labels.select(
                        F.col("node").alias("src"),
                        F.col("label").alias("__nbr_label"),
                    ),
                    "src",
                )
                .groupBy(F.col("dst").alias("node"))
                .agg(F.min("__nbr_label").alias("__min_nbr"))
            )
            new_labels = labels.join(msgs, "node", "left").select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("__min_nbr", F.col("label"))
                ).alias("label"),
            )
            if checkpoint_interval and (it + 1) % checkpoint_interval == 0:
                # truncate lineage: by iteration k the plan carries k
                # stacked join subtrees; localCheckpoint materializes
                # the labels (eager, block-backed — no HDFS dir needed)
                # and restarts the plan from them, bounding optimizer
                # work and recovery cost for deep-diameter graphs
                new_labels = new_labels.localCheckpoint(eager=True)
            else:
                new_labels = new_labels.persist(StorageLevel.MEMORY_AND_DISK)
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .where(F.col("n.label") != F.col("o.label"))
                .limit(1)
                .count()
            )
            labels.unpersist()
            labels = new_labels
            if changed == 0:
                return labels.select(
                    F.col("node").alias("doc_id"),
                    F.col("label").alias("cluster_id"),
                )
        raise RuntimeError(
            f"near_dup_clusters did not converge in {max_iter} iterations "
            "(graph diameter exceeds the guard) — raise max_iter and add "
            "localCheckpoint for deep-chain graphs"
        )
    finally:
        edges.unpersist()


def near_dup_committee(
    docs: DataFrame,
    embeddings: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    emb_id_col: str = "vec_id",
    emb_vec_col: str = "embedding",
    k: int = 3,
    jaccard_threshold: float = 0.2,
    cosine_threshold: float = 0.4,
    hamming_threshold: int = 8,
    min_signals: int = 1,
    approx_rows: int | None = None,
) -> DataFrame:
    """Multi-signal near-dup CONSENSUS: the capstone that composes the
    dedup tiers instead of picking one. Real curation pipelines vote —
    lexical overlap (n-gram Jaccard), bit-level similarity (SimHash
    Hamming), and semantic similarity (embedding cosine) each catch
    duplicates the others miss, and acting on agreement cuts the false
    positives any single detector carries.

    Architecture (the scale-correct formulation): the two BUCKETED
    detectors PROPOSE — the shingle inverted index (pairs with
    ``jaccard >= jaccard_threshold``) and the blocked embedding tier
    (pairs with ``cosine >= cosine_threshold``) — and SimHash SCORES
    every proposed pair via a cheap per-doc hash join (an all-pairs
    Hamming scan would be quadratic; as a committee member it never
    proposes, so it costs one 32-bit XOR per candidate). A pair absent
    from a proposer carries NULL for that measure: by construction its
    value is below that detector's threshold, so NULL reads as "this
    signal did not fire", never "unknown".

    Returns pairs with ``n_signals >= min_signals``:
    ``(doc_a, doc_b, jaccard, cos_sim, hamming, sig_jaccard,
    sig_embedding, sig_simhash, n_signals)`` — downstream feeds the
    ``n_signals >= 2`` slice to :func:`near_dup_clusters` for
    conservative dedup, or audits single-signal pairs for threshold
    tuning.
    """
    from .similarity import cosine_pairs_blocked

    jac = jaccard_pairs(
        docs, text_col, id_col, k=k, threshold=jaccard_threshold
    ).select(
        F.col("doc_a"), F.col("doc_b"), F.col("jaccard")
    )
    emb = cosine_pairs_blocked(
        embeddings,
        id_col=emb_id_col,
        vec_col=emb_vec_col,
        threshold=cosine_threshold,
        approx_rows=approx_rows,
    ).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.col("cos_sim"),
    )
    cand = jac.join(emb, ["doc_a", "doc_b"], "full_outer")

    sims = docs.select(
        F.col(id_col).alias("__sid"), simhash32(text_col).alias("__sim")
    )
    withsim = (
        cand.join(
            sims.select(
                F.col("__sid").alias("doc_a"), F.col("__sim").alias("__sa")
            ),
            "doc_a",
            "left",
        )
        .join(
            sims.select(
                F.col("__sid").alias("doc_b"), F.col("__sim").alias("__sb")
            ),
            "doc_b",
            "left",
        )
        .withColumn(
            "hamming",
            F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb"))).cast("int"),
        )
    )
    sig_j = F.col("jaccard").isNotNull()
    sig_e = F.col("cos_sim").isNotNull()
    sig_s = F.coalesce(
        F.col("hamming") <= F.lit(hamming_threshold), F.lit(False)
    )
    n_signals = (
        sig_j.cast("int") + sig_e.cast("int") + sig_s.cast("int")
    ).cast("int")
    return (
        withsim.select(
            "doc_a",
            "doc_b",
            "jaccard",
            "cos_sim",
            "hamming",
            sig_j.alias("sig_jaccard"),
            sig_e.alias("sig_embedding"),
            sig_s.alias("sig_simhash"),
            n_signals.alias("n_signals"),
        )
        .where(F.col("n_signals") >= min_signals)
    )


def dedup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    avg_tokens: int = 8,
) -> DataFrame:
    """Cross-document repeated-SPAN removal — the distributed stand-in
    for exact-substring deduplication (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499).

    The paper's suffix-array construction is inherently single-machine
    (a global sort over every suffix of a 100 TB corpus does not
    shard); the scalable approximation is to cut each document into
    content-defined segments (``text.cdc_segments`` — FastCDC at word
    level, so an insertion early in a copied passage re-cuts only one
    segment and every later segment hash survives), then keep the
    FIRST occurrence of every segment corpus-wide and rebuild each
    document from its surviving segments. A passage pasted into many
    documents is kept once (in the lowest ``(doc_id, seg_idx)``
    position) and stripped everywhere else — C4 / MassiveText line
    dedup generalized to shift-robust boundaries.

    Text crosses exactly ONE exchange at any corpus size (the scan
    fan-out before segmentation; the per-document regroup is a
    DISK_ONLY ``localCheckpoint`` write, the distributed-disk
    equivalent of one more corpus write), and the tokenize+segment
    Generate runs exactly ONCE — enforced by MATERIALIZATION, not by
    optimizer goodwill. The per-doc ``groupBy(id_col)`` aggregation is
    the shared spine of the operator: both the keep/strip decision
    path and the final rebuild read it, and without a checkpoint
    Catalyst INLINES the spine subtree into each consumer (DataFrame
    reuse is not plan reuse), re-running the whole segmentation
    expression per consumer; ``ReusedExchange`` cannot rescue it
    because the consumers push different filters/prunings into their
    copies, so the canonicalized exchanges never match. The measured
    cost of that inlining was 3 scans + 3 Generates and a
    nondeterministic interpreted-path CPU blowup (one driver pass
    burned 1204 s CPU vs 32 s for the identical query). After the
    checkpoint the decision path re-explodes a HASHES-ONLY projection
    ``(doc_id, seg_idx, seg_hash, n_seg_tokens)`` (~50 bytes/row), so
    no decision-path exchange carries text. Earlier shapes of this
    operator all failed at driver scale and are documented here as the
    contrast set: (a) a row_number window over ``seg_hash`` shuffled
    segment text through a skew-sensitive window stage (driver passes
    5.6/16.0/15.1 s — spill-bimodal); (b) re-deriving the segment
    stream per consumer ran the Generate three times and
    round-robin-shuffled RAW text three times (passes 192/11/8 s); (c)
    restoring empty docs via an id-spine join let the optimizer
    BROADCAST the full rebuilt text. Here empty/NULL-text docs stay
    in-stream (``explode_outer`` emits a NULL segment that the collect
    skips), so there is no spine join to mis-broadcast.

    The keeper per hash is a map-side-combinable
    ``min(struct(doc_id, seg_idx))`` aggregate, NOT a row_number
    window: a hyper-duplicated boilerplate segment (cookie banners,
    license headers — billions of copies at crawl scale) collapses to
    one candidate per map partition before the exchange instead of
    funnelling every copy into a single window partition, and only
    genuinely duplicated hashes (count > 1) enter the loser join,
    which AQE skew-split handles. No driver action, no UDF, no
    quadratic stage, and no MEMORY caching (the spine checkpoint is
    DISK_ONLY: per-executor local disk holds corpus/num_executors
    bytes, the same budget class as the shuffle itself — pinning the
    segment stream in executor MEMORY would hold ~the corpus).

    Returns one row per input document:
    ``(id_col, text_dedup, n_segs, n_segs_removed, n_tokens_removed)``
    where ``text_dedup`` is the normalized text with duplicated spans
    removed (equals the normalized input when nothing was removed, and
    '' for empty docs). Deterministic under any partitioning: the
    keep-first tiebreak is the total order ``(doc_id, seg_idx)``.
    """
    from .relational import spread
    from .text import cdc_segments

    # explode_outer, NOT plain explode: from a bare explode,
    # InferFiltersFromGenerate derives ``size(segments) > 0``, inlines
    # the WHOLE tokenize+segment+hash expression tree into that filter
    # and pushes it below the spread Exchange — re-running the
    # segmentation in the single-task scan stage (the _doc_shingles
    # lesson; measured 21s -> ~2s at sf0.1 for this operator). The
    # outer form has no such filter to sink, and its NULL rows are
    # load-bearing here: they keep zero-segment docs in the stream so
    # the per-doc groupBy is total over the input with no spine join.
    segs = spread(df.select(F.col(id_col), F.col(text_col))).select(
        id_col,
        F.explode_outer(
            cdc_segments(text_col, avg_tokens=avg_tokens, keep_text=True)
        ).alias("s"),
    )
    # The shared per-doc spine. NULL segments (empty docs) are skipped
    # by the when(): such docs yield an empty __segs array, which
    # rebuilds to ''. The DISK_ONLY eager localCheckpoint is what makes
    # "segment once" TRUE rather than hoped-for: both consumers below
    # read the materialized blocks instead of re-deriving the
    # segmentation subtree (see docstring for the measured cost of the
    # un-checkpointed shape).
    from pyspark import StorageLevel

    per_doc = (
        segs.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("s").isNotNull(),
                        F.struct(
                            F.col("s.seg_idx").alias("seg_idx"),
                            F.col("s.seg_hash").alias("seg_hash"),
                            F.col("s.n_seg_tokens").alias("n_seg_tokens"),
                            F.col("s.seg_text").alias("seg_text"),
                        ),
                    )
                )
            ).alias("__segs")
        )
        .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    )
    # Decision path (hashes only): re-explode the grouped arrays,
    # project the text away BEFORE any exchange, find the corpus-wide
    # first occurrence of every DUPLICATED hash as a partial-aggregable
    # min, then the per-document strip list.
    keys = per_doc.select(
        F.col(id_col), F.explode("__segs").alias("s")
    ).select(
        id_col,
        F.col("s.seg_idx").alias("seg_idx"),
        F.col("s.seg_hash").alias("seg_hash"),
        F.col("s.n_seg_tokens").alias("n_seg_tokens"),
    )
    dup_winners = (
        keys.groupBy("seg_hash")
        .agg(
            F.min(
                F.struct(F.col(id_col).alias("i"), F.col("seg_idx").alias("x"))
            ).alias("__w"),
            F.count(F.lit(1)).alias("__c"),
        )
        .where(F.col("__c") > 1)
        .select("seg_hash", "__w")
    )
    strip = (
        keys.join(dup_winners, "seg_hash")
        .where(
            F.struct(F.col(id_col).alias("i"), F.col("seg_idx").alias("x"))
            != F.col("__w")
        )
        .groupBy(id_col)
        .agg(
            F.collect_set("seg_idx").alias("__removed_idx"),
            F.count(F.lit(1)).cast("bigint").alias("n_segs_removed"),
            F.sum("n_seg_tokens").cast("bigint").alias("n_tokens_removed"),
        )
    )
    # Rebuild: drop the stripped positions with an array filter. strip
    # is tiny (ids + int arrays, no text), so whichever join strategy
    # the optimizer picks cannot move or broadcast document text.
    return per_doc.join(strip, id_col, "left").select(
        id_col,
        F.array_join(
            F.transform(
                F.filter(
                    F.col("__segs"),
                    lambda st: ~F.array_contains(
                        F.coalesce(
                            F.col("__removed_idx"),
                            F.array().cast("array<int>"),
                        ),
                        st.getField("seg_idx"),
                    ),
                ),
                lambda st: st.getField("seg_text"),
            ),
            " ",
        ).alias("text_dedup"),
        F.size("__segs").cast("bigint").alias("n_segs"),
        F.coalesce("n_segs_removed", F.lit(0)).alias("n_segs_removed"),
        F.coalesce("n_tokens_removed", F.lit(0)).alias("n_tokens_removed"),
    )



def near_dup_incremental(
    new_docs: DataFrame,
    seen_signatures: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 16,
    num_bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup dedup of an ARRIVING batch against all of history
    WITHOUT recomputing history — the cross-run twin of
    ``dedup_incremental`` (exact) for the MinHash tier: the persistent
    store holds one ``(doc_id, signature)`` row per historical
    document (a few hundred bytes each — the store never holds text
    or shingles), and each run:

    1. computes signatures for the new batch only (the ONLY text pass);
    2. derives LSH band hashes from BOTH signature sets row-locally
       (md5 over signature slices — no retokenization of history);
    3. joins new bands to historical bands on ``(band, band_hash)``
       for candidates (uniform hash key, ~linear);
    4. verifies candidates by ESTIMATED Jaccard — the fraction of
       agreeing minhash positions, the standard estimator, computable
       from stored signatures alone (exact-Jaccard verification would
       require storing shingle sets: ~the corpus itself).

    Returns one row per new document: ``(id_col, matched_id,
    est_jaccard, is_dup, signature)`` where ``matched_id`` is the
    best-matching historical doc (highest estimate, lowest id on
    ties; NULL when no candidate) and ``signature`` is ready to
    append to the store for the next run. Within-batch near-dups are
    NOT resolved here — run ``minhash_near_dups`` on the batch first
    if arrivals can duplicate each other.
    """
    rows = num_hashes // num_bands

    def bands_of(sig_df: DataFrame, label: str) -> DataFrame:
        return (
            sig_df.select(
                F.col(id_col).alias(label),
                F.explode_outer(
                    lsh_bands(F.col("signature"), num_bands, rows)
                ).alias("b"),
            )
            .where(F.col("b").isNotNull())
            .select(
                label,
                F.col("b.band").alias("band"),
                F.col("b.band_hash").alias("band_hash"),
            )
        )

    new_sigs = (
        _doc_shingle_sets(new_docs, text_col, id_col, k)
        .where(F.size("shingles") > 0)
        .select(
            F.col("doc_id").alias(id_col),
            signature_from_shingles(F.col("shingles"), num_hashes).alias(
                "signature"
            ),
        )
        .persist()
    )
    seen = seen_signatures.select(
        F.col(id_col).alias("__old_id"), F.col("signature").alias("__old_sig")
    )
    cands = (
        bands_of(new_sigs, id_col)
        .join(
            bands_of(
                seen.select(
                    F.col("__old_id").alias(id_col),
                    F.col("__old_sig").alias("signature"),
                ),
                "__old_id",
            ),
            ["band", "band_hash"],
        )
        .select(id_col, "__old_id")
        .distinct()
    )
    est = (
        cands.join(new_sigs, id_col)
        .join(seen, "__old_id")
        .select(
            id_col,
            "__old_id",
            (
                F.size(
                    F.filter(
                        F.zip_with(
                            F.col("signature"),
                            F.col("__old_sig"),
                            lambda a, b: a == b,
                        ),
                        lambda x: x,
                    )
                )
                / F.lit(float(num_hashes))
            ).alias("est_jaccard"),
        )
    )
    # min of (-jaccard, old_id): highest estimate, lowest id on ties.
    # Negate the ESTIMATE (a double), never the id — ``-id`` on a
    # string id column casts to double and yields NULL, silently
    # blanking matched_id for every row while is_dup still computes.
    best = est.groupBy(id_col).agg(
        F.min(
            F.struct(
                (-F.col("est_jaccard")).alias("nj"),
                F.col("__old_id").alias("oid"),
            )
        ).alias("b")
    )
    return (
        new_sigs.join(best, id_col, "left")
        .select(
            id_col,
            F.col("b.oid").alias("matched_id"),
            (-F.col("b.nj")).alias("est_jaccard"),
            F.coalesce(
                -F.col("b.nj") >= threshold, F.lit(False)
            ).alias("is_dup"),
            "signature",
        )
    )


def dedup_boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 10,
) -> DataFrame:
    """Boilerplate LINE removal (the RefinedWeb/FineWeb web-cleaning
    step): a line whose normalized form appears in at least
    ``min_docs`` DISTINCT documents is template boilerplate — cookie
    banners, nav text, footers, "subscribe" calls — and is removed
    from EVERY document. The complement of :func:`dedup_spans`: long
    shared passages keep a first owner (one copy is real content);
    boilerplate has no owner worth keeping.

    Matching normalizes (lowercase, whitespace-collapse) but the
    REBUILT document carries each surviving line verbatim. Returns one
    row per input document: ``(id, cleaned_text, n_lines, n_removed)``
    — empty/NULL docs come back with empty text and zero counts, never
    dropped.

    Scale shape: explode lines once; the line-frequency aggregate is a
    two-phase distinct count keyed on ``(xxhash64, length)`` of the
    normalized line (r14, guide §2.3: the key is engine-INTERNAL —
    outputs carry rebuilt text and counts, never the key — so two
    fixed-width values replace r13's 32-hex md5 string: narrower
    shuffle keys and a far cheaper hash per line; the oracle keys on
    md5 of the same normal form, and the hash oracle pins that the
    results are byte-identical).

    Collision bound: two different normalized lines share a group only
    when they have the same length (in characters) AND the same 64-bit
    hash. Over a corpus with ``n_L`` distinct normalized lines of
    length ``L``, the chance that ANY two merge is at most
    ``sum_L n_L**2 / 2**65``, and never more than ``n**2 / 2**65`` for
    ``n`` distinct lines in all: about 3e-8 at a million distinct
    lines, 3% at a billion if every line had the same length. A merge
    sums the two lines' document counts, so it can strip a line that
    appears in fewer than ``min_docs`` documents. The flagged key set
    — tiny by construction, only keys crossing ``min_docs`` —
    broadcasts back; the rebuild is one doc-keyed groupBy. Document
    text crosses exactly one exchange (the rebuild's).
    """
    from .text import normalize_text

    lines = df.select(
        F.col(id_col),
        F.posexplode_outer(
            F.when(
                F.col(text_col).isNull() | (F.col(text_col) == ""),
                F.array().cast("array<string>"),
            ).otherwise(F.split(F.col(text_col), "\n"))
        ).alias("__line_idx", "__line"),
    )
    norm = normalize_text(F.col("__line"))
    lines = lines.withColumns({"__k": F.xxhash64(norm), "__n": F.length(norm)})
    # r13 optimization round: materialize the exploded+hashed lines
    # ONCE (DISK_ONLY — text-bearing, the dedup_spans budget class).
    # The frequency pass and the rebuild are concurrent consumers of
    # this subtree; unmaterialized, each re-ran the explode +
    # normalize + md5 over the whole corpus (measured as two ~5.5s-CPU
    # twin stages at sf0.1 — tools/query_profile.py).
    from pyspark import StorageLevel

    from .relational import materialize_intermediate

    lines = materialize_intermediate(lines, StorageLevel.DISK_ONLY)
    freq = (
        lines.where(F.col("__line").isNotNull())
        .groupBy("__k", "__n")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
    )
    common = freq.where(F.col("__nd") >= min_docs).select(
        "__k", "__n", F.lit(True).alias("__bp")
    )
    flagged = lines.join(F.broadcast(common), ["__k", "__n"], "left")
    agg = (
        flagged.where(F.col("__line").isNotNull())
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(F.when(F.col("__bp"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_removed"),
            F.array_sort(
                F.collect_list(
                    F.when(
                        ~F.coalesce(F.col("__bp"), F.lit(False)),
                        F.struct(
                            F.col("__line_idx").alias("i"),
                            F.col("__line").alias("l"),
                        ),
                    )
                )
            ).alias("__kept"),
        )
    )
    cleaned = F.array_join(
        F.transform(F.col("__kept"), lambda s: s.getField("l")), "\n"
    )
    return (
        df.select(F.col(id_col))
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce(cleaned, F.lit("")).alias("cleaned_text"),
            F.coalesce(F.col("n_lines"), F.lit(0))
            .cast("bigint")
            .alias("n_lines"),
            F.coalesce(F.col("n_removed"), F.lit(0))
            .cast("bigint")
            .alias("n_removed"),
        )
    )


def quality_keep(
    pairs: DataFrame,
    scores: DataFrame,
    id_col: str,
    score_col: str,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
) -> DataFrame:
    """Quality-aware survivor selection over near-dup clusters: keep
    the HIGHEST-SCORING member of each connected component instead of
    the lowest id.

    Keep-first (min id) is the cheap default, but production curation
    keeps the best representative — a near-dup group usually mixes a
    clean original with truncated or boilerplate-padded copies, and
    min-id picks among them arbitrarily. This resolves the component
    (near_dup_clusters), joins each member's quality score, and keeps
    the score-argmax with ``id ASC`` as the deterministic tiebreak.

    Cost over keep-first: one (id, score) join — score rows are ~16
    bytes and join on the id partitioning the cluster resolution just
    produced — plus the same per-cluster window. Returns one row per
    CLUSTERED document: (id_col, cluster_id, score_col, keep);
    singletons (never proposed as near-dups) are implicitly kept, as in
    near_dup_clusters. Scores join LEFT with NULL scores ranked last,
    so a clustered doc missing a score row is never silently dropped
    (the 'one row per clustered document' contract holds even with
    partial score coverage) and can still win only when every member
    lacks a score (id-ascending tiebreak).
    """
    from pyspark.sql.window import Window

    clusters = near_dup_clusters(pairs, id_a=id_a, id_b=id_b)
    members = clusters.withColumnRenamed("doc_id", id_col).join(
        scores.select(id_col, score_col), id_col, "left"
    )
    w = (
        Window.partitionBy("cluster_id")
        .orderBy(F.col(score_col).desc_nulls_last(), F.col(id_col).asc())
    )
    return members.select(
        id_col,
        "cluster_id",
        score_col,
        (F.row_number().over(w) == 1).alias("keep"),
    )


def plan_lsh(
    threshold: float,
    num_hashes: int = 16,
    false_negative_weight: float = 2.0,
) -> tuple[int, int]:
    """Choose (num_bands, rows_per_band) for MinHash LSH given a target
    Jaccard threshold — the S-curve math users otherwise eyeball: a
    pair with similarity s collides in at least one band with
    probability ``1 - (1 - s^r)^b``, and the curve's inflection sits
    near ``(1/b)^(1/r)``. Scans every factorization b*r = num_hashes
    and picks the one minimizing the weighted error integral of the
    S-curve against the ideal step at ``threshold`` (missed true pairs
    weighted ``false_negative_weight`` x over false candidates — a miss
    is silent data corruption, a false candidate just costs one exact
    verification).

    Driver-side closed-form arithmetic over <= num_hashes
    factorizations — a planning utility like auto_num_planes, not an
    operator. Returns (num_bands, rows_per_band) for
    :func:`minhash_near_dups` / :func:`lsh_bands`.
    """
    if not 0 < threshold < 1:
        raise ValueError(f"plan_lsh: threshold must be in (0,1), got {threshold}")
    if num_hashes < 1:
        raise ValueError(f"plan_lsh: num_hashes must be >= 1, got {num_hashes}")
    best: tuple[float, int, int] | None = None
    steps = 200
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        r = num_hashes // b
        err = 0.0
        for i in range(steps):
            s = (i + 0.5) / steps
            p = 1.0 - (1.0 - s**r) ** b
            if s >= threshold:
                err += false_negative_weight * (1.0 - p)  # missed true pair
            else:
                err += p  # false candidate
        key = (err, b, r)
        if best is None or key < best:
            best = key
    assert best is not None
    return best[1], best[2]
