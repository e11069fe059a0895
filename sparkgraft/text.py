"""Text analysis for LLM training-data pipelines.

Operators over a ``documents(doc_id, text, ...)`` table: tokenization,
quality scoring, language identification, and content fingerprinting.
All pure ``pyspark.sql.functions`` expressions (no UDFs) so they run
inside whole-stage codegen and scale linearly with the scan — the
shapes a 100 TB corpus cleanup actually needs.

Design constraint shared with dedup.py: anything that hashes uses md5,
which produces identical hex on every engine — so the DuckDB oracle can
recompute fingerprints exactly rather than trusting ours.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "tokens",
    "regex_tokens",
    "normalize_text",
    "fingerprint",
    "winnow_fingerprints",
    "quality_metrics",
    "lang_scores",
    "lang_id",
    "word_bigrams",
    "tfidf_top_terms",
    "vocabulary",
    "heavy_hitter_words",
    "collocations",
    "redact_pii",
    "pii_counts",
    "STOPWORDS",
    "PII_PATTERNS",
]

# BPE-ish pretokenizer classes: letter runs, digit runs, non-space
# symbol runs — the coarse shape GPT-style pretokenizers split on,
# restricted to constructs Java regex and RE2 treat identically.
# Whitespace is the EXPLICIT class, not Java's \s (r13, VERDICT r12
# #7): Java \s includes \x0B where RE2/DuckDB \s does not, so a \v in
# the text would tokenize differently under the two engines; the
# explicit set IS RE2's \s, making the DuckDB oracles' '\s' twins
# byte-equivalent on every input.
_WS_CLASS = " \\t\\n\\r\\f"
BPE_ISH_PATTERN = rf"[A-Za-z]+|[0-9]+|[^A-Za-z0-9{_WS_CLASS}]+"

# Tiny per-language stopword lists for the n-gram/stopword heuristic.
# Deliberately small and embedded: broadcast as literals into the plan.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "it", "you", "that"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "una", "es", "los"),
    "fr": ("le", "la", "et", "les", "des", "un", "une", "du", "est", "que"),
    "de": ("der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von"),
}


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def normalize_text(text: Column | str) -> Column:
    """Canonical form for hashing: lowercase, whitespace collapsed —
    the explicit ASCII class (== RE2's \\s, excludes \\x0B; see
    BPE_ISH_PATTERN) so the DuckDB '\\s+' twins agree on every
    input."""
    return F.trim(
        F.regexp_replace(F.lower(_col(text)), rf"[{_WS_CLASS}]+", " ")
    )


def tokens(text: Column | str) -> Column:
    """Whitespace tokens of the lowercased text; empty/NULL -> [].

    ``split`` on an empty string yields ``[""]``, so guard explicitly —
    the classic tokenizer edge case (documents table contains empty docs).
    """
    norm = normalize_text(text)
    return F.when(
        norm.isNull() | (norm == ""), F.array().cast("array<string>")
    ).otherwise(F.split(norm, " "))


def regex_tokens(text: Column | str) -> Column:
    """BPE-ish pretokenization: splits 'don't stop2x!' into
    ``[don, ', t, stop, 2, x, !]`` — the subword-boundary shape a BPE
    tokenizer refines. Counting THESE is the cheap proxy for model
    token budgets that whitespace counting underestimates."""
    return F.regexp_extract_all(F.lower(_col(text)), F.lit(BPE_ISH_PATTERN), 0)


def word_bigrams(tok: Column) -> Column:
    """Space-joined word bigrams of a token array; ``[]`` for arrays
    shorter than 2. The CASE guard keeps ``slice`` lengths non-negative
    (conditional branches evaluate lazily, so the slice never sees a
    negative length)."""
    n = F.size(tok) - 1
    return F.when(n < 1, F.array().cast("array<string>")).otherwise(
        F.zip_with(
            F.slice(tok, 1, n),
            F.slice(tok, 2, n),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    )


def fingerprint(text: Column | str) -> Column:
    """Content fingerprint: md5 of the normalized text. Identical texts
    modulo case/whitespace collide — the exact-dedup key."""
    return F.md5(normalize_text(text))


def winnow_fingerprints(
    df: "DataFrame",  # noqa: F821 - forward ref, avoids module-level import
    text: str = "text",
    k: int = 8,
    window: int = 4,
    out: str = "fps",
) -> "DataFrame":  # noqa: F821
    """Winnowing document fingerprints (the rolling-hash scheme of
    MOSS): hash every character k-gram of the normalized text, then
    keep the minimum hash of each sliding window of ``window``
    consecutive k-gram hashes. Guarantees: any shared substring of
    length >= k + window - 1 between two documents yields at least one
    shared fingerprint — the substring-level near-dup signal that
    word-shingle Jaccard (word level) misses.

    Hashes are md5-hex (lexicographic min), so an external engine
    reproduces the fingerprint set exactly. Pure HOFs: substr via a
    position sequence plays the "rolling" part (content-identical to a
    true rolling hash; the classic Rabin-Karp trick only saves CPU).
    Adds an ``out`` column holding the DISTINCT fingerprint set (empty
    array for NULL / shorter-than-k text).

    DataFrame-level on purpose, NOT a Column function: the k-gram hash
    array is referenced by every winnow position, so it must be staged
    through its own Project. Inlined into a single expression tree the
    whole k-gram array re-evaluates per position — O(n^2) md5+regexp
    per document instead of O(n).
    """
    norm_c, kgh_c = f"__{out}_norm", f"__{out}_kgh"
    empty = F.array().cast("array<string>")
    staged = df.withColumn(norm_c, normalize_text(text))
    staged = staged.withColumn(
        kgh_c,
        F.when(F.col(norm_c).isNull() | (F.length(norm_c) < k), empty).otherwise(
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.length(norm_c) - k + 1, F.lit(1))
                ),
                lambda i: F.md5(F.col(norm_c).substr(i, F.lit(k))),
            )
        ),
    )
    staged = staged.withColumn(
        out,
        F.when(F.size(kgh_c) == 0, empty).otherwise(
            F.array_distinct(
                F.transform(
                    F.sequence(
                        F.lit(1),
                        F.greatest(F.size(kgh_c) - window + 1, F.lit(1)),
                    ),
                    lambda j: F.array_min(F.slice(F.col(kgh_c), j, window)),
                )
            )
        ),
    )
    return staged.drop(norm_c, kgh_c)


def quality_metrics(text: Column | str) -> dict[str, Column]:
    """Quality-scoring column bundle (attach with ``df.select(**)`` or
    ``withColumns``): char/token counts, punctuation + stopword +
    whitespace ratios, mean token length.

    Ratios are ``round(x, 6)`` so downstream comparisons are
    representation-stable.
    """
    t = _col(text)
    tok = tokens(t)
    n_chars = F.coalesce(F.length(t), F.lit(0)).cast("bigint")
    n_tokens = F.size(tok).cast("bigint")
    # punctuation = anything outside \w and whitespace (explicit class
    # == RE2's \s — Java's would shelter \x0B from the punct count)
    n_punct = (
        F.coalesce(F.length(t), F.lit(0))
        - F.coalesce(
            F.length(F.regexp_replace(t, rf"[^\w{_WS_CLASS}]", "")),
            F.lit(0),
        )
    ).cast("bigint")
    en_stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    n_stop = F.size(F.filter(tok, lambda x: F.array_contains(en_stop, x))).cast(
        "bigint"
    )
    sum_tok_len = F.aggregate(
        tok, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
    )
    nz = lambda d: F.when(d > 0, d)  # noqa: E731  NULL-safe denominators
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "punct_ratio": F.round(n_punct / nz(n_chars), 6),
        "stopword_ratio": F.round(n_stop / nz(n_tokens), 6),
        "mean_token_len": F.round(sum_tok_len / nz(n_tokens), 6),
    }


def char_entropy(text: Column | str) -> Column:
    """Shannon entropy (nats) of the normalized text's CHARACTER
    distribution — the cheap gibberish/boilerplate detector that
    complements the token-level quality metrics: keyboard mash and
    base64 blobs score HIGH, repeated-padding spam scores LOW, natural
    language sits in a stable mid band. NULL for empty/NULL text.

    Deterministic cross-engine: the fold runs over the SORTED distinct
    character set (unsorted distinct order differs between engines and
    double summation is order-sensitive), and the result rounds to 6.
    Pure higher-order expressions; one pass per row, no shuffle.
    """
    norm = normalize_text(text)
    chars = F.split(norm, "")
    n = F.length(norm).cast("double")
    cnt = lambda c: F.size(F.filter(chars, lambda x: x == c)).cast("double")  # noqa: E731
    term = lambda c: (cnt(c) / n) * F.log(cnt(c) / n)  # noqa: E731
    ent = -F.aggregate(
        F.array_sort(F.array_distinct(chars)),
        F.lit(0.0),
        lambda acc, c: acc + term(c),
    )
    return F.when(
        norm.isNull() | (F.length(norm) == 0), F.lit(None).cast("double")
    ).otherwise(F.round(ent, 6))


def lang_scores(text: Column | str) -> dict[str, Column]:
    """Per-language stopword-hit counts plus a CJK character count —
    the cheap lang-id signal (stopword n-gram heuristic)."""
    tok = tokens(text)
    scores: dict[str, Column] = {}

    def contains(words: tuple[str, ...]):
        # closure factory, NOT a default arg: Spark counts lambda params
        # to decide (element) vs (element, index) form
        arr = F.array(*[F.lit(w) for w in words])
        return lambda x: F.array_contains(arr, x)

    for lang, words in STOPWORDS.items():
        scores[lang] = F.size(F.filter(tok, contains(words))).cast("bigint")
    t = _col(text)
    cjk = (
        F.coalesce(F.length(t), F.lit(0))
        - F.coalesce(F.length(F.regexp_replace(t, r"[一-鿿]", "")), F.lit(0))
    ).cast("bigint")
    scores["zh"] = cjk
    return scores


def lang_id(text: Column | str) -> Column:
    """Argmax over ``lang_scores`` with deterministic tiebreak
    (language code ascending); all-zero scores -> 'und'."""
    scores = lang_scores(text)
    ordered = sorted(scores.items())  # tiebreak: first alphabetically wins
    best_lang = F.lit("und")
    best_score = F.lit(0).cast("bigint")
    for lang, score in ordered:
        is_better = score > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, score).otherwise(best_score)
    return best_lang


# PII patterns for the pre-training scrub pass. Deliberately
# high-precision shapes (emails, international/US phone numbers, IPv4,
# 13-19-digit card runs, SSN-style triples) restricted to constructs
# Java regex handles without backtracking blowup — each is a single
# linear scan per document. Recall-first PII systems layer NER models
# on top; this is the cheap always-on tier that runs over 100 TB.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"(?<![0-9])(?:\+?[0-9]{1,3}[-. ])?(?:\([0-9]{3}\)[-. ]?|[0-9]{3}[-. ])[0-9]{3}[-. ][0-9]{4}(?![0-9])",
    "ipv4": r"(?<![0-9.])(?:[0-9]{1,3}\.){3}[0-9]{1,3}(?![0-9.])",
    "card": r"(?<![0-9])[0-9]{13,19}(?![0-9])",
    "ssn": r"(?<![0-9])[0-9]{3}-[0-9]{2}-[0-9]{4}(?![0-9])",
}


def redact_pii(
    text: Column | str, kinds: tuple[str, ...] | None = None
) -> Column:
    """Replace each PII match with ``<KIND>`` (e.g. ``<EMAIL>``) —
    chained ``regexp_replace``, one linear pass per pattern, pure JVM
    codegen. Order matters: SSN/phone run before the bare digit-run
    card pattern so their hyphenated forms aren't half-eaten.
    ``kinds=None`` means all patterns; an explicit empty collection
    means redact nothing (dynamic kind lists must not silently widen
    to everything)."""
    out = _col(text)
    if kinds is None:
        kinds = ("email", "ssn", "phone", "ipv4", "card")
    for kind in kinds:
        out = F.regexp_replace(out, PII_PATTERNS[kind], f"<{kind.upper()}>")
    return out


def pii_counts(text: Column | str) -> dict[str, Column]:
    """Per-kind match counts (``regexp_count``) — the audit side:
    docs with counts all zero are clean; aggregate for corpus-level
    PII incidence reports."""
    c = _col(text)
    return {
        f"n_{kind}": F.regexp_count(c, F.lit(pat)).cast("bigint")
        for kind, pat in PII_PATTERNS.items()
    }


# The Gopher rules' stopword-presence check uses ITS OWN word list
# (Rae et al. 2021, arXiv:2112.11446 §A1.1: "the, be, to, of, and,
# that, have, with"), distinct from the lang-id STOPWORDS above.
GOPHER_STOP: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def gopher_rules(
    text: Column | str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> dict[str, Column]:
    """The Gopher document-quality heuristics (Rae et al. 2021,
    arXiv:2112.11446 §A1.1) as one codegen column bundle: word-count
    band, mean-word-length band, ``#``/``...`` symbol-to-word ratio,
    bullet-start and ellipsis-end line fractions, alphabetic-word
    fraction, and the required-stopword presence check — plus ``keep``,
    the conjunction. This is the standard doc-level gate a pretraining
    pipeline runs between lang-id and dedup; every signal is a pure
    row-local expression (HOFs + length arithmetic, no regex
    backtracking, no shuffle), so the gate costs one scan at any scale.

    Symbol counts use replace-based arithmetic (``length(t) -
    length(replace(t, s))``) rather than regex so DuckDB oracles
    reproduce them exactly; ratios ``round(x, 6)`` for
    representation-stable comparisons. NULL-safe: an empty/NULL
    document fails every rule explicitly (``keep = false``, never
    NULL).
    """
    t = _col(text)
    tok = tokens(t)
    n_words = F.size(tok).cast("bigint")
    nz = F.when(n_words > 0, n_words)
    mean_word_len = F.round(
        F.aggregate(tok, F.lit(0).cast("bigint"), lambda a, x: a + F.length(x))
        / nz,
        6,
    )
    n_hash = (
        F.coalesce(F.length(t), F.lit(0))
        - F.coalesce(F.length(F.replace(t, F.lit("#"), F.lit(""))), F.lit(0))
    ).cast("bigint")
    n_ellipsis = (
        (
            F.coalesce(F.length(t), F.lit(0))
            - F.coalesce(
                F.length(F.replace(t, F.lit("..."), F.lit(""))), F.lit(0)
            )
        )
        / 3
    ).cast("bigint")
    symbol_ratio = F.round((n_hash + n_ellipsis) / nz, 6)
    alpha_frac = F.round(
        F.size(F.filter(tok, lambda x: x.rlike("[a-z]"))) / nz, 6
    )
    lines = F.when(
        t.isNull() | (t == ""), F.array().cast("array<string>")
    ).otherwise(F.split(t, "\n"))
    n_lines = F.size(lines).cast("bigint")
    nzl = F.when(n_lines > 0, n_lines)
    bullet_frac = F.round(
        F.size(
            F.filter(
                lines,
                lambda l: F.trim(l).startswith("-")
                | F.trim(l).startswith("*")
                | F.trim(l).startswith("•"),
            )
        )
        / nzl,
        6,
    )
    ellipsis_frac = F.round(
        F.size(F.filter(lines, lambda l: F.trim(l).endswith("..."))) / nzl, 6
    )
    stop_arr = F.array(*[F.lit(w) for w in GOPHER_STOP])
    stop_hits = F.size(
        F.filter(stop_arr, lambda w: F.array_contains(tok, w))
    ).cast("bigint")
    nn = lambda c: F.coalesce(c, F.lit(False))  # noqa: E731  empty doc -> false
    rules = {
        "r_word_count": nn((n_words >= min_words) & (n_words <= max_words)),
        "r_mean_word_len": nn(
            (mean_word_len >= min_mean_len) & (mean_word_len <= max_mean_len)
        ),
        "r_symbol_ratio": nn(symbol_ratio <= max_symbol_ratio),
        "r_bullet_lines": nn(bullet_frac <= max_bullet_frac),
        "r_ellipsis_lines": nn(ellipsis_frac <= max_ellipsis_frac),
        "r_alpha_words": nn(alpha_frac >= min_alpha_frac),
        "r_stopwords": nn(stop_hits >= min_stop_hits),
    }
    keep = F.lit(True)
    for r in rules.values():
        keep = keep & r
    return {
        "n_words": n_words,
        "mean_word_len": mean_word_len,
        "symbol_ratio": symbol_ratio,
        "alpha_frac": alpha_frac,
        "stop_hits": stop_hits,
        **rules,
        "keep": keep,
    }


# Substrings whose presence disqualifies a line under the C4 cleaning
# rules (Raffel et al. 2020, arXiv:1910.10683 §2.2) — boilerplate
# markers, matched case-insensitively.
C4_BAD_SUBSTRINGS: tuple[str, ...] = ("lorem ipsum", "javascript")
C4_TERMINAL: tuple[str, ...] = (".", "!", "?", '"')


def c4_line_filter(
    text: Column | str, min_line_words: int = 5
) -> dict[str, Column]:
    """C4-style LINE-level cleaning (Raffel et al. 2020,
    arXiv:1910.10683 §2.2): keep a line iff it (1) ends in terminal
    punctuation, (2) has at least ``min_line_words`` whitespace words,
    (3) contains no curly brace (code/boilerplate marker), and (4)
    contains none of ``C4_BAD_SUBSTRINGS`` case-insensitively; the
    document is REBUILT from surviving lines. The complement of the
    doc-level ``gopher_rules`` gate — that drops whole documents, this
    salvages the good lines of mixed ones.

    Returns ``{n_lines, n_kept, kept_text}``. Entirely row-local HOFs
    (one filter pass over the split lines, no regex beyond whitespace
    collapse): one scan, zero shuffles, at any corpus size.
    """
    t = _col(text)
    lines = F.when(
        t.isNull() | (t == ""), F.array().cast("array<string>")
    ).otherwise(F.split(t, "\n"))

    def _ok(l):
        lt = F.trim(l)
        low = F.lower(lt)
        punct_ok = F.lit(False)
        for p in C4_TERMINAL:
            punct_ok = punct_ok | lt.endswith(p)
        n_w = F.when(lt == "", F.lit(0)).otherwise(
            F.size(
                F.split(
                    F.trim(F.regexp_replace(l, rf"[{_WS_CLASS}]+", " ")),
                    " ",
                )
            )
        )
        clean = ~low.contains("{") & ~low.contains("}")
        for bad in C4_BAD_SUBSTRINGS:
            clean = clean & ~low.contains(bad)
        return punct_ok & (n_w >= min_line_words) & clean

    kept = F.filter(lines, _ok)
    return {
        "n_lines": F.size(lines).cast("bigint"),
        "n_kept": F.size(kept).cast("bigint"),
        "kept_text": F.array_join(kept, "\n"),
    }


def tfidf_top_terms(
    df: "DataFrame",  # noqa: F821 - forward ref, avoids module-level import
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    persist_intermediates: bool = True,
) -> "DataFrame":  # noqa: F821
    """Top-``k`` terms per document by tf-idf (SURVEY §7.1's tf-idf
    text analysis): ``tf = count(term in doc) / len(doc)``, smoothed
    ``idf = ln((N + 1) / (df + 1)) + 1`` (the scikit-learn smoothing —
    never negative, never divides by zero), ranked per doc on the
    ROUNDED score with the term as tiebreak so the result set is
    deterministic and engine-independent.

    Scale shape: tokenize once (explode_outer — see _doc_shingles'
    pushdown note in dedup.py), one (doc, term) count aggregation
    (map-side combinable), per-term document frequencies derived FROM
    that compact count table (no second pass over text) and partially
    combined BEFORE their term-keyed shuffle — the shuffle moves
    per-partition (term, count) rows, strictly less than any
    window-over-term would — then broadcast back; per-doc lengths as a
    whole-partition sum window RIDING the rank window's doc_id exchange
    (same partition key, one shuffle serves both) instead of a separate
    aggregate + join; N via a broadcast one-row aggregate (in-plan
    scalar, A5 discipline — no driver action). Total: three linear
    shuffles (fan-out, (doc, term) count, doc_id window) plus the tiny
    combined dfreq exchange; term-frequency skew lands only in the
    pre-combined dfreq aggregation, never in a window.

    ``persist_intermediates`` caches the compact (doc, term, count)
    table: it feeds TWO consumers (the scored rows and the per-term
    docfreqs); uncached, each branch re-runs tokenize + explode +
    count over the corpus. Same discipline and memory note as
    jaccard_pairs — disable if the distinct (doc, term) table exceeds
    cluster memory+disk cache.

    Returns ``(doc_id, rank, term, tfidf)``.
    """
    from pyspark.sql import Window

    from .relational import spread

    toks = spread(df.select(F.col(id_col).alias("doc_id"), text_col)).select(
        "doc_id", tokens(text_col).alias("__tok")
    )
    terms = toks.select(
        "doc_id", F.explode_outer("__tok").alias("term")
    ).where(F.col("term").isNotNull())
    tc = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("__tf_raw"))
    if persist_intermediates:
        from .relational import materialize_intermediate

        # eager=False (r14, VERDICT r13 #1): this intermediate is ONE
        # map-side-combined aggregate with exactly two consumers; the
        # driver's quiet 8-core bench showed the r13 eager checkpoint
        # costing more than the cold-cache race it removes
        # (tfidf_top_terms 1.19→1.60s at sf0.1). Lazy persist restores
        # the benched-green pre-r13 behavior.
        tc = materialize_intermediate(tc, eager=False)
    dfreq = tc.groupBy("term").agg(F.count(F.lit(1)).alias("__df"))
    n_docs = df.select(F.count(F.lit(1)).alias("__n_docs"))
    wd = Window.partitionBy("doc_id")
    scored = (
        # dfreq's broadcast is left to AQE: tiny vocabularies broadcast,
        # a 100 TB open vocabulary falls back to sort-merge + skew split
        tc.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("__doc_len", F.sum("__tf_raw").over(wd))
        .select(
            "doc_id",
            "term",
            F.round(
                (F.col("__tf_raw").cast("double") / F.col("__doc_len").cast("double"))
                * (
                    F.log(
                        (F.col("__n_docs").cast("double") + 1.0)
                        / (F.col("__df").cast("double") + 1.0)
                    )
                    + 1.0
                ),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("doc_id", "rank", "term", "tfidf")
    )


def importance_llr(
    df: "DataFrame",  # noqa: F821
    target_df: "DataFrame",  # noqa: F821
    text_col: str = "text",
    id_col: str = "doc_id",
    persist_intermediates: bool = True,
) -> "DataFrame":  # noqa: F821
    """DSIR-style importance weighting (Xie et al. 2023,
    arXiv:2302.03169), reduced to its unigram term: per document, the
    mean log-likelihood RATIO between a TARGET domain's unigram model
    and the raw corpus's own — ``avg_llr > 0`` means "more plausible
    under the target than under the background", the deterministic
    keep gate of importance resampling (DSIR adds Gumbel noise for a
    soft sample; the hard ratio gate is the reproducible tier a 100 TB
    selection run wants). Both models use add-one smoothing
    (``p(w) = (ctf + 1) / (T + V)``), so out-of-vocabulary words are
    defined on both sides.

    Determinism: each per-term ``ln p`` is rounded to 6 places and the
    per-doc accumulation runs in exact DECIMAL arithmetic
    (``unigram_logprob``'s convention), so the score is independent of
    partitioning and reproducible in DuckDB.

    Scale shape: ONE tokenize pass over the scored corpus into compact
    ``(doc, term, tf)`` counts (persisted — it feeds both the scoring
    join and the raw-model totals, so the background model costs no
    second pass over text); the target model tokenizes only the target
    slice; T/V for both models ride broadcast one-row aggregates; the
    scoring joins are term-keyed over the compact count table.
    """
    from .relational import spread

    def term_counts(src):
        toks = spread(
            src.select(F.col(id_col).alias("doc_id"), text_col)
        ).select("doc_id", tokens(text_col).alias("__tok"))
        terms = toks.select(
            "doc_id", F.explode_outer("__tok").alias("term")
        ).where(F.col("term").isNotNull())
        return terms.groupBy("doc_id", "term").agg(
            F.count(F.lit(1)).alias("__tf")
        )

    tc = term_counts(df)
    if persist_intermediates:
        from .relational import materialize_intermediate

        # tc feeds the raw-model totals AND the scoring join; eager +
        # lineage-truncating (r13) — the totals run as concurrent
        # broadcast futures and raced the cold cache
        tc = materialize_intermediate(tc)
    raw_ctf = tc.groupBy("term").agg(F.sum("__tf").alias("__rctf"))
    tgt_ctf = term_counts(target_df).groupBy("term").agg(
        F.sum("__tf").alias("__tctf")
    )
    raw_tot = raw_ctf.agg(
        F.sum("__rctf").alias("__rt"), F.count(F.lit(1)).alias("__rv")
    )
    tgt_tot = tgt_ctf.agg(
        F.sum("__tctf").alias("__tt"), F.count(F.lit(1)).alias("__tv")
    )

    def logp(ctf, t, v):
        return F.round(
            F.log(
                (F.coalesce(ctf, F.lit(0)).cast("double") + 1.0)
                / (t.cast("double") + v.cast("double"))
            ),
            6,
        ).cast("decimal(18,6)")

    llr = logp(F.col("__tctf"), F.col("__tt"), F.col("__tv")) - logp(
        F.col("__rctf"), F.col("__rt"), F.col("__rv")
    )
    scored = (
        tc.join(tgt_ctf, "term", "left")
        .join(raw_ctf, "term", "left")
        .crossJoin(F.broadcast(tgt_tot))
        .crossJoin(F.broadcast(raw_tot))
        .groupBy("doc_id")
        .agg(
            F.sum("__tf").cast("bigint").alias("n_tokens"),
            F.sum(F.col("__tf").cast("decimal(18,0)") * llr).alias("__s"),
        )
    )
    avg = F.round(F.col("__s").cast("double") / F.col("n_tokens"), 6)
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_tokens"), F.lit(0))
            .cast("bigint")
            .alias("n_tokens"),
            avg.alias("avg_llr"),
            F.coalesce(avg > 0, F.lit(False)).alias("keep"),
        )
    )


def vocab_shift_topk(
    df: "DataFrame",  # noqa: F821
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
) -> "DataFrame":  # noqa: F821
    """Token-distribution drift between two deterministic corpus
    halves (even vs odd ``id`` — stand-ins for crawl A vs crawl B):
    the top-``k`` terms by smoothed KL contribution
    ``p_a * ln(p_a / p_b)``, the text-domain sibling of
    ``contract.psi_drift`` — a topic shift, a language mix change, or
    a scraper regression shows up as a handful of terms carrying
    outsized contribution long before doc-level metrics move. Add-one
    smoothing over the UNION vocabulary defines both sides for terms
    unique to one half.

    Determinism: contributions round to 6 places, ranking breaks ties
    on the term, so the report is engine-independent. Scale shape: one
    tokenize pass into (term, half) counts (map-side combinable),
    totals as ONE broadcast one-row aggregate (A5 in-plan scalars),
    top-k as a TakeOrdered — no corpus-wide sort.
    """
    from .relational import spread

    terms = (
        spread(df.select(F.col(id_col).alias("__id"), text_col))
        .select(
            (F.col("__id") % 2).alias("__half"),
            F.explode_outer(tokens(text_col)).alias("term"),
        )
        .where(F.col("term").isNotNull())
    )
    counts = terms.groupBy("term").agg(
        F.sum(F.when(F.col("__half") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("c_a"),
        F.sum(F.when(F.col("__half") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("c_b"),
    )
    totals = counts.agg(
        F.sum("c_a").alias("__ta"),
        F.sum("c_b").alias("__tb"),
        F.count(F.lit(1)).alias("__v"),
    )
    p = lambda c, t: (c.cast("double") + 1.0) / (  # noqa: E731
        t.cast("double") + F.col("__v").cast("double")
    )
    pa = p(F.col("c_a"), F.col("__ta"))
    pb = p(F.col("c_b"), F.col("__tb"))
    contrib = F.round(pa * F.log(pa / pb), 6)
    scored = counts.crossJoin(F.broadcast(totals)).select(
        "term", "c_a", "c_b", contrib.alias("kl_contrib")
    )
    return scored.orderBy(F.desc("kl_contrib"), F.asc("term")).limit(k)


def cdc_segments(
    text: Column | str,
    avg_tokens: int = 8,
    keep_text: bool = False,
) -> Column:
    """Content-defined segmentation of the token stream (the FastCDC /
    rsync idea lifted to word level): a token ENDS a segment when
    ``md5(token) % avg_tokens == 0``, so boundaries are a pure function
    of LOCAL content — inserting or deleting a token early in a
    document re-cuts only the segment containing the edit, while every
    later segment (and therefore its hash) is unchanged. Fixed-window
    chunking (``packing.chunk_documents``) has the opposite property:
    one early edit shifts every subsequent chunk boundary and changes
    every chunk hash — useless for dedup of edited near-copies. CDC
    segment hashes are the standard shift-robust dedup key (dedupe
    storage, rsync, LLM-corpus near-dup against revised crawls).

    Returns an ``array<struct<seg_idx int, seg_hash string,
    n_seg_tokens int>>`` — hashes only (md5 of the space-joined
    segment), deliberately not the text, since downstream joins key on
    the hash. With ``keep_text=True`` each struct carries a fourth
    ``seg_text`` field (the space-joined segment itself) for consumers
    that must REBUILD documents after span-level dedup
    (``dedup.dedup_spans``) — pay the wider shuffle only when asked.
    Empty/NULL text -> empty array. Expected segment length
    is ``avg_tokens`` (geometric); the final partial segment is kept.

    Pure higher-order expressions (boundary flags -> boundary position
    list -> zip_with over [start, end) pairs -> slice + hash): runs in
    whole-stage codegen, zero shuffles, and every step is reproducible
    in DuckDB list SQL for the oracle.
    """
    tok = tokens(text)
    n = F.size(tok)
    # positions (0-based) whose token closes a segment
    bpos = F.filter(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.conv(
            F.substring(F.md5(F.element_at(tok, i + 1)), 1, 4), 16, 10
        ).cast("long")
        % avg_tokens
        == 0,
    )
    starts = F.concat(
        F.array(F.lit(0)), F.transform(bpos, lambda p: p + 1)
    )
    ends = F.concat(F.transform(bpos, lambda p: p + 1), F.array(n))
    segs = F.zip_with(
        starts,
        ends,
        lambda s, e: F.struct(
            s.alias("s"), (e - s).alias("len")
        ),
    )
    segs = F.filter(segs, lambda st: st.getField("len") > 0)

    def _seg_struct(st, i):
        seg_text = F.array_join(
            F.slice(tok, st.getField("s") + 1, st.getField("len")), " "
        )
        fields = [
            i.cast("int").alias("seg_idx"),
            F.md5(seg_text).alias("seg_hash"),
            st.getField("len").cast("int").alias("n_seg_tokens"),
        ]
        if keep_text:
            fields.append(seg_text.alias("seg_text"))
        return F.struct(*fields)

    out = F.transform(segs, _seg_struct)
    schema = "array<struct<seg_idx:int,seg_hash:string,n_seg_tokens:int>>"
    if keep_text:
        schema = schema[:-2] + ",seg_text:string>>"
    empty = F.array().cast(schema)
    return F.when(n <= 0, empty).otherwise(out)


def unigram_logprob(
    df: "DataFrame",  # noqa: F821
    text_col: str = "text",
    id_col: str = "doc_id",
    model_df: "DataFrame | None" = None,  # noqa: F821
    persist_intermediates: bool = True,
) -> "DataFrame":  # noqa: F821
    """Per-document mean negative unigram log-probability — the
    perplexity-PROXY quality score (the CCNet/Wikipedia-LM filtering
    signal, reduced to its unigram term: documents whose words are
    improbable under a reference corpus score high and get filtered or
    down-weighted). ``model_df`` is the REFERENCE corpus the unigram
    model is estimated from (token counts + add-one smoothing);
    defaults to ``df`` itself (self-scoring — the in-corpus outlier
    detector).

    ``p(w) = (ctf(w) + 1) / (T + V)`` with ctf = model term frequency,
    T = model token count, V = model vocabulary size; out-of-vocabulary
    words get ctf = 0. Per doc: ``avg_neg_logprob =
    sum(tf * -ln p) / n_tokens`` (empty docs -> NULL, n_tokens 0).

    Determinism: each term's ``-ln p`` is rounded to 6 places and the
    per-doc accumulation runs in exact DECIMAL arithmetic, so the score
    is independent of partitioning / combine order and reproducible on
    any engine (the DuckDB oracle recomputes it bit-for-bit; the ln()
    parity precedent is tfidf_top_terms).

    Scale shape: one tokenize pass per corpus into compact
    ``(doc, term, tf)`` counts (map-side combinable); the model side
    collapses to per-term totals partially combined BEFORE the
    term-keyed shuffle; T and V ride ONE broadcast one-row aggregate
    (in-plan scalars, A5 discipline); the score join is term-keyed
    (AQE broadcasts small vocabularies, falls back to sort-merge with
    skew split on open ones) and the final aggregate is doc-keyed.
    Nothing is collected; no window over an unbounded partition.
    """
    from .relational import spread

    def term_counts(src):
        toks = spread(src.select(F.col(id_col).alias("doc_id"), text_col)).select(
            "doc_id", tokens(text_col).alias("__tok")
        )
        terms = toks.select(
            "doc_id", F.explode_outer("__tok").alias("term")
        ).where(F.col("term").isNotNull())
        return terms.groupBy("doc_id", "term").agg(
            F.count(F.lit(1)).alias("__tf")
        )

    tc = term_counts(df)
    if model_df is None:
        if persist_intermediates:
            from .relational import materialize_intermediate

            # tc feeds both the model totals and the scoring join
            tc = materialize_intermediate(tc)
        model_tc = tc
    else:
        model_tc = term_counts(model_df)
    ctf = model_tc.groupBy("term").agg(F.sum("__tf").alias("__ctf"))
    totals = ctf.agg(
        F.sum("__ctf").alias("__t"), F.count(F.lit(1)).alias("__v")
    )
    neg_logp = F.round(
        -F.log(
            (F.coalesce(F.col("__ctf"), F.lit(0)).cast("double") + 1.0)
            / (F.col("__t").cast("double") + F.col("__v").cast("double"))
        ),
        6,
    ).cast("decimal(18,6)")
    scored = (
        tc.join(ctf, "term", "left")  # left: OOV terms keep ctf NULL -> 0
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.sum("__tf").cast("bigint").alias("n_tokens"),
            F.sum(F.col("__tf").cast("decimal(18,0)") * neg_logp).alias("__s"),
        )
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("bigint").alias(
                "n_tokens"
            ),
            F.round(
                F.col("__s").cast("double") / F.col("n_tokens").cast("double"),
                6,
            ).alias("avg_neg_logprob"),
        )
    )


def vocabulary(
    df: "DataFrame",  # noqa: F821
    text_col: str = "text",
    id_col: str = "doc_id",
) -> "DataFrame":  # noqa: F821
    """Corpus vocabulary: ``(word, term_freq, doc_freq)`` — the
    tokenizer-training / frequency-filter primitive (a BPE trainer,
    stopword inference, or a min-doc-freq vocabulary cut all start
    from exactly this table).

    Scale shape: one tokenize pass, then Spark's standard two-phase
    distinct aggregation — the partial aggregate keys on
    ``(word, doc)``, so a stop word appearing in every document skews
    no single reducer (the doc id spreads it); the second phase merges
    per-word rows that are already maximally compact. Both phases are
    map-side combinable; nothing is collected.

    Returns the FULL vocabulary — callers apply their own frequency
    cut (top-k via a deterministic TakeOrdered, min-df via a filter).
    """
    words = df.select(
        F.col(id_col).alias("__doc"),
        F.explode(tokens(text_col)).alias("word"),
    )
    return words.groupBy("word").agg(
        F.count(F.lit(1)).cast("bigint").alias("term_freq"),
        F.count_distinct("__doc").cast("bigint").alias("doc_freq"),
    )


def heavy_hitter_words(
    df: "DataFrame",  # noqa: F821
    text_col: str = "text",
    min_share: float = 0.001,
    candidate_factor: int = 4,
) -> "DataFrame":  # noqa: F821
    """Words with corpus share >= ``min_share``, by the two-pass
    heavy-hitters pattern — the scale regime where the full vocabulary
    is too large to aggregate exactly (web-scale corpora with unbounded
    token junk) but the heavy tail is what filters/stopword inference
    actually need.

    Pass 1 runs a Misra-Gries summary per PARTITION (Arrow-batched,
    capacity ``candidate_factor / min_share`` counters): any word with
    global share >= min_share must exceed the local threshold in at
    least one partition (pigeonhole), so the union of per-partition
    candidates is a SUPERSET of the true heavy hitters — no false
    negatives, bounded memory, and only candidate WORDS are shuffled,
    never per-occurrence rows. Pass 2 re-counts ONLY the candidates
    exactly (broadcast the candidate set into a row-local array filter,
    then the standard map-side-combinable count) and applies the
    threshold on true counts, discarding pass-1 false positives.

    Exactness: output equals the full-aggregation answer for every
    word at/above the threshold (asserted against text.vocabulary in
    tests); the approximation only ever bounds pass-1 memory.

    Returns ``(word, term_freq, share)``, share rounded to 6.
    """
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import functions as F

    capacity = max(int(candidate_factor / min_share), 16)

    def mg_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        for pdf in batches:
            for text in pdf["__norm"]:
                if not text:
                    continue
                for w in text.split(" "):
                    if w in counters:
                        counters[w] += 1
                    elif len(counters) < capacity:
                        counters[w] = 1
                    else:  # decrement-all step, dict-sweep form
                        dead = []
                        for key in counters:
                            counters[key] -= 1
                            if counters[key] == 0:
                                dead.append(key)
                        for key in dead:
                            del counters[key]
        yield pd.DataFrame({"word": list(counters.keys())})

    normed = df.select(normalize_text(text_col).alias("__norm"))
    candidates = (
        normed.mapInPandas(mg_partition, "word string").distinct()
    )
    # pass 2: exact counts of candidates only — candidate set broadcasts
    # (bounded by partitions x capacity), occurrences never shuffle as
    # raw rows, the count aggregate combines map-side
    tok = df.select(F.explode(tokens(text_col)).alias("word"))
    total = tok.select(F.count(F.lit(1)).alias("__n"))
    counted = (
        tok.join(F.broadcast(candidates), "word")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("term_freq"))
    )
    return (
        counted.crossJoin(F.broadcast(total))
        .where(F.col("term_freq") >= F.col("__n") * F.lit(min_share))
        .select(
            "word",
            "term_freq",
            F.round(F.col("term_freq") / F.col("__n"), 6).alias("share"),
        )
    )


def collocations(
    df: "DataFrame",  # noqa: F821
    text_col: str = "text",
    min_count: int = 5,
    k: int = 200,
) -> "DataFrame":  # noqa: F821
    """Top-``k`` collocations (adjacent word pairs) by pointwise mutual
    information: ``pmi = ln( p(ab) / (p(a) p(b)) )`` with bigram and
    unigram probabilities from corpus counts — the phrase-mining /
    tokenizer-merge-candidate primitive ("new york" scores high, "of
    the" scores low despite its raw frequency).

    Scale shape: one tokenize pass feeds both the exploded unigram
    count and the exploded bigram count (both map-side combinable);
    the two corpus totals ride along as broadcast one-row aggregates
    (in-plan scalars, no driver action); the per-bigram join fetches
    its two unigram counts by word key. ``min_count`` prunes the
    bigram tail BEFORE the joins — rare-pair noise is the bulk of the
    bigram vocabulary and PMI is meaningless there anyway. Top-k is a
    deterministic TakeOrdered on the unique (rounded pmi, bigram) key.

    Returns ``(bigram, pair_count, pmi)``, pmi rounded to 6.
    """
    from pyspark.sql import DataFrame  # noqa: F401

    toks = df.select(tokens(text_col).alias("__tok"))
    uni = (
        toks.select(F.explode("__tok").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__cw"))
    )
    n_uni = uni.agg(F.sum("__cw").alias("__n1"))
    bi = (
        toks.select(F.explode(word_bigrams(F.col("__tok"))).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("pair_count"))
    )
    n_bi = bi.agg(F.sum("pair_count").alias("__n2"))
    left = F.split(F.col("bigram"), " ").getItem(0)
    right = F.split(F.col("bigram"), " ").getItem(1)
    scored = (
        bi.where(F.col("pair_count") >= min_count)
        .withColumn("__w1", left)
        .withColumn("__w2", right)
        .join(uni.select(F.col("word").alias("__w1"), F.col("__cw").alias("__c1")), "__w1")
        .join(uni.select(F.col("word").alias("__w2"), F.col("__cw").alias("__c2")), "__w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
        .select(
            "bigram",
            "pair_count",
            F.round(
                F.log(
                    (F.col("pair_count").cast("double") / F.col("__n2").cast("double"))
                    / (
                        (F.col("__c1").cast("double") / F.col("__n1").cast("double"))
                        * (F.col("__c2").cast("double") / F.col("__n1").cast("double"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), F.asc("bigram")).limit(k)


def bigram_logprob(
    df: "DataFrame",  # noqa: F821
    text_col: str = "text",
    id_col: str = "doc_id",
    model_df: "DataFrame | None" = None,  # noqa: F821
    persist_intermediates: bool = True,
) -> "DataFrame":  # noqa: F821
    """Per-document mean negative BIGRAM log-probability — the
    context-aware upgrade of :func:`unigram_logprob`: a document of
    individually-common words in nonsense ORDER ("the of and is the
    of") scores innocuous under a unigram model but improbable under
    ``p(w2 | w1)``, which is what separates fluent text from shuffled
    or template-stitched text.

    Model: add-one-smoothed conditional
    ``p(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V)`` with c = model bigram /
    bigram-first counts and V the bigram-model vocabulary (distinct
    words appearing in any model bigram). ``model_df`` defaults to
    ``df`` (self-scoring). Per doc: ``avg_neg_logprob =
    sum(tf * -ln p) / n_bigrams``; documents with fewer than two
    tokens have no bigram and are absent from the output (callers
    left-join if they need NULL rows, as with every gate here).

    Determinism: per-bigram ``-ln p`` rounds to 6 places and
    accumulates in exact DECIMAL — partitioning-independent and
    engine-portable (the unigram_logprob discipline).

    Scale shape: ONE tokenize pass into (doc, w1, w2, tf) counts that
    feed both the model aggregation and the scoring join (persisted so
    the pass runs once); c(w1,w2), c(w1) and V are map-side-combinable
    aggregates of that same frame; V rides a broadcast one-row scalar
    (A5); scoring joins are bigram-keyed then w1-keyed — both uniform
    hash keys, no skew hot spot beyond natural stopword pairs, which
    AQE splits.
    """
    from .relational import spread

    def bigram_counts(src):
        toks = spread(
            src.select(F.col(id_col).alias("doc_id"), text_col)
        ).select("doc_id", tokens(text_col).alias("__tok"))
        n = F.size("__tok") - 1
        pairs = F.when(n < 1, F.array().cast("array<struct<w1:string,w2:string>>")).otherwise(
            F.zip_with(
                F.slice("__tok", 1, n),
                F.slice("__tok", 2, n),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        )
        bg = toks.select("doc_id", F.explode_outer(pairs).alias("__bg")).where(
            F.col("__bg").isNotNull()
        )
        return bg.select(
            "doc_id", F.col("__bg.w1").alias("w1"), F.col("__bg.w2").alias("w2")
        ).groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("__tf"))

    doc_bg = bigram_counts(df)
    if model_df is None:
        if persist_intermediates:
            from .relational import materialize_intermediate

            doc_bg = materialize_intermediate(doc_bg)
        model_bg = doc_bg
    else:
        model_bg = bigram_counts(model_df)
    c12 = model_bg.groupBy("w1", "w2").agg(F.sum("__tf").alias("__c12"))
    c1 = model_bg.groupBy("w1").agg(F.sum("__tf").alias("__c1"))
    vocab = (
        model_bg.select(F.col("w1").alias("w"))
        .unionByName(model_bg.select(F.col("w2").alias("w")))
        .agg(F.count_distinct("w").alias("__v"))
    )
    neg_logp = F.round(
        -F.log(
            (F.coalesce(F.col("__c12"), F.lit(0)).cast("double") + 1.0)
            / (
                F.coalesce(F.col("__c1"), F.lit(0)).cast("double")
                + F.col("__v").cast("double")
            )
        ),
        6,
    ).cast("decimal(18,6)")
    return (
        doc_bg.join(c12, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", F.col("__tf").alias("__tf"), neg_logp.alias("__nlp"))
        .groupBy("doc_id")
        .agg(
            F.sum("__tf").cast("bigint").alias("n_bigrams"),
            F.round(
                F.sum(F.col("__nlp") * F.col("__tf")).cast("double")
                / F.sum("__tf").cast("double"),
                6,
            ).alias("avg_neg_logprob"),
        )
    )


def _hash_cells(
    df: "DataFrame",  # noqa: F821
    text_col: str,
    id_col: str,
    dim: int,
) -> "DataFrame":  # noqa: F821
    """Shared sparse-cell builder for the feature-hashing embedder:
    (id_col, __d dimension, __v exact signed count). Tokens explode
    FIRST and the md5 dimension/sign land as row expressions — inside
    whole-stage codegen — rather than inside a transform() lambda on
    the interpreted path; the (doc, dim) aggregate is map-side
    combinable, so the only shuffle carries <= dim ~24-byte rows per
    doc and the text never crosses an exchange."""
    h = F.md5(F.col("__t"))
    return (
        df.select(F.col(id_col), F.explode(tokens(text_col)).alias("__t"))
        .select(
            id_col,
            F.pmod(
                F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), F.lit(dim)
            ).alias("__d"),
            F.when(F.substring(h, 9, 1) < "8", F.lit(1))
            .otherwise(F.lit(-1))
            .alias("__s"),
        )
        .groupBy(id_col, "__d")
        .agg(F.sum("__s").alias("__v"))
    )


def hash_embed(
    df: "DataFrame",  # noqa: F821
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 64,
    round_to: int = 6,
) -> "DataFrame":  # noqa: F821
    """Feature-hashing text embedder (HashingTF + sign trick +
    L2-normalize — Weinberger et al. 2009): each token hashes to a
    dimension and a ±1 sign, signed counts accumulate per dimension,
    and the vector normalizes to unit length. The model-free bridge
    from text into EVERY vector operator here (cosine_topk,
    cosine_pairs_lsh, SemDeDup, pca_whiten, rrf_fuse) — no external
    embedding model, no Python in the plan.

    Shape: one md5 pass per token computes (dimension, sign) pairs,
    then TWO COMPACT INTEGER shuffles — a (doc, dim) signed-count
    aggregate (map-side combinable, <= dim rows per doc, ~24
    bytes/row; the text itself never shuffles) and a per-doc
    map_from_entries collect — and an O(dim) row-local densify via
    element_at. A first cut built the vector with a per-dimension HOF
    fold instead (zero shuffles) and measured 170+ seconds at sf0.01:
    HOF lambdas run on the interpreted path, so O(dim x tokens)
    closure calls per row dwarf two 24-byte/row exchanges — the same
    measured trade documented at np_cosine. md5 is the repo-wide hash
    convention precisely so an external SQL engine reproduces every
    coordinate byte-for-byte (signed counts are exact integers; only
    the final normalize is float, rounded to ``round_to``).

    Sign balance: hex digit 9 of the token's md5 — '0'-'7' maps to +1,
    '8'-'f' to -1, an exact 50/50 split, which makes the estimator
    unbiased (E[<h(a), h(b)>] = <a, b> in expectation). Documents with
    no tokens (or full sign cancellation, norm 0) are absent from the
    output, like every gate here.

    Returns (id_col, embedding: array<double> of length ``dim``).
    """
    cells = _hash_cells(df, text_col, id_col, dim)
    dense = cells.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("__d"), F.col("__v")))
        ).alias("__m")
    )
    raw = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(
            F.element_at(F.col("__m"), i.cast("long")), F.lit(0).cast("long")
        ),
    )
    norm = F.sqrt(
        F.aggregate(
            F.col("__raw"),
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )
    return (
        dense.select(id_col, raw.alias("__raw"))
        .select(id_col, "__raw", norm.alias("__n"))
        .where(F.col("__n") > 0)
        .select(
            id_col,
            F.transform(
                F.col("__raw"),
                lambda v: F.round(v.cast("double") / F.col("__n"), round_to),
            ).alias("embedding"),
        )
    )


def hash_embed_long(
    df: "DataFrame",  # noqa: F821
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 64,
    round_to: int = 6,
) -> "DataFrame":  # noqa: F821
    """:func:`hash_embed` in LONG form — (id_col, pos, v) scalars, one
    row per (document, dimension) — without ever building the per-row
    array. Same cells, same coordinates (equality asserted in tests).

    Why a separate tail: exploding hash_embed's array output back to
    scalars re-evaluates the interpreted densify/normalize lambdas
    under the Generate (measured 7.5s vs 2.0s at sf0.1 for the same
    rows), whereas here the norm is computed INSIDE the per-doc
    aggregate (sqrt of the exact signed-count sum of squares — missing
    dimensions contribute 0, so the sparse cells suffice), the dense
    position grid comes from exploding a literal sequence, and the
    per-row value is one codegen map lookup + divide. No higher-order
    functions anywhere in the plan.
    """
    cells = _hash_cells(df, text_col, id_col, dim)
    dense = cells.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("__d"), F.col("__v")))
        ).alias("__m"),
        F.sqrt(
            F.sum(F.col("__v").cast("double") * F.col("__v").cast("double"))
        ).alias("__n"),
    )
    return (
        dense.where(F.col("__n") > 0)
        .select(
            id_col,
            "__m",
            "__n",
            F.explode(F.sequence(F.lit(0), F.lit(dim - 1))).alias("pos"),
        )
        .select(
            id_col,
            F.col("pos").cast("bigint").alias("pos"),
            F.round(
                F.coalesce(
                    F.element_at(F.col("__m"), F.col("pos").cast("long")),
                    F.lit(0).cast("long"),
                ).cast("double")
                / F.col("__n"),
                round_to,
            ).alias("v"),
        )
    )


def bm25_topk(
    df: "DataFrame",  # noqa: F821
    query_ids: "DataFrame",  # noqa: F821
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 6,
    max_df_ratio: float | None = 0.5,
) -> "DataFrame":  # noqa: F821
    """Okapi BM25 top-``k`` retrieval (Robertson & Walker 1994) — the
    standard lexical ranker, completing the retrieval tier next to the
    Jaccard arm (set overlap, no term weighting) and the vector arms:
    per query document, score every corpus document sharing a term by
    ``sum_t idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))``
    with ``idf = ln(1 + (N - df + 0.5) / (df + 0.5))``.

    Scale shape: ONE tokenize pass feeds term frequencies, document
    lengths, and document frequencies (all map-side-combinable
    aggregates of compact rows — the text itself never shuffles); the
    query terms broadcast against the (term)-keyed posting aggregate —
    an inverted-index join, never all-pairs — and N/avgdl enter as a
    broadcast 1-row scalar (A5 in-plan discipline). Work is linear in
    the corpus for a bounded query set.

    Determinism across engines: each per-term contribution rounds to
    12 decimals (absorbing libm ``ln`` ulp differences, the cosine
    convention) and accumulates in exact DECIMAL; the final score
    rounds to ``round_to`` and ranks with the id tiebreak.

    ``query_ids`` is a one-column (id_col) frame selecting the query
    documents from ``df``. Returns (query_id, id_col, bm25_score,
    rank), the query document itself excluded.

    ``max_df_ratio`` is the term-skew guard for Zipfian corpora
    (VERDICT r7 'What's missing' #2): a stopword-heavy vocabulary makes
    the per-query postings join approach |queries| x |corpus| rows
    through near-universal hot terms — the one place the retrieval
    tier can go quadratic-ish. When set, terms whose document
    frequency exceeds ``max_df_ratio * N`` are excluded from CANDIDATE
    GENERATION only: candidates are proposed through the
    discriminative (rare) query terms, then every survivor is scored
    with ALL its matching query terms — including the hot ones — so
    the scores of scored candidates are EXACTLY the unpruned scores
    and the ranking among them is rank-neutral by construction (the
    naive alternative, dropping hot terms from scoring, measurably
    reorders top-10s: a df/N = 0.5 term still carries idf = ln 2 —
    see artifacts/BM25_SKEW_PROBE_r08.json, a threshold scan on a planted
    Zipfian corpus; the probe also quantifies the one semantic
    difference, documents sharing ONLY above-threshold terms with the
    query, which score far below any content-term match). Scoring
    joins the candidate pairs back map-side (broadcast — the pair set
    is bounded by the generation volume the prune just cut), so no
    stage is proportional to hot-term postings.

    The guard defaults ON at 0.5 (VERDICT r8 #3 — the skew probe's
    recommendation; a user pointing the old opt-in default at a real
    Zipfian corpus got the 12x-larger postings join) with ``None`` as
    the escape hatch for exact standard-BM25 semantics. Two safety
    properties make the default sane: (a) a query whose EVERY term is
    hot falls back to all its terms for candidate generation (the
    starvation fallback — without it a degenerate tiny-vocabulary
    corpus returns empty results, measured on this repo's 31-term
    synthetic corpus where df/N reaches 0.80); (b) survivors always
    score with all matching terms, so the only possible divergence
    from unpruned BM25 is a candidate sharing ONLY above-threshold
    terms with the query — which the `bm25_default_guard_retrieval`
    oracle pins end to end.
    """
    return bm25_topk_from_index(
        bm25_index(df, text_col=text_col, id_col=id_col),
        query_ids,
        id_col=id_col,
        k=k,
        k1=k1,
        b=b,
        round_to=round_to,
        max_df_ratio=max_df_ratio,
    )


# Bounded rotation of persisted BM25 tf states (see
# bm25_topk_from_index): newest-4 stay warm, older handles unpersist.
# Rotation is guarded by a lock — concurrent BM25 pipelines (or >4
# interleaved ones) may evict a handle a still-lazy earlier result
# references; that only costs a recompute, never correctness, but the
# list mutation itself must not race.
_BM25_TF_STATES: list = []
_BM25_TF_STATES_MAX = 4
_BM25_TF_STATES_LOCK = __import__("threading").Lock()


def bm25_index(
    df: "DataFrame",  # noqa: F821
    text_col: str = "text",
    id_col: str = "doc_id",
) -> "DataFrame":  # noqa: F821
    """The mergeable BM25 index state: long-form ``(id_col, term, tf)``
    — the SUFFICIENT statistic for Okapi BM25 (document length is the
    per-doc tf sum, document frequency the per-term row count, N/avgdl
    one aggregate over those), so the retrieval tier joins the repo's
    incremental family (count/HLL/CMS/histogram): per-batch partial
    indexes fold by plain sums into EXACTLY the index of the unioned
    corpus, and queries run against the folded state without
    re-tokenizing history — index maintenance at 100 TB touches only
    the arriving batch's text. NULL-id documents are dropped: they are
    not retrievable, and would feed avgdl and df but not N."""
    tok = df.where(F.col(id_col).isNotNull()).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("term")
    )
    return tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))


def merge_bm25_index(
    states: "Sequence[DataFrame]",  # noqa: F821
    id_col: str = "doc_id",
) -> "DataFrame":  # noqa: F821
    """Fold per-batch BM25 index states: per-(doc, term) tf sum — the
    same plain monoid as every partial state here, so folding N
    batches equals indexing their union exactly (asserted exactly in
    tests, including a document whose TEXT is split across batches at
    a whitespace boundary)."""
    from functools import reduce as _reduce

    merged = _reduce(lambda a, b: a.unionByName(b), states)
    return merged.groupBy(id_col, "term").agg(F.sum("tf").alias("tf"))


def bm25_topk_from_index(
    index: "DataFrame",  # noqa: F821
    query_ids: "DataFrame",  # noqa: F821
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 6,
    max_df_ratio: float | None = 0.5,
) -> "DataFrame":  # noqa: F821
    """Score and rank against a (possibly folded) :func:`bm25_index`
    state — the scoring tail of :func:`bm25_topk` (same parameters,
    bit-identical output: document length is derived as the per-doc tf
    sum, which equals the token count by construction). ``query_ids``
    selects query documents out of the indexed corpus. The term-skew
    guard defaults ON (``max_df_ratio=0.5``) with the starvation
    fallback — see :func:`bm25_topk` for the full contract. N counts
    distinct ids; :func:`bm25_index` keeps NULL ids out of the index."""
    from pyspark.sql.window import Window

    # four consumers read the (doc, term, tf) state (doc lengths, df
    # counts, query terms, the postings join) — persist so tokenize +
    # aggregate (or the fold) runs once. The persisted handle enters a
    # BOUNDED module-level rotation (ADVICE r8: with BM25 behind five
    # registry queries plus both hybrid arms, un-rotated persists
    # accumulated one cached state per invocation for the session's
    # lifetime); evicting a handle an earlier lazy result still
    # references merely recomputes it — never a correctness risk.
    sel = index.select(
        F.col(id_col), F.col("term").alias("__term"), F.col("tf").alias("__tf")
    )
    # r13 optimization round (guide §2.4/§5): materialize the index
    # state ONCE, eagerly, with its lineage truncated. The scoring
    # tail hangs ~10 consumers off this state (doc lengths, term df,
    # the 1-row N/avgdl scalars, query terms, the candidate set), and
    # Spark runs broadcast exchanges as CONCURRENT futures at job
    # start — under the previous lazy persist they all found the cache
    # cold and each raced the whole tokenize+aggregate subtree
    # (measured: 8 racing stages of 7-13s executor-run apiece at
    # sf0.1, tools/query_profile.py). An EAGER localCheckpoint both
    # materializes before any consumer executes and cuts the lineage,
    # so every consumer plans against a compact materialized leaf
    # instead of its own copy of the index subtree (the dedup_spans
    # spine precedent — DataFrame reuse is not plan reuse).
    #
    # Block lifecycle on this path (ADVICE r13, documented contract):
    # a checkpointed leaf's blocks live exactly as long as something
    # references the RDD — each RESULT DataFrame holds one through its
    # plan, so blocks are freed by the JVM ContextCleaner when the
    # last retaining result is garbage-collected, and a bounded
    # rotation here could only EXTEND lifetimes (pinning the newest K
    # leaves alive after their results die), never shorten them: there
    # is no unpersist for a leaf a live result still needs. The cap is
    # therefore per-CALLER: a long-lived driver that retains N BM25
    # result DataFrames retains up to N index-sized block sets; drop
    # result references (or collect results and let the frames go) to
    # free them. Streaming folds (per micro-batch inside foreachBatch,
    # where eager actions on the unbound frame are illegal) keep the
    # lazy persist + the bounded _BM25_TF_STATES rotation, where
    # explicit unpersist IS safe (evicting merely forces a recompute).
    if sel.isStreaming:
        tf = sel.persist()
        with _BM25_TF_STATES_LOCK:
            while len(_BM25_TF_STATES) >= _BM25_TF_STATES_MAX:
                try:
                    _BM25_TF_STATES.pop(0).unpersist(False)
                except Exception:
                    pass  # a dead SparkSession just means nothing to free
            _BM25_TF_STATES.append(tf)
    else:
        tf = sel.localCheckpoint(eager=True)
    dlen = tf.groupBy(id_col).agg(F.sum("__tf").alias("__dl"))
    # r14 (guide §2.3, VERDICT r13 #7): N/avgdl straight off the leaf in
    # ONE aggregate — avg(dl) over docs == sum(all tf) / n_docs and
    # n_docs == count_distinct(id) (both exact integer sums divided as
    # doubles, bit-identical to avg over the per-doc sums) — instead of
    # chaining a 1-row aggregate on a SECOND dlen subtree; the dlen
    # per-doc aggregate itself now computes once (for the dl attach)
    # rather than once per consumer.
    stats = tf.agg(
        F.count_distinct(F.col(id_col)).alias("__n"),
        (
            F.sum("__tf").cast("double")
            / F.count_distinct(F.col(id_col)).cast("double")
        ).alias("__avgdl"),
    )
    qterms = tf.join(
        F.broadcast(query_ids.select(F.col(id_col))), id_col
    ).select(F.col(id_col).alias("query_id"), "__term")
    idf = F.log(
        F.lit(1.0)
        + (F.col("__n") - F.col("__df") + 0.5) / (F.col("__df") + 0.5)
    )
    tfnorm = (
        F.col("__tf")
        * (k1 + 1.0)
        / (
            F.col("__tf")
            + F.lit(k1)
            * (1.0 - b + F.lit(b) * F.col("__dl") / F.col("__avgdl"))
        )
    )
    contrib = F.round(idf * tfnorm, 12).cast("decimal(18,12)")
    # r13 optimization round (guide §2.3 / §3): the per-(doc, term)
    # BM25 contribution is QUERY-INDEPENDENT (idf, tf and dl never
    # mention the query), so compute it ONCE per (doc, term) on the
    # index restricted to the union of query vocabularies, and let the
    # per-query expansion join move a precomputed ~9-byte DECIMAL
    # instead of re-running ln/round/decimal per (query, doc, term) —
    # previously the scoring stage evaluated the full contribution
    # expression on |Q|x as many rows (measured 15.5s executor-CPU in
    # one stage at sf0.1; the expanded rows now only SUM). The df/dl
    # attach joins also shrink from the expanded hits to the restricted
    # index: df restricted to query terms is bounded by the query set
    # and BROADCASTS at any corpus size (the semi-join pre-filter move,
    # guide §3.2), while dl joins the restricted index on id_col — an
    # exchange of compact rows bounded by the query vocabulary's
    # postings, not by per-query duplication.
    qt_dist = qterms.select("__term").distinct()
    # r14 (guide §2.3, VERDICT r13 #7): per-term document frequencies
    # are only ever read for QUERY terms, so restrict the index to the
    # bounded query vocabulary BEFORE the df aggregate instead of
    # aggregating the full vocabulary and then filtering — at corpus
    # scale this replaces a vocabulary-wide shuffle with one bounded by
    # the query terms' postings (map-side combined), and at sf0.1 it
    # removes a full aggregate stage over the index. __df values for
    # query terms are identical by construction (count of index rows
    # per term, filtered by term either side of the count).
    dft_q = (
        tf.join(F.broadcast(qt_dist), "__term")
        .groupBy("__term")
        .agg(F.count(F.lit(1)).alias("__df"))
    )
    base = (
        tf.join(F.broadcast(qt_dist), "__term")
        .join(F.broadcast(dft_q), "__term")
        .join(dlen, id_col)
        .crossJoin(F.broadcast(stats))
        .select(F.col(id_col), "__term", contrib.alias("__contrib"))
    )
    if max_df_ratio is None:
        hits = base.join(F.broadcast(qterms), "__term").where(
            F.col(id_col) != F.col("query_id")
        )
    else:
        # term-skew guard: candidates come ONLY through discriminative
        # terms (df <= max_df_ratio * N — the df aggregate is already
        # computed for scoring and pre-restricted to query terms, so
        # the gate is a bounded broadcast; N rides the 1-row stats
        # broadcast)...
        q_rare = (
            qterms.join(F.broadcast(dft_q), "__term")
            .crossJoin(F.broadcast(stats.select("__n")))
            .where(F.col("__df") <= F.lit(max_df_ratio) * F.col("__n"))
            .select("query_id", "__term")
        )
        # ...starvation fallback: a query whose EVERY term is hot
        # cannot propose candidates through the gate and would return
        # nothing at all (measured on a 31-term synthetic vocabulary
        # where df/N reaches 0.80). Starved queries route through the
        # DIRECT unpruned postings join — exactly the ungated plan, so
        # they pay neither the candidate distinct nor the join-back —
        # and their answers are exact standard BM25. The anti join and
        # both broadcast sides are bounded by the query set.
        starved = query_ids.select(F.col(id_col).alias("query_id")).join(
            q_rare.select("query_id").distinct(), "query_id", "left_anti"
        )
        hits_direct = base.join(
            F.broadcast(qterms.join(F.broadcast(starved), "query_id")),
            "__term",
        ).where(F.col(id_col) != F.col("query_id"))
        cand = (
            base.join(F.broadcast(q_rare), "__term")
            .where(F.col(id_col) != F.col("query_id"))
            .select("query_id", id_col)
            .distinct()
        )
        # ...then each gated candidate is scored with EVERY matching
        # query term, hot ones included: re-attach the candidate docs'
        # precomputed contributions map-side (broadcast pair set) and
        # keep the query matches — exact BM25, rank-neutral among
        # survivors. Neither join is proportional to hot-term postings.
        # (cand carries no starved query ids — q_rare excludes them by
        # construction — so the union with the direct arm never
        # double-counts.)
        hits = base.join(F.broadcast(cand), id_col).join(
            F.broadcast(qterms), ["query_id", "__term"]
        ).select(
            "query_id", id_col, "__term", "__contrib"
        ).unionByName(
            hits_direct.select("query_id", id_col, "__term", "__contrib")
        )
    scored = (
        hits.groupBy("query_id", id_col)
        .agg(F.round(F.sum("__contrib").cast("double"), round_to).alias("bm25_score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("bm25_score"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "bm25_score", "rank")
    )
