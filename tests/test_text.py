from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import functions as F

from sparkgraft import text as T


def docs(spark):
    rows = [
        (1, "The cat and the dog, in a house!"),
        (2, ""),
        (3, None),
        (4, "  SPACED   out\ttext  "),
        (5, "el la de que y en"),
        (6, "数据处理引擎"),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_tokens_edge_cases(spark):
    out = docs(spark).select("doc_id", T.tokens("text").alias("tok")).collect()
    by_id = {r.doc_id: r.tok for r in out}
    assert by_id[1][:2] == ["the", "cat"]
    assert by_id[2] == []  # empty string -> no [''] artifact
    assert by_id[3] == []
    assert by_id[4] == ["spaced", "out", "text"]  # whitespace collapsed


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "different")],
        "doc_id int, text string",
    )
    out = {r.doc_id: r.fp for r in df.select("doc_id", T.fingerprint("text").alias("fp")).collect()}
    assert out[1] == out[2]  # case + whitespace insensitive
    assert out[1] != out[3]


def test_quality_metrics(spark):
    m = T.quality_metrics("text")
    out = docs(spark).select("doc_id", *[v.alias(k) for k, v in m.items()]).collect()
    r1 = next(r for r in out if r.doc_id == 1)
    assert r1.n_tokens == 8
    assert r1.punct_ratio > 0  # comma + exclamation
    assert r1.stopword_ratio > 0  # 'the' x2, 'and', 'in', 'a'
    r2 = next(r for r in out if r.doc_id == 2)
    assert r2.n_tokens == 0 and r2.stopword_ratio is None


def test_lang_id(spark):
    out = {r.doc_id: r.lang for r in docs(spark).select("doc_id", T.lang_id("text").alias("lang")).collect()}
    assert out[1] == "en"
    assert out[5] == "es"
    assert out[6] == "zh"
    assert out[2] == "und"
    assert out[3] == "und"


def test_regex_tokens_bpe_ish(spark):
    df = spark.createDataFrame(
        [(1, "Don't stop2x!"), (2, ""), (3, None)], "doc_id int, text string"
    )
    out = {
        r.doc_id: r.tok
        for r in df.select("doc_id", T.regex_tokens("text").alias("tok")).collect()
    }
    # letter runs / digit runs / symbol runs, lowercased
    assert out[1] == ["don", "'", "t", "stop", "2", "x", "!"]
    assert out[2] == []
    assert out[3] is None  # regexp on NULL stays NULL; callers coalesce


def test_winnow_fingerprints_shared_substring_guarantee(spark):
    # Winnowing guarantee: a shared substring of length >= k+window-1
    # (= 11 for k=8, window=4) yields at least one shared fingerprint.
    shared = "abcdefghijk"  # exactly 11 chars
    df = spark.createDataFrame(
        [
            (1, f"xxxx {shared} yyyy"),
            (2, f"zz {shared} qqqq"),
            (3, "completely different words here"),
            (4, "short"),  # < k chars after normalization
            (5, None),
        ],
        "doc_id int, text string",
    )
    out = {
        r.doc_id: set(r.fps)
        for r in T.winnow_fingerprints(df, "text", k=8, window=4).collect()
    }
    assert out[1] & out[2]  # guarantee: shared fingerprint exists
    assert not (out[1] & out[3])
    assert out[4] == set()
    assert out[5] == set()


def test_winnow_fingerprints_case_whitespace_insensitive(spark):
    df = spark.createDataFrame(
        [(1, "The Quick   Brown Fox Jumps"), (2, "the quick brown fox jumps")],
        "doc_id int, text string",
    )
    out = {
        r.doc_id: set(r.fps) for r in T.winnow_fingerprints(df).collect()
    }
    assert out[1] == out[2]


def test_word_bigrams(spark):
    df = spark.createDataFrame(
        [(1, ["a", "b", "c"]), (2, ["solo"]), (3, [])],
        "doc_id int, tok array<string>",
    )
    out = {r.doc_id: r.bg for r in df.select("doc_id", T.word_bigrams(F.col("tok")).alias("bg")).collect()}
    assert out[1] == ["a b", "b c"]
    assert out[2] == []
    assert out[3] == []


def test_collocations_pmi_against_python(spark):
    texts = [
        "new york rocks",
        "new york rocks",
        "new york rocks",
        "alpha beta and gamma delta",
        "alpha beta and gamma delta",
        "of the cat of the dog",
        "the cat sat on the mat of the dog",
        "rare pair",
    ]
    uni, bi = Counter(), Counter()
    for t in texts:
        w = t.split()
        uni.update(w)
        bi.update(f"{a} {b}" for a, b in zip(w, w[1:]))
    n1, n2 = sum(uni.values()), sum(bi.values())

    def pmi(bigram):
        a, b = bigram.split()
        return math.log((bi[bigram] / n2) / ((uni[a] / n1) * (uni[b] / n1)))

    scored = sorted(
        ((g, c, round(pmi(g), 6)) for g, c in bi.items() if c >= 2),
        key=lambda r: (-r[2], r[0]),
    )
    want = scored[:5]
    # the planted corpus exercises every clause: the two top-PMI pairs
    # occur once (min_count cut), four pairs tie on pmi (bigram asc),
    # and "york rocks" ties "new york" just past the k limit
    assert pmi("rare pair") > want[0][2] and bi["rare pair"] == 1
    assert [g for g, _, _ in want[:4]] == ["alpha beta", "and gamma", "beta and", "gamma delta"]
    assert want[4][0] == "new york" and scored[5][0] == "york rocks"

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id int, text string")
    got = [tuple(r) for r in T.collocations(df, "text", min_count=2, k=5).collect()]
    assert [(g, c) for g, c, _ in got] == [(g, c) for g, c, _ in want]
    for (_, _, p), (_, _, q) in zip(got, want):
        assert math.isclose(p, q, abs_tol=1e-6)


def test_doc_repetition_metrics(spark, tmp_path):
    # "x y x y x" -> tokens {x:3, y:2} all duplicated; bigrams
    # [x y, y x, x y, y x] -> top count 2, all duplicated
    rows = [(1, "x y x y x", "en", "s", 9), (2, "a b c", "en", "s", 5), (3, "", "en", "s", 0)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    path = str(tmp_path / "docs")
    df.coalesce(1).write.parquet(path + "/documents.parquet")
    from sparkgraft.queries.text import doc_repetition_metrics

    out = {r.doc_id: r for r in doc_repetition_metrics(spark, path).collect()}
    r1 = out[1]
    assert (r1.n_tokens, r1.n_bigrams, r1.top_bigram_count) == (5, 4, 2)
    assert r1.dup_token_frac == 1.0 and r1.dup_bigram_frac == 1.0
    assert r1.top_bigram_frac == 0.5
    r2 = out[2]
    assert (r2.n_tokens, r2.n_bigrams) == (3, 2)
    assert r2.dup_token_frac == 0.0 and r2.top_bigram_frac == 0.5
    r3 = out[3]
    assert (r3.n_tokens, r3.n_bigrams) == (0, 0)
    assert r3.dup_token_frac is None and r3.top_bigram_frac is None


def test_redact_pii_and_counts(spark):
    rows = [
        (1, "mail me at jane.doe+x@example.co.uk or call 555-867-5309"),
        (2, "server at 192.168.1.77, card 4111111111111111, ssn 123-45-6789"),
        (3, "clean text with number 42 and year 2024, v1.2.3 stays"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            T.redact_pii("text").alias("red"),
            *[v.alias(k) for k, v in T.pii_counts("text").items()],
        ).collect()
    }
    assert "<EMAIL>" in out[1].red and "<PHONE>" in out[1].red
    assert "jane" not in out[1].red and "5309" not in out[1].red
    assert out[1].n_email == 1 and out[1].n_phone == 1
    assert "<IPV4>" in out[2].red and "<CARD>" in out[2].red and "<SSN>" in out[2].red
    assert out[2].n_ipv4 == 1 and out[2].n_card == 1 and out[2].n_ssn == 1
    # no false positives on ordinary numbers / versions, NULL passes through
    assert out[3].red == rows[2][1]
    assert all(getattr(out[3], f"n_{k}") == 0 for k in T.PII_PATTERNS)
    assert out[4].red is None


def test_unigram_logprob_scores(spark):
    """Perplexity-proxy sanity: common-word docs score LOWER than
    rare-word docs under a self-scored model; empty docs dead-letter
    (n_tokens 0, NULL score); exact math spot-checked for a
    single-token doc."""
    import math

    from sparkgraft.text import unigram_logprob

    docs = spark.createDataFrame(
        [
            (1, "the the the the"),     # the dominant token
            (2, "the the rare"),        # mostly common
            (3, "zebra"),               # one rare token
            (4, ""),                    # empty
            (5, None),                  # null
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in unigram_logprob(docs, "text", "doc_id").collect()}
    assert out[4].n_tokens == 0 and out[4].avg_neg_logprob is None
    assert out[5].n_tokens == 0 and out[5].avg_neg_logprob is None
    # corpus: the x6, rare x1, zebra x1 -> T=8, V=3
    # p(the) = 7/11, p(zebra) = 2/11 — common beats rare
    assert out[1].avg_neg_logprob < out[2].avg_neg_logprob
    assert out[2].avg_neg_logprob < out[3].avg_neg_logprob
    assert out[3].avg_neg_logprob == round(round(-math.log(2 / 11), 6), 6)
    assert out[1].avg_neg_logprob == round(-math.log(7 / 11), 6)


def test_unigram_logprob_oov_against_reference_model(spark):
    """Scoring against a SEPARATE reference corpus: out-of-vocabulary
    words take the floor probability 1 / (T + V)."""
    import math

    from sparkgraft.text import unigram_logprob

    model = spark.createDataFrame(
        [(100, "alpha beta alpha")], "doc_id long, text string"
    )  # T=3, V=2
    docs = spark.createDataFrame(
        [(1, "alpha"), (2, "gamma")], "doc_id long, text string"
    )
    out = {
        r.doc_id: r.avg_neg_logprob
        for r in unigram_logprob(docs, "text", "doc_id", model_df=model).collect()
    }
    assert out[1] == round(-math.log(3 / 5), 6)   # (2+1)/(3+2)
    assert out[2] == round(-math.log(1 / 5), 6)   # OOV: (0+1)/(3+2)


def test_cdc_segments_shift_robust_vs_fixed_chunking(spark):
    """The CDC property that justifies the operator: after inserting a
    token near the FRONT of a document, most content-defined segment
    hashes survive, while fixed-window chunk hashes all change from
    the edit onward. Also: concatenation of segments reconstructs the
    token stream (no loss, no overlap), empty docs yield no segments."""
    from sparkgraft.packing import chunk_documents
    from sparkgraft.text import cdc_segments

    base = " ".join(f"w{i}" for i in range(200))
    edited = "inserted " + base
    docs = spark.createDataFrame(
        [(1, base), (2, edited), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    segs = {
        r.doc_id: r.segs
        for r in docs.select(
            "doc_id", cdc_segments("text", avg_tokens=8).alias("segs")
        ).collect()
    }
    assert segs[3] == [] and segs[4] == []
    # lossless partition: lengths sum to the token count
    assert sum(s.n_seg_tokens for s in segs[1]) == 200
    assert sum(s.n_seg_tokens for s in segs[2]) == 201
    h1 = {s.seg_hash for s in segs[1]}
    h2 = {s.seg_hash for s in segs[2]}
    shared = len(h1 & h2) / len(h1)
    assert shared > 0.8, f"CDC should preserve most segments, got {shared:.2f}"

    # fixed-window chunking under the same edit: nearly everything moves
    chunks = chunk_documents(docs, "text", "doc_id", chunk_tokens=8, stride=8)
    ch = (
        chunks.groupBy("doc_id")
        .agg(F.collect_set("chunk_text").alias("c"))
        .collect()
    )
    cmap = {r.doc_id: set(r.c) for r in ch}
    fixed_shared = len(cmap[1] & cmap[2]) / len(cmap[1])
    assert fixed_shared < 0.2, f"fixed chunks should shift, got {fixed_shared:.2f}"
    assert shared > fixed_shared


def test_char_entropy_known_values(spark):
    """Entropy semantics: a one-symbol string has zero entropy, a
    uniform k-symbol string has ln(k), mixed text sits between, and
    empty/NULL dead-letter to NULL. Normalization folds case first."""
    import math

    from sparkgraft.text import char_entropy

    df = spark.createDataFrame(
        [
            (1, "aaaaaaaa"),
            (2, "abcd"),       # uniform over 4 symbols -> ln 4
            (3, "AAAAaaaa"),   # normalizes to one symbol -> 0
            (4, ""),
            (5, None),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.h for r in df.select(
        "doc_id", char_entropy("text").alias("h")).collect()}
    assert out[1] == 0.0
    assert out[2] == round(math.log(4), 6)
    assert out[3] == 0.0
    assert out[4] is None and out[5] is None


def test_gopher_rules_each_rule_bites(spark):
    base = " ".join(["the quick brown fox of"] * 12)  # 60 words, 2 req stops
    rows = [
        (1, base),  # clean: passes everything
        (2, "word " * 10),  # 10 words < 50 -> r_word_count false
        (3, base + " ###### " + "#" * 20),  # symbol ratio blown
        (4, "\n".join(["- bullet line one", "- bullet two", "* three"])),
        (5, "\n".join([base, "to be continued...", "and more...",
                       "then some...", "third dots..."])),
        (6, " ".join(["12345"] * 60)),  # numeric words -> alpha_frac 0
        (7, " ".join(["zz"] * 60)),  # no required stopwords, short words
        (8, ""),  # empty -> keep false, never NULL
        (9, None),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    g = T.gopher_rules("text")
    out = df.select("doc_id", *[v.alias(k) for k, v in g.items()]).collect()
    r = {row.doc_id: row for row in out}
    assert r[1].keep is True
    assert r[2].keep is False and r[2].r_word_count is False
    assert r[3].r_symbol_ratio is False
    assert r[4].r_bullet_lines is False  # 3/3 bullet lines > 0.9
    assert r[5].r_ellipsis_lines is False  # 4/5 ellipsis-ended > 0.3
    assert r[6].r_alpha_words is False and r[6].alpha_frac == 0.0
    assert r[7].r_stopwords is False and r[7].r_mean_word_len is False
    for doc in (8, 9):
        assert r[doc].keep is False  # explicit false, not NULL
        assert all(
            getattr(r[doc], f) is False
            for f in r[doc].asDict() if f.startswith("r_")
        )


def test_c4_line_filter_rules_and_rebuild(spark):
    text = "\n".join([
        "this line has plenty of words and ends well.",  # kept
        "no terminal punctuation on this long line here",  # punct rule
        "too short.",  # word-count rule
        "this page needs javascript enabled to work fine.",  # bad substring
        "the code block is { x } in this sentence.",  # brace rule
        "lorem ipsum dolor sit amet consectetur elite.",  # bad substring
        "another perfectly fine sentence survives the filter!",  # kept
    ])
    df = spark.createDataFrame([(1, text), (2, ""), (3, None)],
                               "doc_id int, text string")
    c = T.c4_line_filter("text")
    out = df.select("doc_id", *[v.alias(k) for k, v in c.items()]).collect()
    r = {row.doc_id: row for row in out}
    assert r[1].n_lines == 7 and r[1].n_kept == 2
    assert r[1].kept_text == (
        "this line has plenty of words and ends well.\n"
        "another perfectly fine sentence survives the filter!"
    )
    for doc in (2, 3):
        assert r[doc].n_lines == 0 and r[doc].n_kept == 0
        assert r[doc].kept_text == ""


def test_importance_llr_separates_target_from_background(spark):
    rows = [
        (1, "alpha beta gamma alpha beta"),   # pure target vocabulary
        (2, "noise junk clutter static hum"),  # pure background
        (3, "alpha beta noise junk gamma"),    # mixed, target-leaning
        (4, ""),                               # empty -> keep false, not NULL
    ]
    corpus = spark.createDataFrame(rows, "doc_id int, text string")
    # target model big enough that its smoothing floor 1/(T+V) sits
    # BELOW the background's rare-word probability — with a toy-sized
    # target the add-one floor dominates and every word looks plausible
    target = spark.createDataFrame(
        [(100, " ".join(["alpha beta gamma"] * 10))], "doc_id int, text string"
    )
    out = {r.doc_id: r for r in T.importance_llr(corpus, target).collect()}
    assert out[1].keep is True and out[1].avg_llr > 0
    assert out[2].keep is False and out[2].avg_llr < 0
    assert out[3].avg_llr > out[2].avg_llr
    assert out[4].keep is False and out[4].n_tokens == 0
    assert out[4].avg_llr is None  # undefined score, explicit false gate


def test_pretrain_pipeline_weights_follow_dedup(spark, tmp_path):
    """The composite's ordering claim: mixture rates are computed on
    the SURVIVING corpus. A source whose volume is mostly duplicate
    copies must end up with the replication rate of its deduped size,
    not its raw size — i.e. its realized row share shrinks after
    dedup, instead of the duplicates inflating its domain weight."""
    base = " ".join(["the quick brown fox of"] * 12)  # passes the gate
    rows = []
    # src_dup: 12 docs but only 2 distinct texts (10 duplicates)
    for i in range(12):
        rows.append((i, base + (" extra" if i % 6 == 0 else ""), "en", "src_dup", 0))
    # src_uniq: 6 docs, all distinct
    for i in range(6):
        rows.append((100 + i, base + f" unique{i} marker{i}", "en", "src_uniq", 0))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    path = str(tmp_path / "corpus")
    df.coalesce(1).write.parquet(path + "/documents.parquet")
    from sparkgraft.queries.text import pretrain_curation_pipeline

    out = pretrain_curation_pipeline(spark, path).collect()
    per_source: dict[str, int] = {}
    distinct_docs = set()
    for r in out:
        per_source[r.source] = per_source.get(r.source, 0) + 1
        distinct_docs.add(r.doc_id)
    # dedup happened: at most 2 distinct src_dup docs survive
    assert len([d for d in distinct_docs if d < 100]) <= 2
    # and the mixture reflects the DEDUPED sizes: src_uniq (6 survivors)
    # gets more training rows than src_dup (2 survivors), even though
    # src_dup's RAW corpus is twice as large
    assert per_source.get("src_uniq", 0) > per_source.get("src_dup", 0)


def test_vocab_shift_flags_planted_term(spark):
    """A term concentrated in one half must top the KL report."""
    rows = []
    for i in range(40):
        base = "common words shared by both halves equally fine"
        if i % 2 == 0:  # even half gets the planted drift term
            base += " driftword driftword driftword"
        rows.append((i, base))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = T.vocab_shift_topk(df, k=3).collect()
    assert out[0].term == "driftword"
    assert out[0].c_a == 60 and out[0].c_b == 0
    assert out[0].kl_contrib > 0
    # shared terms contribute ~0 and rank below
    assert all(r.kl_contrib < out[0].kl_contrib for r in out[1:])


def test_bigram_logprob_separates_word_order(spark):
    """The discriminative claim: same WORDS, nonsense ORDER must score
    worse under the bigram model while the unigram score ties exactly."""
    from sparkgraft.text import bigram_logprob, unigram_logprob

    fluent = "the cat sat on the mat and the dog sat on the rug"
    shuffled = "mat the on dog sat the rug and cat the on sat the"
    model_rows = [(100 + i, fluent) for i in range(20)]
    df = spark.createDataFrame(
        model_rows + [(1, fluent), (2, shuffled)], "doc_id long, text string"
    )
    model = df.where(F.col("doc_id") >= 100)
    uni = {r.doc_id: r.avg_neg_logprob for r in unigram_logprob(df, model_df=model).collect()}
    bi = {r.doc_id: r for r in bigram_logprob(df, model_df=model).collect()}
    assert uni[1] == uni[2]  # identical bags of words
    assert bi[2].avg_neg_logprob > bi[1].avg_neg_logprob + 1.0
    assert bi[1].n_bigrams == bi[2].n_bigrams == len(fluent.split()) - 1


def test_bigram_logprob_short_docs_absent_and_deterministic(spark):
    from sparkgraft.text import bigram_logprob

    df = spark.createDataFrame(
        [(1, "one two three"), (2, "single"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    out = bigram_logprob(df).collect()
    assert {r.doc_id for r in out} == {1}  # <2 tokens -> no bigram row
    a = sorted(map(tuple, bigram_logprob(df).collect()))
    b = sorted(map(tuple, bigram_logprob(df.repartition(7)).collect()))
    assert a == b


def test_hash_embed_properties_and_retrieval_composition(spark):
    """Unit norm, similar-text affinity, and the composition claim:
    hash-embedded text drives cosine_topk retrieval directly."""
    import numpy as np

    from sparkgraft.similarity import cosine_topk
    from sparkgraft.text import hash_embed

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox leaps over the lazy dog"),
            (3, "completely unrelated prose about database engines"),
            (4, "another unrelated passage on parquet file layouts"),
            (5, ""),
            (6, None),
        ],
        "doc_id long, text string",
    )
    emb = hash_embed(df)
    rows = {r.doc_id: np.array(r.embedding) for r in emb.collect()}
    assert set(rows) == {1, 2, 3, 4}  # empty/NULL docs absent
    for v in rows.values():
        assert abs(np.linalg.norm(v) - 1.0) < 1e-5  # unit norm (rounded)
    # near-dup text pair beats every unrelated pair by a wide margin
    sim = rows[1] @ rows[2]
    worst = max(rows[1] @ rows[3], rows[1] @ rows[4], rows[2] @ rows[3])
    assert sim > 0.85 > worst + 0.4
    # composition: retrieval over hashed vectors ranks doc 2 first for doc 1
    top = cosine_topk(
        emb, emb.where(F.col("doc_id") == 1), id_col="doc_id", k=1
    ).collect()
    assert [(r.query_id, r.doc_id) for r in top] == [(1, 2)]


def test_hash_embed_deterministic_under_repartitioning(spark, sf_dir):
    from sparkgraft.io import read_table
    from sparkgraft.text import hash_embed

    docs = read_table(spark, sf_dir, "documents").limit(100)
    a = sorted(map(tuple, hash_embed(docs).select("doc_id", "embedding").collect()))
    b = sorted(
        map(tuple, hash_embed(docs.repartition(7)).select("doc_id", "embedding").collect())
    )
    assert [(i, tuple(e)) for i, e in a] == [(i, tuple(e)) for i, e in b]


def test_hash_embed_long_equals_exploded_array_form(spark, sf_dir):
    """The HOF-free long form (norm in-aggregate, literal-sequence
    densify) must emit exactly the coordinates of exploding the array
    form — same cells, same normalize, same rounding."""
    from pyspark.sql import functions as F

    from sparkgraft.io import read_table
    from sparkgraft.text import hash_embed, hash_embed_long

    docs = read_table(spark, sf_dir, "documents")
    arr = (
        hash_embed(docs)
        .select("doc_id", F.posexplode("embedding").alias("pos", "v"))
        .select("doc_id", F.col("pos").cast("bigint").alias("pos"), "v")
    )
    lng = hash_embed_long(docs)
    a = sorted(map(tuple, arr.collect()))
    b = sorted(map(tuple, lng.collect()))
    assert a == b and len(a) > 0


def test_bm25_ranking_properties(spark):
    """BM25 semantics on a hand-built corpus: idf discounts ubiquitous
    terms, tf saturates (k1), and length normalization (b) prefers the
    shorter of two documents with equal term counts."""
    from sparkgraft.text import bm25_topk

    docs = spark.createDataFrame(
        [
            (0, "zebra quark"),                      # query doc
            (1, "zebra quark lion"),                 # both rare terms, short
            (2, "zebra quark lion lion lion lion lion lion lion lion"),
            (3, "zebra common common common"),       # one rare term
            (4, "common lion tiger"),                # no query terms
            (5, "common common common"),
            (6, "common tiger zebra"),               # one rare term, short
        ],
        "doc_id long, text string",
    )
    qids = docs.where(F.col("doc_id") == 0).select("doc_id")
    # max_df_ratio=None: this test pins STANDARD unpruned BM25
    # semantics ('zebra' sits at df/N = 5/7 > the 0.5 default gate)
    out = bm25_topk(docs, qids, k=10, max_df_ratio=None).collect()
    ranked = [r.doc_id for r in sorted(out, key=lambda r: r.rank)]
    scores = {r.doc_id: r.bm25_score for r in out}
    # doc 4 and 5 share no query term -> absent entirely
    assert 4 not in scores and 5 not in scores and 0 not in scores
    # both-terms docs beat single-term docs
    assert ranked[0] in (1, 2)
    assert set(ranked[:2]) == {1, 2}
    # length normalization: the short both-terms doc outranks the long one
    assert scores[1] > scores[2]
    # zebra appears in 5 of 7 docs, quark in 3: the rarer term's
    # single-term docs would outrank only if idf ordering held — here
    # both single-term docs carry zebra, so just check they trail
    assert all(scores[d] < scores[1] for d in (3, 6))


def test_bm25_max_df_prune_is_exact_on_scored_candidates(spark):
    """The term-skew guard (max_df_ratio) prunes hot terms from
    CANDIDATE GENERATION only; survivors are scored with every
    matching query term, so scores and ranks of scored candidates are
    bit-identical to the unpruned run. The one semantic difference:
    a document sharing ONLY above-threshold terms with the query is
    never proposed (it scores far below any content match anyway) —
    both behaviors pinned here."""
    from sparkgraft.text import bm25_topk

    # 'stop' is in 9 of 10 docs (df/N = 0.9); content terms are rare
    rows = [(0, "stop quark zebra")]  # query doc
    rows += [(i, f"stop quark w{i}") for i in range(1, 4)]   # quark match
    rows += [(i, f"stop zebra w{i} w{i}") for i in range(4, 7)]  # zebra match
    rows += [(7, "stop stop filler"), (8, "stop filler filler")]  # stop-only
    rows += [(9, "filler alone")]  # keeps 'stop' df below 1.0
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    qids = docs.where(F.col("doc_id") == 0).select("doc_id")

    full = {
        r.doc_id: (r.bm25_score, r.rank)
        for r in bm25_topk(docs, qids, k=10, max_df_ratio=None).collect()
    }
    pruned = {
        r.doc_id: (r.bm25_score, r.rank)
        for r in bm25_topk(docs, qids, k=10, max_df_ratio=0.5).collect()
    }
    # docs 7/8 share only 'stop' with the query: scored unpruned,
    # never proposed pruned
    assert {7, 8} <= set(full) and not ({7, 8} & set(pruned))
    # every surviving candidate keeps its EXACT unpruned score —
    # including the hot term's contribution (doc 1 contains 'stop',
    # so a scoring-side drop would change its score, not just 7/8's)
    content = {d for d in full if d not in (7, 8)}
    assert set(pruned) == content
    assert all(pruned[d][0] == full[d][0] for d in content)
    # ranks among survivors preserve the unpruned relative order
    order_full = [d for d, _ in sorted(
        ((d, full[d][1]) for d in content), key=lambda x: x[1]
    )]
    order_pruned = [d for d, _ in sorted(pruned.items(), key=lambda x: x[1][1])]
    assert order_full == order_pruned


def test_bm25_default_guard_and_starvation_fallback(spark):
    """The term-skew guard defaults ON (max_df_ratio=0.5, VERDICT r8
    #3) and must never starve a query: a query whose EVERY term is hot
    falls back to all its terms for candidate generation and returns
    its exact standard-BM25 ranking; a query with at least one rare
    term gates through rare terms only, with survivors scored exactly.
    Without the fallback, the all-hot query would return ZERO rows
    under the default — the failure mode the r8 corpus measured (4 of
    5 oracle queries starved at 0.5 on a 31-term vocabulary)."""
    from sparkgraft.text import bm25_topk

    # 'stop'/'the' in 9 of 10 docs (hot); content terms rare
    rows = [(0, "stop the")]  # all-hot query: would starve ungated
    rows += [(1, "stop the quark zebra")]  # mixed query: gates on rare
    rows += [(i, f"stop the quark w{i}") for i in range(2, 5)]
    rows += [(i, f"stop the zebra w{i}") for i in range(5, 8)]
    rows += [(8, "stop the filler")]
    rows += [(9, "alone")]  # keeps hot df below 1.0
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    qids = docs.where(F.col("doc_id") < 2).select("doc_id")

    default = bm25_topk(docs, qids, k=10).collect()
    unpruned = bm25_topk(docs, qids, k=10, max_df_ratio=None).collect()
    by_q_default = {
        q: sorted((r.doc_id, r.bm25_score, r.rank) for r in default
                  if r.query_id == q)
        for q in (0, 1)
    }
    by_q_full = {
        q: sorted((r.doc_id, r.bm25_score, r.rank) for r in unpruned
                  if r.query_id == q)
        for q in (0, 1)
    }
    # the starved query falls back: exact standard BM25, never empty
    assert by_q_default[0] and by_q_default[0] == by_q_full[0]
    # the gated query proposes through its rare terms; every survivor
    # keeps its exact unpruned score and relative order
    full_scores = {d: (s, rk) for d, s, rk in by_q_full[1]}
    assert by_q_default[1]
    for d, s, _ in by_q_default[1]:
        assert s == full_scores[d][0]
    order_kept = [d for d, _, rk in sorted(by_q_default[1], key=lambda t: t[2])]
    order_full = [
        d for d, _, rk in sorted(by_q_full[1], key=lambda t: t[2])
        if d in {x[0] for x in by_q_default[1]}
    ]
    assert order_kept == order_full


def test_bm25_index_fold_equals_one_shot_exactly(spark):
    """The BM25 index state is a plain monoid: per-batch partial
    indexes folded by merge_bm25_index must equal the one-shot index
    EXACTLY (cell for cell), and retrieval from the folded state must
    be bit-identical to bm25_topk over the unioned corpus — including
    when one document's TEXT arrives split across two batches at a
    whitespace boundary."""
    from sparkgraft.text import (
        bm25_index,
        bm25_topk,
        bm25_topk_from_index,
        merge_bm25_index,
    )

    rows = [
        (0, "zebra quark lion"),
        (1, "zebra quark common lion lion"),
        (2, "zebra common common"),
        (3, "common lion tiger quark"),
        (4, "tiger tiger zebra quark common"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # batch split 1: disjoint docs; batch split 2: doc 1's text split
    # across batches at a whitespace boundary
    b1 = spark.createDataFrame(rows[:2], "doc_id long, text string")
    b2 = spark.createDataFrame(rows[2:], "doc_id long, text string")
    s1 = spark.createDataFrame(
        [(0, "zebra quark lion"), (1, "zebra quark")],
        "doc_id long, text string",
    )
    s2 = spark.createDataFrame(
        [(1, "common lion lion"), (2, "zebra common common"),
         (3, "common lion tiger quark"), (4, "tiger tiger zebra quark common")],
        "doc_id long, text string",
    )
    oneshot = sorted(map(tuple, bm25_index(docs).collect()))
    for batches in ([b1, b2], [s1, s2]):
        folded = merge_bm25_index([bm25_index(b) for b in batches])
        assert sorted(map(tuple, folded.collect())) == oneshot
        qids = docs.where(F.col("doc_id") == 0).select("doc_id")
        direct = sorted(map(tuple, bm25_topk(docs, qids, k=10).collect()))
        via_state = sorted(
            map(tuple, bm25_topk_from_index(folded, qids, k=10).collect())
        )
        assert via_state == direct and len(direct) > 0


def test_bm25_index_drops_null_doc_ids(spark):
    """A NULL doc id is no retrievable document. bm25_index drops it, so
    N (distinct ids) and avgdl (tf sum / N) equal those of the non-NULL
    corpus, and so does every score. Kept, its tokens would enter avgdl
    and the term dfs while count_distinct left it out of N."""
    from sparkgraft.text import bm25_index, bm25_topk

    rows = [
        (0, "zebra quark lion"),
        (1, "zebra quark common lion lion"),
        (2, "zebra common common"),
        (3, "common lion tiger quark"),
    ]
    schema = "doc_id long, text string"
    clean = spark.createDataFrame(rows, schema)
    dirty = spark.createDataFrame(
        rows + [(None, "zebra zebra quark tiger tiger tiger")], schema
    )

    def n_avgdl(index):
        n = F.count_distinct("doc_id")
        r = index.agg(n.alias("n"), (F.sum("tf") / n).alias("avgdl")).first()
        return r.n, r.avgdl

    assert n_avgdl(bm25_index(dirty)) == n_avgdl(bm25_index(clean)) == (4, 3.75)
    qids = clean.where(F.col("doc_id") == 0).select("doc_id")
    got = sorted(map(tuple, bm25_topk(dirty, qids, k=10).collect()))
    want = sorted(map(tuple, bm25_topk(clean, qids, k=10).collect()))
    assert got == want and len(want) == 3
