from __future__ import annotations

import re

from pyspark.sql import functions as F

from sparkgraft import dedup as D
from sparkgraft.io import read_table


def corpus(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
        (3, "The  Quick Brown Fox jumps over the lazy dog"),  # exact dup of 1
        (4, "completely different text about spark engines here"),
        (5, ""),
        (6, "tiny"),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_word_shingles(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b"), (3, "")], "doc_id int, text string"
    )
    out = {r.doc_id: r.sh for r in df.select("doc_id", D.word_shingles("text", 3).alias("sh")).collect()}
    assert out[1] == ["a b c", "b c d"]
    assert out[2] == ["a b"]  # shorter than k -> one full shingle
    assert out[3] == []


def test_exact_dedup(spark):
    kept = D.dedup_exact(corpus(spark), "text", "doc_id")
    ids = {r.doc_id for r in kept.collect()}
    assert 1 in ids and 3 not in ids  # 3 is a dup of 1, lowest id wins
    assert ids >= {1, 2, 4, 6}
    groups = D.exact_dup_groups(corpus(spark), "text", "doc_id").collect()
    assert len(groups) == 1
    assert groups[0].n_docs == 2 and groups[0].canonical_id == 1


def test_jaccard_pairs(spark):
    pairs = D.jaccard_pairs(corpus(spark), "text", "doc_id", k=3, threshold=0.4)
    got = {(r.doc_a, r.doc_b): r.jaccard for r in pairs.collect()}
    # 1-3 identical after normalization -> jaccard 1.0; 1-2 share most shingles
    assert got[(1, 3)] == 1.0
    assert 0.4 <= got[(1, 2)] < 1.0
    assert (1, 4) not in got


def test_minhash_near_dups_match_jaccard(spark):
    exact = {
        (r.doc_a, r.doc_b)
        for r in D.jaccard_pairs(corpus(spark), "text", "doc_id", k=3, threshold=0.5).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in D.minhash_near_dups(
            corpus(spark), "text", "doc_id", k=3, num_hashes=16, num_bands=8, threshold=0.5
        ).collect()
    }
    # verification guarantees no false positives; generous banding (8
    # bands of 2) makes false negatives implausible at jaccard >= 0.5
    assert lsh <= exact
    assert (1, 3) in lsh and (1, 2) in lsh


def test_prefix_filter_equals_inverted_index(spark, sf_dir):
    """Prefix filtering is an exact method: outputs must be identical
    to the full inverted-index formulation at every threshold."""
    from sparkgraft.io import read_table

    docs = read_table(spark, sf_dir, "documents")
    for t in (0.1, 0.3, 0.6):
        full = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in D.jaccard_pairs(docs, "text", "doc_id", k=3, threshold=t).collect()
        }
        pref = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in D.jaccard_pairs_prefix(
                docs, "text", "doc_id", k=3, threshold=t
            ).collect()
        }
        assert pref == full, f"threshold {t}: prefix={len(pref)} full={len(full)}"


def test_simhash_similarity(spark):
    out = {r.doc_id: r.sh for r in corpus(spark).select("doc_id", D.simhash32("text").alias("sh")).collect()}
    assert out[5] is None  # empty doc
    assert out[1] == out[3]  # exact dups -> identical simhash
    ham_near = bin(out[1] ^ out[2]).count("1")
    ham_far = bin(out[1] ^ out[4]).count("1")
    assert ham_near < ham_far  # near-dup closer in hamming space


def test_simhash_vectorized_equals_hof(spark, sf_dir):
    """The Arrow-batched numpy simhash is bit-identical to the HOF fold
    on the full documents table (integer math — exact, not approximate),
    including NULL for empty token arrays."""
    from sparkgraft.io import read_table

    docs = read_table(spark, sf_dir, "documents")
    hashed = docs.select("doc_id", D.token_hashes32("text").alias("h"))
    both = hashed.select(
        "doc_id",
        D.simhash_from_hashes(F.col("h")).alias("vec"),
        D.simhash_from_hashes_hof(F.col("h")).alias("hof"),
    ).collect()
    assert len(both) > 0
    for r in both:
        assert r.vec == r.hof, f"doc {r.doc_id}: {r.vec} != {r.hof}"


def test_decontaminate_planted(spark):
    """Planted contamination: train doc 1 copies an 8-gram from eval
    doc 100; train doc 2 shares nothing. Short eval docs (< k tokens)
    decontaminate via the full-text shingle."""
    leak = "the quick brown fox jumps over the lazy"
    train = spark.createDataFrame(
        [
            (1, f"intro text {leak} outro text padding words"),
            (2, "completely different content with no overlap at all here"),
            (3, "tiny leak"),
        ],
        "doc_id bigint, text string",
    )
    ev = spark.createDataFrame(
        [(100, f"benchmark question {leak} benchmark answer"),
         (101, "tiny leak")],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in D.decontaminate(train, ev, k=8).collect()}
    assert set(out) == {1, 3}
    assert out[1].n_eval_docs == 1 and out[1].n_shared_ngrams == 1
    # doc 3 ("tiny leak" < 8 tokens) matches eval doc 101's full text
    assert out[3].n_eval_docs == 1 and out[3].n_shared_ngrams == 1


def test_decontaminate_plan_broadcasts_eval(spark, sf_dir):
    """The contamination join must broadcast the eval side (train is
    the 100 TB side and must not shuffle before the final agg)."""
    docs = read_table(spark, sf_dir, "documents")
    part = F.col("doc_id") % 97 == 0
    plan = (
        D.decontaminate(docs.where(~part), docs.where(part), k=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_near_dup_clusters_components(spark):
    """Transitive closure over pairs: a 3-chain, a 2-clique, and a
    4-chain resolve to min-id clusters; singletons are absent."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "doc_a bigint, doc_b bigint",
    )
    out = {r.doc_id: r.cluster_id for r in D.near_dup_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 23: 20}


def test_near_dup_clusters_max_iter_guard(spark):
    """A diameter-4 chain cannot converge in one iteration: the guard
    must raise, never return a half-merged clustering."""
    import pytest as _pytest

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "doc_a bigint, doc_b bigint"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        D.near_dup_clusters(pairs, max_iter=1)
    # and converges given room
    out = {r.doc_id: r.cluster_id for r in D.near_dup_clusters(pairs, max_iter=10).collect()}
    assert set(out.values()) == {1}


def test_near_dup_clusters_deep_chain_checkpointed(spark):
    """Deep-graph hardening (VERDICT r4 task 4): a planted chain of
    diameter 17 — min-label propagation needs ~17 iterations, so by the
    end the un-truncated lineage would carry ~17 stacked join subtrees.
    Asserts (a) exact convergence to the one min-id cluster, (b) the
    periodic localCheckpoint BOUNDS the returned plan's join depth to
    at most one checkpoint interval (lineage restarts from materialized
    blocks), (c) a checkpoint-free run returns the identical result
    (checkpointing is a physical concern, never a semantic one)."""
    n = 18  # nodes 0..17, edges (i, i+1): diameter 17
    chain = [(i, i + 1) for i in range(n - 1)]
    # worst case for min-propagation: the min id at one END of the chain
    pairs = spark.createDataFrame(chain, "doc_a bigint, doc_b bigint")
    out_df = D.near_dup_clusters(pairs, max_iter=25, checkpoint_interval=5)
    out = {r.doc_id: r.cluster_id for r in out_df.collect()}
    assert out == {i: 0 for i in range(n)}

    # lineage is truncated: each generation references the previous
    # labels TWICE (messages join + update join), so the un-truncated
    # logical plan grows GEOMETRICALLY — J(k) = 2*J(k-1) + 2, i.e.
    # J(17) > 260k join nodes for this chain. The periodic
    # localCheckpoint bounds the surviving plan to one interval:
    # J(5) = 62 joins worst-case (measured 14 here — convergence lands
    # 3 generations after the last checkpoint)
    analyzed = out_df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("Join") <= 62
    # and the plan bottoms out in checkpointed blocks, not the source
    assert "ExistingRDD" in analyzed or "LogicalRDD" in analyzed

    # semantics unchanged without checkpointing — compared at diameter
    # 5, NOT 17: the un-truncated plan TREE doubles per generation
    # (labels' subtree is embedded twice), so already at diameter ~8
    # the 4g test driver OOMs merely STRINGIFYING plans for the SQL UI
    # (observed: java.lang.OutOfMemoryError inside
    # QueryExecution.explainString) — precisely the failure mode the
    # periodic localCheckpoint exists to prevent
    sub = spark.createDataFrame(chain[:5], "doc_a bigint, doc_b bigint")
    ckpt = {
        r.doc_id: r.cluster_id
        for r in D.near_dup_clusters(
            sub, max_iter=10, checkpoint_interval=3
        ).collect()
    }
    plain = {
        r.doc_id: r.cluster_id
        for r in D.near_dup_clusters(
            sub, max_iter=10, checkpoint_interval=0
        ).collect()
    }
    assert plain == ckpt == {i: 0 for i in range(6)}


def test_dedup_incremental_against_store(spark):
    from sparkgraft.dedup import dedup_incremental
    from sparkgraft.text import fingerprint

    history = spark.createDataFrame(
        [(100, "seen before"), (101, "also seen")],
        "doc_id long, text string",
    ).select(fingerprint("text").alias("fingerprint"))
    new = spark.createDataFrame(
        [
            (1, "seen before"),       # dropped: in the store
            (2, "brand new"),         # kept
            (3, "brand new"),         # dropped: batch self-dup, 2 wins
            (4, "Also   SEEN"),       # dropped: store hit modulo case/ws
            (5, "another fresh one"), # kept
        ],
        "doc_id long, text string",
    )
    out = dedup_incremental(new, history, "text", id_col="doc_id", fingerprint_col="fingerprint")
    kept = {r.doc_id for r in out.collect()}
    assert kept == {2, 5}
    # survivors carry their fingerprint for the store append
    assert all(len(r.fingerprint) == 32 for r in out.collect())
    # appending survivors and re-running the same batch drops everything
    grown = history.unionByName(out.select("fingerprint"))
    assert dedup_incremental(new, grown, "text", id_col="doc_id", fingerprint_col="fingerprint").count() == 0


def test_containment_catches_embedded_doc(spark):
    from sparkgraft.dedup import containment_pairs, jaccard_pairs

    small = "alpha beta gamma delta epsilon"
    big = small + " " + " ".join(f"w{i} x{i} y{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(1, small), (2, big), (3, "totally different words here now")],
        "doc_id long, text string",
    )
    out = {(r.doc_a, r.doc_b): r for r in containment_pairs(
        docs, "text", "doc_id", k=3, threshold=0.9).collect()}
    assert set(out) == {(1, 2)}
    r = out[(1, 2)]
    # every shingle of the small doc appears in the big one
    assert r.containment_a == 1.0 and r.common == r.size_a
    # ...while symmetric jaccard misses the pair at the same bar
    jac = jaccard_pairs(docs, "text", "doc_id", k=3, threshold=0.9).collect()
    assert not any((p.doc_a, p.doc_b) == (1, 2) for p in jac)


def test_dedup_incremental_null_text_sentinel(spark):
    """ADVICE r4: NULL-text rows used to carry a NULL fingerprint —
    unmatched by the anti join forever (re-emitted as fresh every run)
    yet collapsed within a batch. The sentinel fingerprint makes them
    one ordinary content group: one survivor in the first batch, zero
    after its fingerprint reaches the store."""
    from sparkgraft.dedup import dedup_incremental

    empty_store = spark.createDataFrame([], "fingerprint string")
    batch = spark.createDataFrame(
        [(1, None), (2, None), (3, "real text")],
        "doc_id long, text string",
    )
    out = dedup_incremental(batch, empty_store, "text", id_col="doc_id",
                            fingerprint_col="fingerprint")
    rows = {r.doc_id: r.fingerprint for r in out.collect()}
    # within-batch: NULL texts collapse to the lowest id, like dedup_exact
    assert set(rows) == {1, 3}
    assert rows[1] == "__null_text__"
    # cross-run: the appended sentinel now blocks future NULL-text rows
    grown = empty_store.unionByName(out.select("fingerprint"))
    rerun = dedup_incremental(batch, grown, "text", id_col="doc_id",
                              fingerprint_col="fingerprint")
    assert rerun.count() == 0


def test_near_dup_committee_signals(spark):
    """Committee semantics on a planted corpus: a lexical near-dup
    fires jaccard+simhash but not embedding; an embedding-only pair
    (similar vectors, different text) fires exactly one signal; a pair
    flagged by nothing is absent; NULL simhash (empty doc) cannot
    fire the simhash signal."""
    from sparkgraft.dedup import near_dup_committee

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "the quick brown fox jumps over the lazy dog today"),  # ~dup of 1
            (3, "completely different text about spark engines here now"),
            (4, "unrelated words in every possible way whatsoever indeed"),
        ],
        "doc_id long, text string",
    )
    # embeddings: 3 and 4 nearly parallel (semantic pair, no shared text);
    # 1 and 2 orthogonal to everything (their signal must come from text)
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0, 0.0]),
            (3, [0.0, 0.0, 1.0, 0.05]),
            (4, [0.0, 0.0, 1.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    out = {
        (r.doc_a, r.doc_b): r
        for r in near_dup_committee(
            docs, emb, jaccard_threshold=0.3, cosine_threshold=0.9,
            hamming_threshold=10,
        ).collect()
    }
    lex = out[(1, 2)]
    assert lex.sig_jaccard and lex.sig_simhash and not lex.sig_embedding
    assert lex.n_signals == 2 and lex.cos_sim is None
    sem = out[(3, 4)]
    assert sem.sig_embedding and not sem.sig_jaccard
    assert sem.cos_sim is not None and sem.jaccard is None
    assert (1, 3) not in out and (2, 4) not in out


def test_dedup_spans_removes_shared_passage(spark):
    # A long shared passage pasted into docs 1, 2 and 3; each doc also
    # has unique surrounding text. CDC boundaries depend only on local
    # content, so the passage segments hash identically in every doc.
    passage = " ".join(f"shared{i}" for i in range(80))
    rows = [
        (1, f"alpha one two {passage}"),
        (2, f"{passage} beta three four"),
        (3, f"gamma {passage} delta"),
        (4, "totally unrelated content here"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r.doc_id: r.asDict()
        for r in D.dedup_spans(df, "text", "doc_id", avg_tokens=8).collect()
    }
    # every doc survives, including the empty one
    assert set(out) == {1, 2, 3, 4, 5}
    assert out[5]["text_dedup"] == "" and out[5]["n_segs"] == 0
    # doc 4 shares nothing -> rebuilt text is its normalized input
    assert out[4]["text_dedup"] == "totally unrelated content here"
    assert out[4]["n_segs_removed"] == 0
    # doc 1 is the lowest id: it keeps the passage in full
    assert "shared0" in out[1]["text_dedup"]
    assert out[1]["n_tokens_removed"] == 0
    # docs 2 and 3 lose the interior of the passage (the segment
    # containing the splice point can differ; everything after the
    # first boundary inside the passage is shift-robust-identical)
    for d in (2, 3):
        assert out[d]["n_segs_removed"] > 0
        assert out[d]["n_tokens_removed"] >= out[d]["n_segs_removed"]
        assert out[d]["n_tokens_removed"] >= 20
    # unique text survives span removal
    assert "beta" in out[2]["text_dedup"]
    assert "gamma" in out[3]["text_dedup"] and "delta" in out[3]["text_dedup"]


def test_dedup_spans_identical_docs_keep_first_only(spark):
    text = " ".join(f"w{i % 11}x{i % 7}" for i in range(60))
    df = spark.createDataFrame(
        [(10, text), (20, text), (30, text)], "doc_id int, text string"
    )
    out = {
        r.doc_id: r.asDict()
        for r in D.dedup_spans(df, "text", "doc_id", avg_tokens=8).collect()
    }
    assert out[10]["text_dedup"] == text and out[10]["n_segs_removed"] == 0
    for d in (20, 30):
        # an exact copy loses every span
        assert out[d]["text_dedup"] == ""
        assert out[d]["n_segs_removed"] == out[d]["n_segs"]
        assert out[d]["n_tokens_removed"] == 60


def test_dedup_spans_deterministic_across_partitioning(spark):
    import random

    rng = random.Random(7)
    vocab = [f"t{i}" for i in range(9)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 50))))
        for i in range(80)
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    a = sorted(
        map(tuple, D.dedup_spans(df.repartition(1), "text", "doc_id").collect())
    )
    b = sorted(
        map(
            tuple,
            D.dedup_spans(
                df.repartition(13, "doc_id"), "text", "doc_id"
            ).collect(),
        )
    )
    assert a == b


def test_near_dup_incremental_flags_against_history_only(spark):
    """Arrivals are judged against the signature STORE: a near-copy of
    a historical doc is flagged with the right match; a fresh doc is
    not; signatures come back ready to append; and history needs no
    text pass (the store is signatures only)."""
    hist_text = "the quick brown fox jumps over the lazy dog again and again"
    hist = spark.createDataFrame(
        [(10, hist_text), (12, "completely different historical content here")],
        "doc_id int, text string",
    )
    seen = (
        D._doc_shingle_sets(hist, "text", "doc_id", 3)
        .where(F.size("shingles") > 0)
        .select(
            "doc_id",
            D.signature_from_shingles(F.col("shingles"), 16).alias("signature"),
        )
    )
    arrivals = spark.createDataFrame(
        [
            (21, hist_text),  # exact copy of history -> est 1.0
            (23, hist_text.replace("dog", "cat")),  # near copy
            (25, "entirely novel arrival about spark engines"),
        ],
        "doc_id int, text string",
    )
    out = {
        r.doc_id: r
        for r in D.near_dup_incremental(
            arrivals, seen, "text", "doc_id", threshold=0.25
        ).collect()
    }
    assert out[21].is_dup and out[21].matched_id == 10
    assert out[21].est_jaccard == 1.0
    assert out[23].is_dup and out[23].matched_id == 10
    assert 0.25 <= out[23].est_jaccard < 1.0
    assert not out[25].is_dup and out[25].matched_id is None
    # the returned signature is the store row for the next run
    assert len(out[21].signature) == 16
    assert out[21].signature == out[21].signature  # present, stable


def test_near_dup_incremental_string_ids_tiebreak(spark):
    """ADVICE r5: the old tiebreak negated the id column, which casts
    string ids to NULL doubles — matched_id silently blanked for every
    row. The tiebreak must negate the ESTIMATE instead: string ids
    survive, and ties on est_jaccard resolve to the LOWEST id."""
    hist_text = "the quick brown fox jumps over the lazy dog again and again"
    hist = spark.createDataFrame(
        [("doc-b", hist_text), ("doc-a", hist_text)],  # identical twins
        "doc_id string, text string",
    )
    seen = (
        D._doc_shingle_sets(hist, "text", "doc_id", 3)
        .where(F.size("shingles") > 0)
        .select(
            "doc_id",
            D.signature_from_shingles(F.col("shingles"), 16).alias("signature"),
        )
    )
    arrivals = spark.createDataFrame(
        [("doc-z", hist_text)], "doc_id string, text string"
    )
    [row] = D.near_dup_incremental(
        arrivals, seen, "text", "doc_id", threshold=0.25
    ).collect()
    assert row.is_dup and row.est_jaccard == 1.0
    assert row.matched_id == "doc-a"  # lowest id wins the tie, not NULL


def test_boilerplate_line_removal_planted(spark):
    from sparkgraft.dedup import dedup_boilerplate_lines

    bp = "Subscribe   to our Newsletter today."  # matched NORMALIZED
    rows = []
    for i in range(12):
        rows.append((i, f"unique content line number {i}.\n" + bp.lower()))
    rows.append((100, "a single document with no boilerplate at all."))
    rows.append((101, ""))
    rows.append((102, None))
    # one doc carries the boilerplate with different case/spacing: the
    # normalized key must still match, and the kept text stays verbatim
    rows.append((103, "top line stays here.\n" + bp))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in dedup_boilerplate_lines(df, min_docs=10).collect()
    }
    for i in range(12):
        assert out[i].cleaned_text == f"unique content line number {i}."
        assert out[i].n_lines == 2 and out[i].n_removed == 1
    assert out[103].cleaned_text == "top line stays here."
    assert out[103].n_removed == 1
    assert out[100].cleaned_text == rows[12][1] and out[100].n_removed == 0
    for doc in (101, 102):
        assert out[doc].cleaned_text == "" and out[doc].n_lines == 0


def test_boilerplate_frequency_groups_on_hash_and_length(spark):
    """A 64-bit hash collision alone cannot merge two lines' document
    counts: the line-frequency aggregate groups on the xxhash64 AND
    the length of the normalized line."""
    from sparkgraft.dedup import dedup_boilerplate_lines

    df = spark.createDataFrame([(1, "a\nb")], "doc_id long, text string")
    plan = dedup_boilerplate_lines(df, min_docs=2)._jdf.queryExecution().analyzed().toString()
    freq = [ln for ln in plan.splitlines() if "count(distinct" in ln]
    assert len(freq) == 1, plan
    assert re.search(r"Aggregate \[__k#\d+L, __n#\d+\], ", freq[0]), freq[0]


def test_quality_keep_prefers_richer_member_over_lower_id(spark):
    from sparkgraft.dedup import quality_keep

    # cluster {1,2,3}: doc 3 (highest id) has the richest vocabulary and
    # must win; cluster {7,8}: tie on score -> lower id 7 wins
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "doc_a long, doc_b long"
    )
    scores = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 12), (7, 4), (8, 4), (99, 1)],
        "doc_id long, n_unique_tokens long",
    )
    out = {r.doc_id: r for r in quality_keep(pairs, scores, "doc_id", "n_unique_tokens").collect()}
    assert set(out) == {1, 2, 3, 7, 8}  # singleton 99 not in the graph
    assert [out[i].keep for i in (1, 2, 3)] == [False, False, True]
    assert out[3].cluster_id == out[1].cluster_id == 1
    assert out[7].keep and not out[8].keep  # id ASC tiebreak on equal score
    # exactly one survivor per cluster
    assert sum(r.keep for r in out.values()) == 2


def test_plan_lsh_bands_track_threshold(spark):
    """Higher target thresholds must plan FEWER, DEEPER bands (the
    S-curve inflection (1/b)^(1/r) rises with r), and the planned
    curve must separate true pairs from noise at the target."""
    from sparkgraft.dedup import plan_lsh

    plans = {t: plan_lsh(t, num_hashes=16) for t in (0.2, 0.5, 0.8, 0.9)}
    rows = [r for _, r in plans.values()]
    assert rows == sorted(rows), plans  # rows_per_band rises with threshold
    for t, (b, r) in plans.items():
        assert b * r == 16
        p_above = 1 - (1 - min(1.0, t + 0.15) ** r) ** b
        p_below = 1 - (1 - max(0.0, t - 0.15) ** r) ** b
        assert p_above > p_below  # the curve is the right way up
        assert p_above > 0.45, (t, plans[t])  # catches pairs just above target

    import pytest as _pytest
    with _pytest.raises(ValueError, match="threshold"):
        plan_lsh(1.5)


def test_quality_keep_missing_scores_never_drop_members(spark):
    """A clustered doc with no score row must still appear (left join,
    NULL score ranks last) — the one-row-per-clustered-document
    contract holds under partial score coverage, and an all-unscored
    cluster still elects exactly one keeper by id ASC."""
    from sparkgraft.dedup import quality_keep

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "doc_a long, doc_b long"
    )
    # doc 3 (would be the argmax) has NO score row; cluster {7,8} is
    # entirely unscored
    scores = spark.createDataFrame(
        [(1, 5), (2, 9)], "doc_id long, score long"
    )
    out = {r.doc_id: r for r in quality_keep(pairs, scores, "doc_id", "score").collect()}
    assert set(out) == {1, 2, 3, 7, 8}  # nobody silently dropped
    assert out[2].keep  # highest SCORED member wins; NULL ranks last
    assert not out[1].keep and not out[3].keep
    assert out[3].score is None
    assert out[7].keep and not out[8].keep  # all-NULL cluster: id ASC
    assert sum(r.keep for r in out.values()) == 2
