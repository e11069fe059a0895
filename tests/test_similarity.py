from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkgraft import similarity as S
from sparkgraft.io import read_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return read_table(spark, sf_dir, "embeddings")


def test_cosine_basics(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [2.0, 0.0])],
        "vec_id int, embedding array<float>",
    )
    out = df.select(
        S.cosine(F.col("embedding"), F.array(F.lit(1.0), F.lit(0.0))).alias("c")
    ).collect()
    assert [round(r.c, 6) for r in out] == [1.0, 0.0, 1.0]


def test_cosine_topk_deterministic(spark, emb):
    queries = emb.where(F.col("vec_id") < 3)
    out = S.cosine_topk(emb, queries, k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append((r.rank, r.vec_id, r.cos_sim))
    for q, rows in by_q.items():
        rows.sort()
        assert len(rows) == 5
        sims = [c for _, _, c in rows]
        assert sims == sorted(sims, reverse=True)
        assert all(v != q for _, v, _ in rows)  # self excluded


def test_rp_lsh_recall_vs_bruteforce(spark, emb):
    queries = emb.where(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.vec_id)
        for r in S.cosine_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in S.rp_lsh_topk(
            emb, queries, dim=64, k=5, num_planes=4, num_tables=8
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    # 8 tables x 4 planes on 500 vecs: buckets are large, recall high
    assert recall >= 0.6, f"LSH recall too low: {recall}"


def test_ivf_recall_vs_bruteforce(spark, emb):
    queries = emb.where(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.vec_id)
        for r in S.cosine_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in S.ivf_topk(
            emb, queries, dim=64, k=5, n_centroids=8, n_probe=4
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    # probing half of 8 trained lists on 500 vecs keeps recall high
    assert recall >= 0.6, f"IVF recall too low: {recall}"


def test_ivf_full_probe_is_exact(spark, emb):
    """n_probe == n_centroids degenerates to exact brute force — every
    inverted list is searched, so the result must equal cosine_topk."""
    queries = emb.where(F.col("vec_id") < 3)
    exact = [
        (r.query_id, r.rank, r.vec_id)
        for r in S.cosine_topk(emb, queries, k=5).collect()
    ]
    full = [
        (r.query_id, r.rank, r.vec_id)
        for r in S.ivf_topk(
            emb, queries, dim=64, k=5, n_centroids=4, n_probe=4, iters=2
        ).collect()
    ]
    assert sorted(full) == sorted(exact)


def test_ivf_train_partitions_corpus(spark, emb):
    """Every corpus vector lands in exactly one inverted list and every
    centroid id is within range."""
    cents = S.ivf_train(emb, dim=64, n_centroids=8, iters=2)
    assert len(cents) == 8
    assert all(len(v) == 64 for _, v in cents)
    assigned = emb.select(
        S.ivf_assign_udf(cents, 64)(F.col("embedding")).alias("cid")
    )
    cids = {r.cid for r in assigned.distinct().collect()}
    assert cids <= set(range(8))
    assert assigned.count() == emb.count()


def test_ivf_train_clamps_and_guards(spark):
    """n_centroids > corpus size clamps; zero-norm vectors don't NaN."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.0, 2.0])],
        "vec_id int, embedding array<float>",
    )
    cents = S.ivf_train(df, dim=2, n_centroids=8, iters=2)
    assert len(cents) == 3
    assert all(all(v == v for v in vec) for _, vec in cents)  # no NaN
    out = S.ivf_topk(df, df.where(F.col("vec_id") == 1), dim=2, k=2,
                     n_centroids=8, n_probe=8)
    assert out.count() <= 2


def test_cosine_pairs_threshold(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.99, 0.14]), (3, [0.0, 1.0])],
        "vec_id int, embedding array<float>",
    )
    pairs = {(r.id_a, r.id_b) for r in S.cosine_pairs(df, threshold=0.95).collect()}
    assert pairs == {(1, 2)}


@pytest.mark.parametrize("threshold", [0.3, 0.4, 0.45])
def test_cosine_pairs_blocked_equals_exact(spark, emb, threshold):
    """The blocked plan is EXACT, not approximate: identical result set
    (ids and rounded cos_sim) to the quadratic cross-join form at every
    threshold, including multi-block configurations."""
    exact = sorted(
        (r.id_a, r.id_b, r.cos_sim)
        for r in S.cosine_pairs(emb, threshold=threshold).collect()
    )
    blocked = sorted(
        (r.id_a, r.id_b, r.cos_sim)
        for r in S.cosine_pairs_blocked(
            emb, threshold=threshold, block_rows=128
        ).collect()
    )
    assert blocked == exact
    assert len(exact) > 0  # the threshold exercises real pairs


def test_cosine_pairs_blocked_null_embedding(spark):
    """A NULL embedding must neither desynchronize ids from vectors
    within a block nor drop true pairs: NULL rows are filtered before
    packing (cosine_pairs semantics: NULL side -> NULL cosine -> fails
    the threshold), and (id, vec) travel as one struct."""
    rows = [(i, [1.0, float(i % 7) / 100.0]) for i in range(40)]
    rows[13] = (13, None)
    rows[29] = (29, None)
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    exact = sorted(
        (r.id_a, r.id_b, r.cos_sim)
        for r in S.cosine_pairs(df, threshold=0.999).collect()
    )
    blocked = sorted(
        (r.id_a, r.id_b, r.cos_sim)
        for r in S.cosine_pairs_blocked(
            df, threshold=0.999, num_blocks=5
        ).collect()
    )
    assert blocked == exact
    assert len(exact) > 0
    assert not any(13 in (a, b) or 29 in (a, b) for a, b, _ in exact)


def test_np_cosine_zero_norm_ranks_last(spark):
    """np_cosine's zero-norm guard: a zero vector scores 0.0 (not NaN,
    which Spark sorts ABOVE every real double) so it can never outrank
    a genuinely similar candidate in the approximate indexes."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.1]), (2, [0.0, 0.0]), (3, [1.0, 0.2]), (4, [0.9, 0.1])],
        "vec_id int, embedding array<float>",
    )
    scored = df.crossJoin(
        df.where(F.col("vec_id") == 1).select(F.col("embedding").alias("q"))
    ).select(
        "vec_id",
        S.np_cosine()(F.col("embedding"), F.col("q")).alias("cos_sim"),
    )
    rows = {r.vec_id: r.cos_sim for r in scored.collect()}
    assert rows[2] == 0.0
    assert all(rows[2] < rows[v] for v in (1, 3, 4))


def test_cosine_pairs_blocked_no_count_job(spark, emb):
    """Building the blocked plan must trigger no Spark job (the old form
    ran df.count() to size blocks)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    S.cosine_pairs_blocked(emb, threshold=0.4)
    after = tracker.getJobIdsForGroup(None)
    assert before == after


def test_cosine_pairs_blocked_no_cartesian(spark, emb):
    """Scale guard: the physical plan must contain no CartesianProduct
    or BroadcastNestedLoopJoin — candidates come from equi-joined chunk
    pairs, never a row-level cross join."""
    plan = S.cosine_pairs_blocked(
        emb, threshold=0.4, block_rows=128
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.fixture(scope="module")
def planted(spark):
    """Seeded corpus with PLANTED near-dups: 40 random 64-dim bases,
    every even-indexed base gets a copy perturbed to cosine ~0.9998
    (the regime cosine_pairs_lsh targets), plus one NULL row."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.normal(size=(40, 64))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        if i % 2 == 0:
            nd = v + rng.normal(scale=0.02, size=64)
            rows.append((1000 + i, [float(x) for x in nd]))
    rows.append((9999, None))
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>"
    )


def test_cosine_pairs_lsh_subset_and_recall(spark, planted):
    """LSH pairs = subset of exact pairs with IDENTICAL scores
    (precision 1 by construction: survivors re-score through the same
    staged fold + round), and recall >= 0.9 on planted near-dups."""
    exact = {
        (r.id_a, r.id_b): r.cos_sim
        for r in S.cosine_pairs(planted, threshold=0.95).collect()
    }
    approx = {
        (r.id_a, r.id_b): r.cos_sim
        for r in S.cosine_pairs_lsh(planted, dim=64, threshold=0.95).collect()
    }
    assert len(exact) == 20  # every planted pair, nothing random
    assert set(approx) <= set(exact)
    assert all(approx[k] == exact[k] for k in approx)
    recall = len(approx) / len(exact)
    assert recall >= 0.9, f"LSH pair recall too low: {recall}"


def test_cosine_pairs_lsh_hub_bucket_cap(spark):
    """max_bucket drops degenerate hub buckets: 20 identical vectors
    collapse into one bucket per table; uncapped finds all 190 pairs,
    cap 5 drops the hub entirely."""
    df = spark.createDataFrame(
        [(i, [1.0] * 8) for i in range(20)],
        "vec_id bigint, embedding array<float>",
    )
    kw = dict(dim=8, threshold=0.9, num_planes=2, num_tables=2)
    assert S.cosine_pairs_lsh(df, **kw).count() == 190
    assert S.cosine_pairs_lsh(df, max_bucket=5, **kw).count() == 0


def test_cosine_pairs_lsh_plan_shape(spark, emb):
    """Scale guards: no CartesianProduct / BroadcastNestedLoopJoin (the
    candidate join is an equi-join on (table, bucket)) and no
    row-at-a-time Python UDF (bucket assignment is ArrowEvalPython)."""
    plan = (
        S.cosine_pairs_lsh(emb, dim=64, threshold=0.45)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_zero_norm_vector_never_aborts_or_ranks(spark):
    """Spark 4 runs ANSI mode: an unguarded norm division ABORTS the
    query with DIVIDE_BY_ZERO on a zero vector. All cosine tiers must
    instead yield NULL (DuckDB's division-by-zero result), which sorts
    last and fails every threshold."""
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [0.5, 0.5])],
        "vec_id int, embedding array<float>",
    )
    top = S.cosine_topk(df, df.where("vec_id = 0"), k=3).collect()
    assert [(r.rank, r.vec_id) for r in top] == [(1, 2), (2, 1)]
    assert top[-1].cos_sim is None  # zero vector last, NULL score
    pairs = S.cosine_pairs(df, threshold=0.5).collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(0, 2)]
    lsh = S.cosine_pairs_lsh(
        df, dim=2, threshold=0.5, num_planes=2, num_tables=2
    ).collect()
    assert [(r.id_a, r.id_b) for r in lsh] == [(0, 2)]


def test_auto_num_planes_scale_rule():
    from sparkgraft.similarity import auto_num_planes

    # occupancy contract: 2^planes buckets hold ~target per bucket
    for n in (10_000, 1_000_000, 100_000_000):
        p = auto_num_planes(n, target_bucket=64)
        assert 2**p >= n / 64
        assert 2 ** (p - 1) < n / 64 or p == 4
    # monotone in corpus size, clamped at both ends
    sizes = [0, 100, 10_000, 10**6, 10**9, 10**15]
    planes = [auto_num_planes(n) for n in sizes]
    assert planes == sorted(planes)
    assert planes[0] == 4      # tiny corpora keep the floor
    assert planes[-1] == 24    # cap: beyond this raise num_tables
    # the registered sf0.01 demo (500 vectors) stays at the floor,
    # consistent with its pinned 4-plane recall configuration
    assert auto_num_planes(500) == 4


def test_knn_label_vote_majority_and_ties(spark):
    """kNN classification: planted clusters where the neighborhood
    label is unambiguous; a constructed tie resolves to the smallest
    label deterministically."""
    import math

    from sparkgraft.similarity import knn_label_vote

    def vec(angle):
        # unit 2-D vectors embedded in 4 dims
        return [math.cos(angle), math.sin(angle), 0.0, 0.0]

    rows = []
    # cluster A (label 1) fans BELOW angle 0, cluster B (label 2) fans
    # ABOVE pi/2 — exactly mirror-symmetric about pi/4, so a pi/4 query
    # sees pairwise-identical cosines from both clusters (a true tie)
    for i in range(5):
        rows.append((10 + i, vec(-0.02 * i), 1))
        rows.append((20 + i, vec(math.pi / 2 + 0.02 * i), 2))
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    q = corpus.where(F.col("vec_id").isin(10, 20))
    out = {r.query_id: r for r in knn_label_vote(corpus, q, k=4).collect()}
    assert out[10].predicted_label == 1 and out[10].votes == 4
    assert out[20].predicted_label == 2 and out[20].votes == 4

    # tie: k=4 neighbors of a mid-angle query split 2/2 -> label 1 wins
    mid = spark.createDataFrame(
        [(99, vec(math.pi / 4), 0)], "vec_id long, embedding array<float>, label int"
    )
    corpus2 = corpus.unionByName(mid)
    tie = {r.query_id: r for r in knn_label_vote(
        corpus2, mid, k=4).collect()}
    assert tie[99].predicted_label == 1 and tie[99].votes == 2


def test_standardize_embeddings_moments_and_zero_variance(spark):
    """Whitening: standardized dimensions have ~zero mean and unit
    variance; a constant (zero-variance) dimension maps to 0 for every
    vector rather than dividing by zero."""
    import numpy as np

    from sparkgraft.similarity import standardize_embeddings

    rng = [(i, [float(i), 2.0 * i + 1.0, 7.0]) for i in range(50)]
    df = spark.createDataFrame(rng, "vec_id long, embedding array<float>")
    out = {
        r.vec_id: list(r.z_embedding)
        for r in standardize_embeddings(df, dim=3).collect()
    }
    z = np.array([out[i] for i in range(50)])
    # dims 0 and 1: standardized to mean ~0, population std ~1
    for d in (0, 1):
        assert abs(z[:, d].mean()) < 1e-6
        assert abs(z[:, d].std() - 1.0) < 1e-6
    # dim 2 constant -> all zeros
    assert np.all(z[:, 2] == 0.0)
    # affinely-related dims standardize identically
    assert np.allclose(z[:, 0], z[:, 1])


def test_semantic_decontaminate_catches_paraphrase_leak(spark):
    """A near-copy of an eval vector (the 'paraphrase': same direction,
    small perturbation) is flagged; orthogonal corpus items are not;
    the exact leak (the eval vector itself in the corpus) hits 1.0."""
    import numpy as np

    from sparkgraft.similarity import semantic_decontaminate

    rng = np.random.default_rng(5)
    ev = rng.normal(size=8)
    para = ev + rng.normal(scale=0.05, size=8)  # cosine ~0.999
    # orthogonalize a far item against ev
    far = rng.normal(size=8)
    far -= far.dot(ev) / ev.dot(ev) * ev
    rows = [
        (100, [float(x) for x in ev]),     # exact leak in corpus
        (2, [float(x) for x in para]),     # paraphrase leak
        (3, [float(x) for x in far]),      # clean
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    eval_df = spark.createDataFrame(
        [(100, [float(x) for x in ev])], "vec_id long, embedding array<float>"
    )
    out = {
        r.vec_id: r
        for r in semantic_decontaminate(
            corpus, eval_df, threshold=0.9
        ).collect()
    }
    assert out[100].contaminated and out[100].max_eval_sim == 1.0
    assert out[2].contaminated and out[2].max_eval_sim > 0.99
    assert not out[3].contaminated and abs(out[3].max_eval_sim) < 0.01
    assert all(r.nearest_eval_id == 100 for r in out.values())


def test_semantic_decontaminate_string_eval_ids(spark):
    """ADVICE r5: nearest_eval_id must survive string eval ids (the old
    tiebreak negated the id, casting strings to NULL); ties on the
    rounded max resolve to the lowest id."""
    from sparkgraft.similarity import semantic_decontaminate

    v = [1.0, 0.0, 0.0, 0.0]
    corpus = spark.createDataFrame(
        [("c1", v)], "vec_id string, embedding array<float>"
    )
    eval_df = spark.createDataFrame(
        [("ev-b", v), ("ev-a", v)],  # identical -> tie at sim 1.0
        "vec_id string, embedding array<float>",
    )
    [row] = semantic_decontaminate(corpus, eval_df, threshold=0.9).collect()
    assert row.contaminated and row.max_eval_sim == 1.0
    assert row.nearest_eval_id == "ev-a"


def test_hard_negatives_exclude_same_label_and_rank(spark):
    from sparkgraft.similarity import hard_negatives

    rows = [
        (0, [1.0, 0.0], 0),   # query
        (1, [0.999, 0.05], 0),  # nearest overall but SAME label -> excluded
        (2, [0.95, 0.3], 1),    # best different-label
        (3, [0.5, 0.8], 1),
        (4, [-1.0, 0.0], 2),    # opposite
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = hard_negatives(emb, emb.where("vec_id = 0"), k=3).collect()
    assert [r.vec_id for r in sorted(out, key=lambda r: r.rank)] == [2, 3, 4]
    assert all(r.neg_label != r.query_label for r in out)
    sims = [r.cos_sim for r in sorted(out, key=lambda r: r.rank)]
    assert sims == sorted(sims, reverse=True)


def test_label_noise_candidates_flags_planted_mislabel(spark):
    from sparkgraft.similarity import label_noise_candidates

    # a tight label-0 cluster around [1, 0]; vec 99 sits inside it but
    # is labeled 1 (the planted mislabel); vec 50 is a correctly
    # labeled singleton far away (its neighbors disagree, but a lone
    # off-cluster point is exactly what min_votes protects: flag it
    # anyway — all its neighbors are label 0 — so use it to check the
    # is_suspect semantics, not the absence of a flag)
    rows = [(i, [1.0, 0.001 * i], 0) for i in range(12)]
    rows.append((99, [1.0, 0.005], 1))   # planted mislabel inside the cluster
    rows.append((50, [-1.0, 0.0], 2))    # far-away singleton, label 2
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {
        r.query_id: r
        for r in label_noise_candidates(
            emb, emb.where("vec_id in (0, 99, 50)"), k=5, min_votes=4
        ).collect()
    }
    assert out[99].is_suspect  # cluster votes label 0 against assigned 1
    assert out[99].predicted_label == 0 and out[99].assigned_label == 1
    assert not out[0].is_suspect  # in-cluster, correctly labeled
    assert out[0].predicted_label == 0
    # the singleton's neighborhood is all label 0 -> it flags too; the
    # report carries the margin so a reviewer sees WHY
    assert out[50].is_suspect and out[50].predicted_label == 0


def test_centroid_drift_planted_rotation(spark):
    from sparkgraft.similarity import centroid_drift

    rows = []
    # label 0: odd half NEGATED (planted drift -> centroid cos ~ -1)
    for i in range(20):
        v = [1.0, 0.5, 0.25, 0.125]
        rows.append((i * 2, v, 0))
        rows.append((i * 2 + 1, [-x for x in v], 0))
    # label 1: both halves identical (cos 1.0, no drift)
    for i in range(20):
        rows.append((1000 + i, [0.5, 0.5, 0.1, 0.9], 1))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {r.label: r for r in centroid_drift(emb, dim=4).collect()}
    assert out[0].drifted and out[0].centroid_cos < -0.99
    assert not out[1].drifted and out[1].centroid_cos == 1.0
    assert out[0].n_a == 20 and out[0].n_b == 20


# ---- covariance / PCA whitening --------------------------------------------


def test_covariance_cells_matches_numpy(spark, emb):
    import numpy as np

    pdf = emb.orderBy("vec_id").toPandas()
    X = np.stack(pdf["embedding"].map(np.asarray).values).astype(np.float64)
    cells = S.covariance_cells(emb, 64).collect()
    assert len(cells) == 64 * 65 // 2  # upper triangle incl. diagonal
    cov = np.zeros((64, 64))
    for r in cells:
        assert r.i <= r.j
        cov[r.i, r.j] = cov[r.j, r.i] = r.cov
    ref = np.cov(X, rowvar=False, bias=True)
    assert np.abs(cov - ref).max() < 1e-8  # round_to=8 is the only slack


def test_covariance_cells_plan_has_no_self_join(spark, emb):
    # the whole point: pair products are generated row-locally, so the
    # plan contains no join at all before the broadcast of the d means
    plan = S.covariance_cells(emb, 64)._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_pca_whiten_identity_covariance_and_numpy_twin(spark, emb):
    import numpy as np

    k = 6
    zdf = S.pca_whiten(emb, 64, k).orderBy("vec_id").toPandas()
    Z = np.stack(zdf["z"].map(np.asarray).values)
    assert Z.shape[1] == k
    zc = np.cov(Z, rowvar=False, bias=True)
    assert np.abs(np.diag(zc) - 1.0).max() < 1e-3  # unit variance per component
    assert np.abs(zc - np.diag(np.diag(zc))).max() < 1e-3  # decorrelated
    # twin: projecting with numpy's own eigh of the SAME covariance gives
    # the same subspace — compare absolute component correlations
    pdf = emb.orderBy("vec_id").toPandas()
    X = np.stack(pdf["embedding"].map(np.asarray).values).astype(np.float64)
    ref = np.cov(X, rowvar=False, bias=True)
    vals, vecs = np.linalg.eigh(ref)
    order = np.argsort(vals)[::-1][:k]
    W = vecs[:, order] / np.sqrt(vals[order])
    Zr = (X - X.mean(axis=0)) @ W
    for c in range(k):
        corr = abs(np.corrcoef(Z[:, c], Zr[:, c])[0, 1])
        assert corr > 0.999, (c, corr)


def test_pca_whiten_deterministic_under_repartitioning(spark, emb):
    import numpy as np

    a = S.pca_whiten(emb, 64, 4).orderBy("vec_id").toPandas()
    b = S.pca_whiten(emb.repartition(13), 64, 4).orderBy("vec_id").toPandas()
    Za = np.stack(a["z"].map(np.asarray).values)
    Zb = np.stack(b["z"].map(np.asarray).values)
    assert (Za == Zb).all()


def test_rrf_fuse_hand_computed(spark):
    lex = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)],
        "query_id long, vec_id long, rank long",
    )
    vec = spark.createDataFrame(
        [(1, 11, 1), (1, 13, 2)],
        "query_id long, vec_id long, rank long",
    )
    out = {r.vec_id: r for r in S.rrf_fuse([lex, vec], k=60).collect()}
    # doc 11 appears in both signals: 1/62 + 1/61 (terms rounded to 12,
    # sum rounded to 8 — compare the exact same arithmetic)
    assert out[11].n_signals == 2
    assert out[11].rrf_score == round(round(1 / 62, 12) + round(1 / 61, 12), 8)
    # single-signal docs get exactly their one term
    assert out[10].n_signals == 1 and out[10].rrf_score == round(round(1 / 61, 12), 8)
    assert out[13].n_signals == 1 and out[13].rrf_score == round(round(1 / 62, 12), 8)
    # fusion must rank the both-signal doc above every single-signal doc here
    best = max(out.values(), key=lambda r: r.rrf_score)
    assert best.vec_id == 11


def test_covariance_cells_arrow_agrees_with_exact_tier(spark, emb):
    import numpy as np

    exact = {(r.i, r.j): r.cov for r in S.covariance_cells(emb, 64).collect()}
    arrow = {
        (r.i, r.j): r.cov
        for r in S.covariance_cells_arrow(emb.repartition(7), 64).collect()
    }
    assert set(arrow) == set(exact)
    worst = max(abs(arrow[k] - exact[k]) for k in exact)
    # float partial-Gram sums vs decimal-exact sums: tolerance, not hash
    assert worst < 1e-6, worst
    # the Arrow tier's plan must stay Arrow-batched (ArrowEvalPython /
    # mapInPandas), never row-at-a-time Python
    plan = (
        S.covariance_cells_arrow(emb, 64)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan


def test_rag_chunk_retrieval_self_retrieval_sanity(spark, sf_dir):
    """A query document's own chunks share most of their tokens with
    the whole-doc embedding, so its top-ranked chunk must come from
    itself — the end-to-end sanity of chunk -> hash-embed -> retrieve."""
    import sparkgraft.queries as Q

    out = Q.RETIRED_QUERIES["rag_chunk_retrieval"](spark, sf_dir).collect()
    assert len(out) > 0
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        top = min(rows, key=lambda r: r.rank)
        assert top.src_doc == q, (q, top)
        assert top.cos_sim > 0.5


def test_pca_whiten_rank_guard_zeroes_noise_components(spark):
    """Requesting k beyond the effective rank must NOT multiply
    rounded-covariance noise by ~1e9 into the output: components with
    eigenvalues below the relative tolerance emit exact 0.0."""
    import numpy as np

    # rank-2 data embedded in 6 dims: x = a*e0 + b*e1, zeros elsewhere
    rows = []
    for i in range(40):
        a, b = float((i * 7) % 11 - 5), float((i * 3) % 9 - 4)
        rows.append((i, [a, b, 0.0, 0.0, 0.0, 0.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    Z = np.stack(
        S.pca_whiten(df, 6, 5)
        .orderBy("vec_id")
        .toPandas()["z"]
        .map(np.asarray)
        .values
    )
    assert Z.shape == (40, 5)
    # the two real components carry unit variance; the rest are EXACT zero
    var = Z.var(axis=0)
    assert (np.abs(var[:2] - 1.0) < 1e-3).all(), var
    assert (Z[:, 2:] == 0.0).all()
    assert np.isfinite(Z).all()


def test_hybrid_retrieval_ann_tier_tracks_exact_tier(spark, sf_dir):
    """The scale-tier hybrid (RP-LSH vector arm) must stay close to
    the fully-oracled exact tier: same query set, <= 10 per query, and
    majority overlap of the fused top-10 — the ANN arm trades a
    bounded amount of recall for the bucket join, not correctness of
    the fusion machinery."""
    from sparkgraft.queries import RETIRED_QUERIES

    exact = RETIRED_QUERIES["hybrid_retrieval_rrf"](spark, sf_dir).collect()
    ann = RETIRED_QUERIES["hybrid_retrieval_rrf_ann"](spark, sf_dir).collect()
    ex = {(r.query_id, r.doc_id) for r in exact}
    an = {(r.query_id, r.doc_id) for r in ann}
    assert {r.query_id for r in ann} == {r.query_id for r in exact}
    from collections import Counter

    per_q = Counter(r.query_id for r in ann)
    assert max(per_q.values()) <= 10
    recall = len(ex & an) / len(ex)
    assert recall >= 0.5, recall
    # the lexical arm is shared verbatim, so every fused row carries
    # a sane signal count
    assert all(1 <= r.n_signals <= 2 for r in ann)


def test_pq_train_shapes_and_determinism(spark, emb):
    books = S.pq_train(emb, dim=64, m=8, n_codes=16)
    assert len(books) == 8 and all(len(b) == 16 for b in books)
    assert all(len(c) == 8 for b in books for c in b)  # dsub = 64/8
    again = S.pq_train(emb, dim=64, m=8, n_codes=16)
    assert books == again  # no RNG anywhere
    import pytest as _pytest

    with _pytest.raises(ValueError, match="divisible"):
        S.pq_train(emb, dim=64, m=7)


def test_pq_reconstruction_error_shrinks_with_codebook_size(spark, emb):
    """Quantizer sanity: decoding a vector to its per-subspace code
    centroids gets strictly closer to the original as n_codes grows —
    the defining trade of the memory tier."""
    import numpy as np

    rows = emb.orderBy("vec_id").limit(200).collect()
    x = np.asarray([r.embedding for r in rows], dtype=np.float64)

    def mse(n_codes):
        cb = np.asarray(S.pq_train(emb, dim=64, m=8, n_codes=n_codes))
        err = 0.0
        for s in range(8):
            sub = x[:, s * 8 : (s + 1) * 8]
            d2 = (
                (sub * sub).sum(axis=1, keepdims=True)
                - 2.0 * sub @ cb[s].T
                + (cb[s] * cb[s]).sum(axis=1)[None, :]
            )
            err += float(d2.min(axis=1).sum())
        return err

    e2, e16, e64 = mse(2), mse(16), mse(64)
    assert e2 > e16 > e64 > 0.0


def test_pq_adc_planted_exact_duplicate_is_top1(spark, emb):
    """An EXACT copy of a query vector achieves the minimum possible
    ADC distance (its codes are per-subspace argmins of the query's
    own lookup table), so planted copies must rank first — the
    ann_*_top1_planted construction for the PQ tier."""
    base = emb.select("vec_id", "embedding")
    copies = base.where(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    planted = base.unionByName(copies)
    books = S.pq_train(emb, dim=64, m=16, n_codes=64)
    codes = S.pq_encode(planted, books)
    queries = emb.where(F.col("vec_id") % 50 == 0)
    top1 = {
        r.query_id: (r.vec_id, r.adist)
        for r in S.pq_adc_topk(codes, queries, books, k=1).collect()
    }
    assert len(top1) == queries.count()
    for q, (cand, adist) in top1.items():
        # the copy wins outright unless a natural vector shares ALL m
        # codes (then the id tiebreak favors the lower natural id);
        # either way the winning distance equals the certain minimum —
        # the planted copy's own quantization error
        assert cand == q + 10_000_000, (q, cand, adist)


def test_pq_adc_keeps_big_ids_exact_next_to_a_null_id(spark):
    """A NULL-id code row in the batch of an id above 2**53: the NULL is
    no candidate, and the big id comes back exact (pandas would read the
    batch's id column as float64)."""
    from sparkgraft.relational import tiny_frame

    big = 4611686018427387905
    books = [[[0.0], [1.0]], [[0.0], [1.0]]]  # m=2 subspaces of 1 dim
    codes = tiny_frame(
        spark,
        [(big, bytes([0, 0])), (None, bytes([0, 0])), (7, bytes([1, 1]))],
        "vec_id long, codes binary",
    )
    queries = tiny_frame(spark, [(1, [0.0, 0.0])], "vec_id long, embedding array<double>")
    got = [tuple(r) for r in S.pq_adc_topk(codes, queries, books, k=5).orderBy("rank").collect()]
    assert got == [(1, 1, big, 0.0), (1, 2, 7, 2.0)]


def test_pq_adc_recall_vs_bruteforce_and_plan(spark, emb):
    """Recall measured against the EXACT L2 top-5 (the metric ADC
    approximates — comparing against cosine truth would conflate the
    L2-vs-cosine metric gap with quantization error), plus the plan
    hygiene checks."""
    import numpy as np

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.asarray([r.vec_id for r in rows], dtype=np.int64)
    x = np.asarray([r.embedding for r in rows], dtype=np.float64)
    qmask = ids < 10
    exact = set()
    for qi in np.flatnonzero(qmask):
        d2 = ((x - x[qi]) ** 2).sum(axis=1)
        d2[qi] = np.inf  # self excluded
        order = np.lexsort((ids, d2))[:5]
        exact |= {(int(ids[qi]), int(ids[j])) for j in order}
    queries = emb.where(F.col("vec_id") < 10)
    # isotropic unit vectors with shallow neighborhoods are PQ's hard
    # case: coarse subspaces drown the neighbor signal in quantization
    # noise (measured: m=8/64 codes -> recall 0.30 at 0.33 quant err;
    # m=32/64 -> 0.72 at 0.027). m=32 over 64 dims is still 8x
    # compression of a float32 corpus.
    books = S.pq_train(emb, dim=64, m=32, n_codes=64)
    codes = S.pq_encode(emb, books)
    df = S.pq_adc_topk(codes, queries, books, k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan  # Arrow-batched only
    approx = {(r.query_id, r.vec_id) for r in df.collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"PQ recall vs exact L2 too low: {recall}"
    # the production composition: ADC shortlist-25 + exact re-rank —
    # quantization error costs recall only at the shortlist boundary
    rer = S.pq_rerank_topk(emb, queries, books, k=5, shortlist=25)
    rplan = rer._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in rplan
    assert "BatchEvalPython" not in rplan
    reranked = {(r.query_id, r.vec_id) for r in rer.collect()}
    rrecall = len(exact & reranked) / len(exact)
    assert rrecall >= 0.9, f"rerank recall too low: {rrecall}"
    assert rrecall >= recall


def test_ivfpq_recall_and_planted_duplicate(spark, emb):
    """The composed production index (IVF lists x residual-PQ codes):
    recall vs exact L2 over the probed fraction, a planted EXACT
    duplicate surfacing at rank 1 (same cosine assignment -> same
    list; its residual codes are the query's own residual argmins, so
    its ADC distance is the in-list minimum), and plan hygiene."""
    import numpy as np

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.asarray([r.vec_id for r in rows], dtype=np.int64)
    x = np.asarray([r.embedding for r in rows], dtype=np.float64)
    qmask = ids < 10
    exact = set()
    for qi in np.flatnonzero(qmask):
        d2 = ((x - x[qi]) ** 2).sum(axis=1)
        d2[qi] = np.inf
        exact |= {
            (int(ids[qi]), int(ids[j]))
            for j in np.lexsort((ids, d2))[:5]
        }
    queries = emb.where(F.col("vec_id") < 10)
    df = S.ivfpq_topk(
        emb, queries, dim=64, k=5, n_centroids=16, n_probe=8,
        m=16, n_codes=64,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    approx = {(r.query_id, r.vec_id) for r in df.collect()}
    recall = len(exact & approx) / len(exact)
    # probing half the lists with residual-PQ codes on the isotropic
    # corpus: both the IVF prune and the quantization cost recall, so
    # the bar is the composition sanity floor
    assert recall >= 0.4, f"IVF-PQ recall too low: {recall}"

    # planted exact duplicates surface at rank 1 through the full path
    base = emb.select("vec_id", "embedding")
    copies = base.where(F.col("vec_id") % 100 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    planted = base.unionByName(copies)
    pq = S.ivfpq_topk(
        planted, base.where(F.col("vec_id") % 100 == 0), dim=64, k=1,
        n_centroids=16, n_probe=4, m=16, n_codes=64,
    )
    top1 = {r.query_id: r.vec_id for r in pq.collect()}
    assert len(top1) == 5
    assert all(v == q + 10_000_000 for q, v in top1.items()), top1


def test_contrastive_pairs_arm_semantics(spark, emb):
    """Per query: exactly one top-1 SAME-label positive and five
    hardest DIFFERENT-label negatives, both verified against a numpy
    exhaustive twin (the positive is the same-label cosine argmax; the
    negative set equals hard_negatives' output)."""
    import numpy as np

    queries = emb.where(F.col("vec_id") < 5)
    out = S.contrastive_pairs(emb, queries, k_pos=1, k_neg=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    rows = emb.select("vec_id", "embedding", "label").collect()
    ids = np.asarray([r.vec_id for r in rows])
    x = np.asarray([r.embedding for r in rows], dtype=np.float64)
    labels = np.asarray([r.label for r in rows])
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    for q, rs in by_q.items():
        pos = [r for r in rs if r.is_positive == 1]
        neg = [r for r in rs if r.is_positive == 0]
        assert len(pos) == 1 and len(neg) == 5
        qi = int(np.flatnonzero(ids == q)[0])
        sims = np.round(xn @ xn[qi], 6)
        # numpy twin for the positive arm: same-label argmax, id tiebreak
        mask = (labels == labels[qi]) & (ids != q)
        cand = np.flatnonzero(mask)
        best = cand[np.lexsort((ids[cand], -sims[cand]))[0]]
        assert pos[0].vec_id == ids[best] and pos[0].pair_label == labels[qi]
        assert all(r.pair_label != r.query_label for r in neg)
        # the negative arm IS hard_negatives' output
        hn = {
            (r.rank, r.vec_id)
            for r in S.hard_negatives(emb, queries.where(
                F.col("vec_id") == q), k=5).collect()
        }
        assert {(r.rank, r.vec_id) for r in neg} == hn


def test_quantizer_save_load_roundtrip_pq(spark, emb, tmp_path):
    """Quantizer persistence (VERDICT r8 #2): a PQ codebook saved to
    the parquet+manifest store and loaded back must encode BIT-
    IDENTICAL codes to the in-memory trainer output — the
    train-once-index-forever contract (the packed codes index is
    write-once-scan-forever; the trainer's output must not die with
    the driver)."""
    books = S.pq_train(emb, dim=64, m=16, n_codes=32)
    path = str(tmp_path / "pq_q")
    manifest = S.save_quantizer(spark, path, books)
    assert manifest == {
        "kind": "pq", "m": 16, "n_codes": 32, "dsub": 4, "dim": 64,
        "n_centroids": 0, "training_rows": 0,
        "fingerprint": S.quantizer_fingerprint(books),
    }
    loaded = S.load_quantizer(spark, path)
    assert loaded["codebooks"] == books  # float64 exact through parquet
    assert loaded["centroids"] is None
    a = sorted(map(tuple, S.pq_encode(emb, books).collect()))
    b = sorted(map(tuple, S.pq_encode(emb, loaded["codebooks"]).collect()))
    assert a == b and len(a) > 0


def test_quantizer_save_load_roundtrip_ivfpq(spark, emb, tmp_path):
    """IVF-PQ persistence: coarse centroids + residual codebooks
    round-trip exactly, and a geometry mismatch (truncated store,
    wrong manifest) fails loudly at load time."""
    import json
    import os

    import pytest

    centroids, books = S.ivfpq_train(
        emb, dim=64, n_centroids=8, m=16, n_codes=32
    )
    path = str(tmp_path / "ivfpq_q")
    manifest = S.save_quantizer(spark, path, books, centroids=centroids)
    assert manifest["kind"] == "ivfpq" and manifest["n_centroids"] == 8
    loaded = S.load_quantizer(spark, path)
    assert loaded["codebooks"] == books
    assert loaded["centroids"] == [
        (int(cid), [float(v) for v in vec]) for cid, vec in centroids
    ]
    enc_a = S.ivfpq_encode_udf(centroids, books, 64)
    enc_b = S.ivfpq_encode_udf(loaded["centroids"], loaded["codebooks"], 64)
    a = sorted(
        map(tuple, emb.select("vec_id", enc_a("embedding")).collect())
    )
    b = sorted(
        map(tuple, emb.select("vec_id", enc_b("embedding")).collect())
    )
    assert a == b and len(a) > 0

    # mismatch guard: corrupt the manifest geometry -> loud ValueError
    mp = os.path.join(path, "_QUANTIZER_MANIFEST.json")
    good = json.load(open(mp))
    bad = {**good, "n_codes": 64}
    json.dump(bad, open(mp, "w"))
    with pytest.raises(ValueError, match="coefficients"):
        S.load_quantizer(spark, path)
    json.dump({**good, "dim": 32}, open(mp, "w"))
    with pytest.raises(ValueError, match="inconsistent"):
        S.load_quantizer(spark, path)


def test_ivfpq_rerank_recall_and_exact_distances(spark, emb):
    """The complete production serving path (IVF-PQ shortlist -> exact
    rerank): returned distances are the EXACT rounded squared-L2
    values (numpy twin), recall@5 vs exhaustive search is at least the
    ADC-only path's at the same probe settings, and a planted exact
    duplicate returns rank 1 with dist2 = 0."""
    import numpy as np

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.asarray([r.vec_id for r in rows], dtype=np.int64)
    x = np.asarray([r.embedding for r in rows], dtype=np.float64)
    queries = emb.where(F.col("vec_id") < 10)

    exact = set()
    for qi in np.flatnonzero(ids < 10):
        d2 = ((x - x[qi]) ** 2).sum(axis=1)
        d2[qi] = np.inf
        exact |= {
            (int(ids[qi]), int(ids[j])) for j in np.lexsort((ids, d2))[:5]
        }

    kw = dict(dim=64, n_centroids=16, n_probe=8, m=16, n_codes=64)
    adc = {
        (r.query_id, r.vec_id)
        for r in S.ivfpq_topk(emb, queries, k=5, **kw).collect()
    }
    rer = S.ivfpq_rerank_topk(emb, queries, k=5, shortlist=25, **kw).collect()
    rer_pairs = {(r.query_id, r.vec_id) for r in rer}
    recall_adc = len(exact & adc) / len(exact)
    recall_rer = len(exact & rer_pairs) / len(exact)
    assert recall_rer >= recall_adc, (recall_rer, recall_adc)

    # distances are exact (rounded) squared L2 — numpy twin per row
    idx = {int(i): k for k, i in enumerate(ids)}
    for r in rer:
        true = round(float(((x[idx[r.query_id]] - x[idx[r.vec_id]]) ** 2).sum()), 6)
        assert abs(r.dist2 - true) < 1e-9, (r, true)

    # planted exact duplicates: rank 1, dist2 == 0 through the full path
    base = emb.select("vec_id", "embedding")
    copies = base.where(F.col("vec_id") % 100 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    planted = base.unionByName(copies)
    out = {
        r.query_id: (r.vec_id, r.dist2)
        for r in S.ivfpq_rerank_topk(
            planted, base.where(F.col("vec_id") % 100 == 0), k=1,
            shortlist=10, dim=64, n_centroids=16, n_probe=4, m=16,
            n_codes=64,
        ).collect()
    }
    assert len(out) == 5
    for q, (v, d) in out.items():
        assert v == q + 10_000_000 and d == 0.0, (q, v, d)


def test_pq_lloyd_init_dedup_and_per_subspace_padding():
    """ADVICE r8: duplicate sample rows must not freeze twin centroids
    — a duplicate-heavy lowest-id prefix now yields fully distinct
    codebook entries; and a DEGENERATE subspace (fewer distinct values
    than codes) pads locally without shrinking richer subspaces' code
    budgets."""
    import numpy as np

    from sparkgraft.similarity import _pq_lloyd

    # duplicate-heavy prefix: all 8 codes separate
    y = np.vstack(
        [np.ones((10, 8)), np.random.default_rng(1).normal(size=(50, 8))]
    )
    books = _pq_lloyd(y, m=1, n_codes=8, iters=3)
    assert len({tuple(c) for c in books[0]}) == 8

    # constant subspace 0, rich subspace 1: rectangular tensor, the
    # rich side keeps 16 DISTINCT centroids, the constant side
    # collapses to its single achievable centroid (padded twins)
    x = np.hstack(
        [np.zeros((100, 4)), np.random.default_rng(0).normal(size=(100, 4))]
    )
    b = _pq_lloyd(x, m=2, n_codes=16, iters=3)
    assert len(b[0]) == len(b[1]) == 16
    assert len({tuple(c) for c in b[1]}) == 16
    assert len({tuple(c) for c in b[0]}) == 1


def test_auto_n_centroids_sqrt_rule_and_clamps():
    """The coarse-quantizer sizing rule (the auto_num_planes
    convention): sqrt growth with the corpus hint, floor/ceiling
    clamps, degenerate hints floor out."""
    from sparkgraft.similarity import auto_n_centroids

    assert auto_n_centroids(0) == 16
    assert auto_n_centroids(-5) == 16
    assert auto_n_centroids(2_000) == 16          # floor binds
    assert auto_n_centroids(64_000) == 89          # sqrt(8000)
    assert auto_n_centroids(8_000_000) == 1000
    assert auto_n_centroids(10**14) == 65536       # ceiling binds
    # monotone non-decreasing across decades
    vals = [auto_n_centroids(10**e) for e in range(3, 13)]
    assert vals == sorted(vals)


def test_default_sizing_resolution():
    """r10 (VERDICT r9 #1/#2): n_centroids=None — every trainer's NEW
    DEFAULT — resolves through auto_n_centroids from the approx_rows
    hint (no hint -> the 16-list floor, the pre-r10 behavior);
    explicit ints pass through. sample_size=None scales the training
    sample with the quantizer (max(65536, 64 * n_centroids)) so
    sqrt(N)-sized codebooks never starve at the old fixed 65536."""
    from sparkgraft.similarity import (
        _resolve_n_centroids,
        _train_sample_size,
        auto_n_centroids,
    )

    assert _resolve_n_centroids(None, None) == 16
    assert _resolve_n_centroids(None, 0) == 16
    assert _resolve_n_centroids(None, 8_000_000) == auto_n_centroids(8_000_000)
    assert _resolve_n_centroids(32, 8_000_000) == 32  # escape hatch wins
    assert _train_sample_size(None, 16) == 65536      # floor binds
    assert _train_sample_size(None, 1024) == 65536    # 64*1024 == floor
    assert _train_sample_size(None, 20_000) == 1_280_000
    assert _train_sample_size(4096, 20_000) == 4096   # explicit wins


def _drifted_corpus(spark, n_per_cluster=1000, dim=4):
    """Time-ordered corpus under drift: the LOW id range is entirely
    cluster A (axis 0), the high range entirely cluster B (axis 1) —
    the regime where a lowest-id-prefix training sample sees only the
    oldest cluster. Vectors are deterministic functions of the id."""
    rows = []
    for i in range(n_per_cluster):
        jitter = 0.1 * (i % 7)
        rows.append((i, [10.0, jitter, 0.0, 0.0]))
        rows.append((n_per_cluster + i, [jitter, 10.0, 0.0, 0.0]))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def test_train_sample_debiased_under_drift(spark):
    """r10 (VERDICT r9 #2): the seeded-md5-uniform training draw covers
    BOTH clusters of a drifted time-ordered corpus where the lowest-id
    prefix it replaced sees only cluster A — so hash-sample-trained
    quantizers keep a centroid on each cluster while prefix-trained
    ones (reproduced by training on the prefix sub-corpus) put every
    centroid on the old cluster."""
    import numpy as np

    from sparkgraft.similarity import _train_sample

    df = _drifted_corpus(spark)

    # the raw draw: 500 of 2000 rows, both clusters well represented
    x = _train_sample(df, "vec_id", "embedding", 500)
    a = int((x[:, 0] > x[:, 1]).sum())
    b = int((x[:, 1] > x[:, 0]).sum())
    assert a + b == 500
    assert min(a, b) >= 150, f"hash draw is lopsided: A={a} B={b}"

    # hash-sample-trained quantizer: >=1 centroid per cluster
    cents = S.ivf_train(df, dim=4, n_centroids=4, sample_size=500)
    cmat = np.asarray([v for _, v in cents])
    hash_b = int((cmat[:, 1] > cmat[:, 0]).sum())
    assert 1 <= hash_b <= 3, f"hash-trained centroids miss a cluster: {cmat}"

    # prefix contrast (the pre-r10 draw): all 500 lowest ids are
    # cluster A, so every centroid lands on A and cluster B is unserved
    prefix = df.where(F.col("vec_id") < 500)
    pcents = S.ivf_train(prefix, dim=4, n_centroids=4, sample_size=500)
    pmat = np.asarray([v for _, v in pcents])
    assert int((pmat[:, 1] > pmat[:, 0]).sum()) == 0


def _lifecycle_corpus(spark, n_per_cluster=400, dim=8):
    """Two-epoch drifted corpus with RICH deterministic jitter (every
    vector distinct, no RNG): low ids cluster A (axis 0), high ids
    cluster B (axis 1)."""
    rows = []
    for i in range(n_per_cluster):
        ja = [0.3 * ((i * 31 + d * 17) % 11 - 5) for d in range(dim)]
        jb = [0.3 * ((i * 29 + d * 13) % 11 - 5) for d in range(dim)]
        va = [10.0 + ja[0]] + ja[1:]
        vb = [jb[0]] + [10.0 + jb[1]] + jb[2:]
        rows.append((i, va))
        rows.append((n_per_cluster + i, vb))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def test_quantizer_lifecycle_stale_and_refresh(spark, tmp_path):
    """The refresh rule (VERDICT r9 #4): a quantizer trained before the
    corpus grew/drifted flags stale via quantizer_stale's two triggers
    — manifest training_rows vs the current row hint, and the existing
    centroid_drift operator — and retraining on the current corpus
    restores cluster-B recall. Also pins the manifest fingerprint:
    load fails loudly when the recorded content hash no longer matches
    the parquet coefficients."""
    import json
    import os

    import pytest
    from pyspark.sql import functions as F  # noqa: F811

    n = 400
    corpus = _lifecycle_corpus(spark, n_per_cluster=n)
    epoch_a = corpus.where(F.col("vec_id") < n)

    # --- train on epoch A only (the pre-drift store), record the hint
    kw = dict(n_centroids=4, m=2, n_codes=16)
    cents_a, books_a = S.ivfpq_train(epoch_a, dim=8, **kw)
    path = str(tmp_path / "q_a")
    manifest = S.save_quantizer(
        spark, path, books_a, centroids=cents_a, training_rows=n
    )
    assert manifest["training_rows"] == n

    # --- growth trigger: 2x is fine, >4x trips
    assert S.quantizer_stale(manifest, current_rows=2 * n) == {
        "stale": False, "reasons": [],
    }
    grown = S.quantizer_stale(manifest, current_rows=10 * n)
    assert grown["stale"] and "corpus_grew" in grown["reasons"][0]
    # pre-r10 manifest without the field never trips on growth
    legacy = {k: v for k, v in manifest.items() if k != "training_rows"}
    assert not S.quantizer_stale(legacy, current_rows=10**9)["stale"]

    # --- drift trigger: snapshot halves via the documented parity-id
    # union (epoch A on even ids, epoch B on odd) through the existing
    # centroid_drift operator; control = two halves of epoch A alone
    drifted_snap = corpus.select(
        (F.col("vec_id") * 2 + F.when(F.col("vec_id") < n, 0).otherwise(1))
        .alias("vec_id"),
        "embedding",
        F.lit("embeddings").alias("label"),
    )
    report = S.centroid_drift(drifted_snap, dim=8)
    verdict = S.quantizer_stale(manifest, drift_df=report)
    assert verdict["stale"] and "centroid_drift" in verdict["reasons"][0]
    control = epoch_a.select(
        "vec_id", "embedding", F.lit("embeddings").alias("label")
    )
    assert not S.quantizer_stale(
        manifest, drift_df=S.centroid_drift(control, dim=8)
    )["stale"]

    # --- the refresh restores recall: serve cluster-B queries through
    # the stale store vs a store retrained on the current corpus
    queries = corpus.where(
        (F.col("vec_id") >= n) & (F.col("vec_id") % 20 == 0)
    )
    exact = {}
    for r in S.cosine_topk(corpus, queries, k=5).collect():
        exact.setdefault(r.query_id, set()).add(r.vec_id)

    def recall(cents, books):
        codes = S.ivfpq_encode(corpus, cents, books)
        got = {}
        for r in S.ivfpq_topk_from_codes(
            codes, queries, cents, books, k=5, n_probe=2
        ).collect():
            got.setdefault(r.query_id, set()).add(r.vec_id)
        return sum(
            len(exact[q] & got.get(q, set())) for q in exact
        ) / (5 * len(exact))

    cents_r, books_r = S.ivfpq_train(corpus, dim=8, **kw)
    stale_recall, fresh_recall = recall(cents_a, books_a), recall(
        cents_r, books_r
    )
    assert fresh_recall >= stale_recall + 0.1, (
        f"refresh did not restore recall: stale={stale_recall} "
        f"fresh={fresh_recall}"
    )

    # --- fingerprint guard: tampered manifest hash -> loud load error
    mp = os.path.join(path, "_QUANTIZER_MANIFEST.json")
    good = json.load(open(mp))
    json.dump({**good, "fingerprint": "0" * 64}, open(mp, "w"))
    with pytest.raises(ValueError, match="fingerprint mismatch"):
        S.load_quantizer(spark, path)
    json.dump(good, open(mp, "w"))
    assert S.load_quantizer(spark, path)["codebooks"] == books_a


def test_chunked_assignment_matches_naive_and_scales():
    """r10 trainer-scale hardening: with auto_n_centroids the DEFAULT,
    the trainers must survive the sizes the default can pick — the
    naive n x K score matrix is terabytes at the 65,536-list clamp and
    the per-centroid Python update scan is O(K x n). The chunked
    assignment helpers must compute the IDENTICAL argmax/argsort as
    the naive forms (same dot products, same lowest-id tie rule), the
    scatter-add Lloyd update must match the masked-mean loop, and a
    2048-centroid training pass over 100k sample rows must complete in
    seconds, never materializing the full score block."""
    import time

    import numpy as np

    from sparkgraft.similarity import (
        _cosine_argmax_chunked,
        _cosine_topn_chunked,
        _l2_argmin_chunked,
        _mean_update,
    )

    rng = np.random.default_rng(12)
    x = rng.normal(size=(5_000, 8))
    cents = rng.normal(size=(300, 8))
    cn = (cents / np.linalg.norm(cents, axis=1, keepdims=True)).T

    naive = np.argmax(x @ cn, axis=1)
    assert np.array_equal(_cosine_argmax_chunked(x, cn), naive)
    naive_top = np.argsort(-(x @ cn), axis=1, kind="stable")[:, :5]
    assert np.array_equal(_cosine_topn_chunked(x, cn, 5), naive_top)
    d2 = (
        (x * x).sum(axis=1, keepdims=True)
        - 2.0 * x @ cents.T
        + (cents * cents).sum(axis=1)[None, :]
    )
    assert np.array_equal(_l2_argmin_chunked(x, cents), np.argmin(d2, axis=1))

    # scatter-add update == masked-mean loop (incl. empty clusters
    # keeping their previous centroid)
    assign = naive.copy()
    a = cents.copy()
    _mean_update(a, x, assign)
    b = cents.copy()
    for cid in range(len(b)):
        members = x[assign == cid]
        if len(members):
            b[cid] = members.mean(axis=0)
    assert np.allclose(a, b, rtol=0, atol=1e-12)
    empties = sorted(set(range(len(cents))) - set(assign))
    if empties:
        assert np.array_equal(a[empties], cents[empties])

    # scale smoke: 100k x 2048 lists (the naive block would be 1.6 GB
    # per Lloyd iteration plus a 2048-pass Python scan)
    big_x = rng.normal(size=(100_000, 16))
    big_c = big_x[:2048].copy()
    big_cn = (big_c / np.linalg.norm(big_c, axis=1, keepdims=True)).T
    t0 = time.time()
    for _ in range(2):
        assign = _cosine_argmax_chunked(big_x, big_cn)
        _mean_update(big_c, big_x, assign)
    wall = time.time() - t0
    assert wall < 30.0, f"chunked Lloyd too slow: {wall:.1f}s"
    assert len(np.unique(assign)) > 1024  # the lists actually spread


def test_snapshot_drift_two_frame_front_door(spark):
    """snapshot_drift = centroid_drift over explicit A/B snapshots
    (r10): orthogonal snapshots read drifted, a snapshot vs itself
    reads centroid_cos 1.0, and the report plugs straight into
    quantizer_stale as the retrain-on-drift decision."""
    from sparkgraft.similarity import quantizer_stale, snapshot_drift

    n = 200
    corpus = _lifecycle_corpus(spark, n_per_cluster=n)
    a = corpus.where(F.col("vec_id") < n)
    b = corpus.where(F.col("vec_id") >= n)

    drifted = snapshot_drift(a, b, dim=8).collect()
    assert len(drifted) == 1 and drifted[0]["label"] == "all"
    assert drifted[0]["drifted"] and drifted[0]["centroid_cos"] < 0.8
    assert drifted[0]["n_a"] == n and drifted[0]["n_b"] == n

    same = snapshot_drift(a, a, dim=8).collect()[0]
    assert not same["drifted"] and float(same["centroid_cos"]) == 1.0

    manifest = {"training_rows": n}
    verdict = quantizer_stale(manifest, drift_df=snapshot_drift(a, b, dim=8))
    assert verdict["stale"] and "centroid_drift" in verdict["reasons"][0]
    assert not quantizer_stale(
        manifest, drift_df=snapshot_drift(a, a, dim=8)
    )["stale"]


def test_lsh_defaults_auto_size_from_hint(spark, emb):
    """r10: num_planes=None — now the library default for both LSH
    entry points — sizes via auto_num_planes from the approx_rows
    hint; without a hint the pre-r10 values (8 pairs / 6 topk) apply,
    asserted by bit-identical results to the explicit forms."""
    queries = emb.where(F.col("vec_id") < 5)

    # no hint == the old explicit defaults, bit-identical
    a = sorted(map(tuple, S.rp_lsh_topk(emb, queries, dim=64, k=5).collect()))
    b = sorted(
        map(
            tuple,
            S.rp_lsh_topk(
                emb, queries, dim=64, k=5, num_planes=6
            ).collect(),
        )
    )
    assert a == b and len(a) > 0

    p = sorted(
        map(tuple, S.cosine_pairs_lsh(emb, dim=64, threshold=0.45).collect())
    )
    q = sorted(
        map(
            tuple,
            S.cosine_pairs_lsh(
                emb, dim=64, threshold=0.45, num_planes=8
            ).collect(),
        )
    )
    assert p == q

    # hint-sized == the explicit auto_num_planes value, bit-identical
    hint = 100_000
    planes = S.auto_num_planes(hint)
    assert planes > 6
    c = sorted(
        map(
            tuple,
            S.rp_lsh_topk(
                emb, queries, dim=64, k=5, approx_rows=hint
            ).collect(),
        )
    )
    d = sorted(
        map(
            tuple,
            S.rp_lsh_topk(
                emb, queries, dim=64, k=5, num_planes=planes
            ).collect(),
        )
    )
    assert c == d


def test_refresh_quantizer_executes_the_stale_verdict(spark, tmp_path):
    """refresh_quantizer = the retrain+save half of the lifecycle API:
    a stale (drift-epoch-trained) store overwritten through it serves
    the current corpus with recall at least the stale store's, the new
    manifest records the current hint and a NEW fingerprint, and a
    quantizer/codes vintage mismatch is caught by the fingerprint
    check at load."""
    from pyspark.sql import functions as F  # noqa: F811

    n = 400
    corpus = _lifecycle_corpus(spark, n_per_cluster=n)
    path = str(tmp_path / "q")

    # epoch-A-only store (the stale vintage), recorded at its hint
    cents_a, books_a = S.ivfpq_train(
        corpus.where(F.col("vec_id") < n), dim=8, n_centroids=4, m=2,
        n_codes=16,
    )
    stale_manifest = S.save_quantizer(
        spark, path, books_a, centroids=cents_a, training_rows=n
    )
    assert S.quantizer_stale(stale_manifest, current_rows=2 * n * 5)["stale"]

    fresh = S.refresh_quantizer(
        spark, path, corpus, dim=8, m=2, n_codes=16, approx_rows=2 * n
    )
    assert fresh["manifest"]["training_rows"] == 2 * n
    assert fresh["manifest"]["fingerprint"] != stale_manifest["fingerprint"]
    assert not S.quantizer_stale(fresh["manifest"], current_rows=2 * n)[
        "stale"
    ]

    # the overwritten store loads to the refreshed quantizer exactly
    loaded = S.load_quantizer(spark, path)
    assert loaded["fingerprint"] == fresh["manifest"]["fingerprint"]
    assert loaded["codebooks"] == fresh["codebooks"]

    # refreshed serving recall >= stale serving recall on cluster B
    queries = corpus.where(
        (F.col("vec_id") >= n) & (F.col("vec_id") % 20 == 0)
    )
    exact = {}
    for r in S.cosine_topk(corpus, queries, k=5).collect():
        exact.setdefault(r.query_id, set()).add(r.vec_id)

    def recall(cents, books):
        codes = S.ivfpq_encode(corpus, cents, books)
        got = {}
        for r in S.ivfpq_topk_from_codes(
            codes, queries, cents, books, k=5, n_probe=2
        ).collect():
            got.setdefault(r.query_id, set()).add(r.vec_id)
        return sum(len(exact[q] & got.get(q, set())) for q in exact) / (
            5 * len(exact)
        )

    assert recall(loaded["centroids"], loaded["codebooks"]) >= recall(
        cents_a, books_a
    )


def test_load_quantizer_manifest_defects_normalize_to_valueerror(
    spark, tmp_path
):
    """The store's dead-letter contract (the codec convention applied
    to load_quantizer): every manifest defect — missing field, wrong
    type, bad kind, non-positive geometry, truncated JSON — raises
    ValueError, never KeyError/TypeError, so lifecycle automation can
    catch one exception class."""
    import json
    import os

    import pytest

    cents, books = S.ivfpq_train(
        _lifecycle_corpus(spark, n_per_cluster=50), dim=8,
        n_centroids=2, m=2, n_codes=4,
    )
    path = str(tmp_path / "q")
    S.save_quantizer(spark, path, books, centroids=cents)
    mp = os.path.join(path, "_QUANTIZER_MANIFEST.json")
    good = json.load(open(mp))

    defects = [
        {k: v for k, v in good.items() if k != "m"},          # missing
        {**good, "m": "sixteen"},                             # bad type
        {**good, "m": None},
        {**good, "kind": "faiss"},                            # bad kind
        {**good, "n_codes": 0},                               # degenerate
        {**good, "dsub": -1},
        {**good, "dim": good["dim"] + 1},                     # inconsistent
        {**good, "n_centroids": "two"},
    ]
    for bad in defects:
        json.dump(bad, open(mp, "w"))
        with pytest.raises(ValueError):
            S.load_quantizer(spark, path)
    # truncated JSON: JSONDecodeError is a ValueError subclass
    open(mp, "w").write(json.dumps(good)[:20])
    with pytest.raises(ValueError):
        S.load_quantizer(spark, path)
    json.dump(good, open(mp, "w"))
    assert S.load_quantizer(spark, path)["codebooks"] == books


def test_snapshot_drift_is_id_agnostic(spark):
    """ADVICE r10 #1: parity is now a tagged literal, never derived
    from the caller's id — string (UUID-ish) ids and negative ids both
    produce full halves and a real verdict where the old
    cast('long')*2+parity silently emptied a half (NULL cast / signed
    %) and read stale=false."""
    from sparkgraft.similarity import quantizer_stale, snapshot_drift

    n = 200
    corpus = _lifecycle_corpus(spark, n_per_cluster=n)

    # string ids: every cast-to-long would be NULL
    as_str = corpus.select(
        F.concat(F.lit("uuid-"), F.col("vec_id")).alias("vec_id"),
        "embedding",
    )
    a = as_str.where(F.substring("vec_id", 6, 10).cast("long") < n)
    b = as_str.where(F.substring("vec_id", 6, 10).cast("long") >= n)
    r = snapshot_drift(a, b, dim=8).collect()
    assert len(r) == 1 and r[0]["n_a"] == n and r[0]["n_b"] == n
    assert r[0]["drifted"] and r[0]["centroid_cos"] < 0.8

    # negative ids: Spark % keeps the dividend's sign
    neg = corpus.select((-F.col("vec_id") - 1).alias("vec_id"), "embedding")
    na = neg.where(F.col("vec_id") > -(n + 1))
    nb = neg.where(F.col("vec_id") <= -(n + 1))
    rn = snapshot_drift(na, nb, dim=8).collect()[0]
    assert rn["n_a"] == n and rn["n_b"] == n and rn["drifted"]

    # and the verdict plugs into quantizer_stale as before
    assert quantizer_stale(
        {"training_rows": n}, drift_df=snapshot_drift(a, b, dim=8)
    )["stale"]


def test_centroid_drift_negative_ids_use_pmod(spark):
    """Direct centroid_drift callers with negative (numeric) ids: pmod
    keeps both halves populated (-3 % 2 = -1 used to fall out of the
    0/1 split)."""
    rows = [(-(i + 1), [float(i % 7), 1.0], "all") for i in range(100)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    r = S.centroid_drift(df, dim=2).collect()[0]
    assert r["n_a"] == 50 and r["n_b"] == 50
    assert r["centroid_cos"] is not None


def test_quantizer_stale_fails_loudly_on_indeterminate_drift(spark):
    """ADVICE r10 #1 (loud-fail half): an empty snapshot half or a
    NULL centroid cosine makes the drift verdict undefined — the old
    behavior coalesced to 'not drifted', a silent false negative in
    the retrain decision; now it raises."""
    bad = spark.createDataFrame(
        [("all", 0, 100, None)],
        "label string, n_a bigint, n_b bigint, centroid_cos double",
    )
    with pytest.raises(ValueError, match="indeterminate"):
        S.quantizer_stale({"training_rows": 10}, drift_df=bad)
    null_cos = spark.createDataFrame(
        [("all", 50, 50, None)],
        "label string, n_a bigint, n_b bigint, centroid_cos double",
    )
    with pytest.raises(ValueError, match="indeterminate"):
        S.quantizer_stale({"training_rows": 10}, drift_df=null_cos)


def test_train_sample_size_hard_cap():
    """ADVICE r10 #2: the SCALED default caps at 4,194,304 rows (~2 GB
    at dim 64 float64) so semdedup's auto_n_clusters ceiling (K = 1e6
    at 2e9 rows) cannot scale the default into a 64M-row driver
    collect; explicit sample_size stays the caller-owned escape
    hatch."""
    from sparkgraft.similarity import _TRAIN_SAMPLE_CAP, _train_sample_size

    assert _train_sample_size(None, 16) == 65536
    assert _train_sample_size(None, 65536) == 64 * 65536 == _TRAIN_SAMPLE_CAP
    assert _train_sample_size(None, 1_000_000) == _TRAIN_SAMPLE_CAP
    assert _train_sample_size(10_000_000, 1_000_000) == 10_000_000


def test_versioned_store_atomic_swap_and_gc(spark, tmp_path):
    """VERDICT r10 #1: refresh publishes a NEW vintage and flips the
    _CURRENT.json pointer last — a reader during an interrupted
    refresh (vintage written, pointer not flipped; or vintage torn)
    serves the OLD store, never a partial one; gc never touches the
    current vintage."""
    import json
    import os

    n = 200
    corpus = _lifecycle_corpus(spark, n_per_cluster=n)
    epoch_a = corpus.where(F.col("vec_id") < n)
    store = str(tmp_path / "vq")

    cents_a, books_a = S.ivfpq_train(epoch_a, dim=8, n_centroids=2, m=2,
                                     n_codes=8)
    m_a = S.save_quantizer_version(
        spark, store, books_a, centroids=cents_a, training_rows=n
    )
    assert m_a["vintage"] == f"v={m_a['fingerprint'][:16]}"
    loaded = S.load_quantizer(spark, store)
    assert loaded["codebooks"] == books_a and loaded["vintage"] == m_a[
        "vintage"
    ]

    # --- interrupted refresh: a second vintage is half-written (no
    # pointer flip) -> readers still get vintage A, complete
    cents_b, books_b = S.ivfpq_train(corpus, dim=8, n_centroids=4, m=2,
                                     n_codes=8)
    fp_b = S.quantizer_fingerprint(books_b, cents_b)
    partial = os.path.join(store, f"v={fp_b[:16]}")
    S.save_quantizer(spark, partial, books_b, centroids=cents_b)
    os.remove(os.path.join(partial, "_QUANTIZER_MANIFEST.json"))  # torn
    mid = S.load_quantizer(spark, store)
    assert mid["codebooks"] == books_a  # old vintage serves on

    # --- completed refresh: new vintage + atomic pointer flip
    fresh = S.refresh_quantizer(
        spark, store, corpus, dim=8, m=2, n_codes=8, approx_rows=2 * n
    )
    assert fresh["manifest"]["vintage"] != m_a["vintage"]
    after = S.load_quantizer(spark, store)
    assert after["codebooks"] == fresh["codebooks"]
    assert after["vintage"] == fresh["manifest"]["vintage"]
    # old vintage still on disk for in-flight readers
    assert os.path.isdir(os.path.join(store, m_a["vintage"]))
    assert S.load_quantizer(
        spark, os.path.join(store, m_a["vintage"])
    )["codebooks"] == books_a

    # --- a hand-edited pointer cannot silently serve the wrong vintage
    pp = os.path.join(store, "_CURRENT.json")
    good = json.load(open(pp))
    json.dump({**good, "vintage": m_a["vintage"]}, open(pp, "w"))
    with pytest.raises(ValueError, match="mismatch"):
        S.load_quantizer(spark, store)
    json.dump(good, open(pp, "w"))

    # --- gc: keep=0 removes everything but the current vintage
    removed = S.gc_quantizer_vintages(store, keep=0)
    assert m_a["vintage"] in removed
    assert not os.path.isdir(os.path.join(store, m_a["vintage"]))
    assert S.load_quantizer(spark, store)["codebooks"] == fresh["codebooks"]
    with pytest.raises(ValueError, match="pointer"):
        S.gc_quantizer_vintages(str(tmp_path / "flat_nowhere"))


def test_flat_store_migrates_to_versioned_on_refresh(spark, tmp_path):
    """A pre-r11 flat store refreshed in place: the flat files stay
    (they ARE the old vintage for concurrent readers) and the pointer,
    which load prefers, appears beside them."""
    import os

    n = 200
    corpus = _lifecycle_corpus(spark, n_per_cluster=n)
    epoch_a = corpus.where(F.col("vec_id") < n)
    path = str(tmp_path / "flatq")

    cents_a, books_a = S.ivfpq_train(epoch_a, dim=8, n_centroids=2, m=2,
                                     n_codes=8)
    S.save_quantizer(spark, path, books_a, centroids=cents_a,
                     training_rows=n)
    fresh = S.refresh_quantizer(
        spark, path, corpus, dim=8, m=2, n_codes=8, approx_rows=2 * n
    )
    # pointer wins; flat files untouched beside it
    assert S.load_quantizer(spark, path)["codebooks"] == fresh["codebooks"]
    assert os.path.exists(os.path.join(path, "_QUANTIZER_MANIFEST.json"))


def test_codes_store_vintage_pairing(spark, tmp_path):
    """The codes/quantizer pairing (VERDICT r10 #1, last clause): a
    codes store written under vintage A refuses to serve under
    vintage B — at read_codes_store, at ivfpq_topk_from_codes via
    codes_fingerprint, and on append; the matching vintage serves
    bit-identically to the unguarded path."""
    n = 200
    corpus = _lifecycle_corpus(spark, n_per_cluster=n)
    store = str(tmp_path / "vq")
    cstore = str(tmp_path / "codes")

    cents_a, books_a = S.ivfpq_train(
        corpus.where(F.col("vec_id") < n), dim=8, n_centroids=2, m=2,
        n_codes=8,
    )
    m_a = S.save_quantizer_version(spark, store, books_a,
                                   centroids=cents_a, training_rows=n)
    codes = S.ivfpq_encode(corpus, cents_a, books_a)
    cm = S.write_codes_store(codes, cstore, m_a)
    assert cm["quantizer_fingerprint"] == m_a["fingerprint"]
    assert cm["quantizer_vintage"] == m_a["vintage"]

    queries = corpus.where(F.col("vec_id") % 40 == 0)
    stored = S.read_codes_store(spark, cstore, m_a)
    guarded = sorted(map(tuple, S.ivfpq_topk_from_codes(
        stored, queries, cents_a, books_a, k=3, n_probe=2,
        codes_fingerprint=cm["quantizer_fingerprint"],
    ).collect()))
    plain = sorted(map(tuple, S.ivfpq_topk_from_codes(
        codes, queries, cents_a, books_a, k=3, n_probe=2,
    ).collect()))
    assert guarded == plain and len(guarded) > 0

    # refresh -> new vintage; the old codes store must refuse it
    fresh = S.refresh_quantizer(spark, store, corpus, dim=8, m=2,
                                n_codes=8, approx_rows=2 * n)
    with pytest.raises(ValueError, match="vintage mismatch"):
        S.read_codes_store(spark, cstore, fresh["manifest"])
    with pytest.raises(ValueError, match="vintage mismatch"):
        S.ivfpq_topk_from_codes(
            stored, queries, fresh["centroids"], fresh["codebooks"],
            k=3, n_probe=2, codes_fingerprint=cm["quantizer_fingerprint"],
        ).collect()
    # appending a new-vintage batch to the old store: refused
    batch = S.ivfpq_encode(corpus, fresh["centroids"], fresh["codebooks"])
    with pytest.raises(ValueError, match="mixed vintages"):
        S.write_codes_store(batch, cstore, fresh["manifest"], mode="append")
    # manifest without a fingerprint: refused up front
    with pytest.raises(ValueError, match="fingerprint"):
        S.write_codes_store(codes, str(tmp_path / "c2"), {"kind": "ivfpq"})


def test_codes_store_append_folds_same_vintage_batches(spark, tmp_path):
    """write_codes_store(mode='append') is the frozen-quantizer monoid
    with the vintage guard on: two batches encoded under the SAME
    vintage fold into one store that serves bit-identically to the
    one-shot encode of the full corpus; the mixed-vintage refusal is
    pinned by test_codes_store_vintage_pairing."""
    n = 200
    corpus = _lifecycle_corpus(spark, n_per_cluster=n)
    store = str(tmp_path / "vq")
    cstore = str(tmp_path / "codes")

    cents, books = S.ivfpq_train(corpus, dim=8, n_centroids=2, m=2,
                                 n_codes=8)
    m = S.save_quantizer_version(spark, store, books, centroids=cents,
                                 training_rows=2 * n)
    first = corpus.where(F.col("vec_id") < n)
    second = corpus.where(F.col("vec_id") >= n)
    S.write_codes_store(S.ivfpq_encode(first, cents, books), cstore, m)
    S.write_codes_store(
        S.ivfpq_encode(second, cents, books), cstore, m, mode="append"
    )

    queries = corpus.where(F.col("vec_id") % 40 == 0)
    folded = sorted(map(tuple, S.ivfpq_topk_from_codes(
        S.read_codes_store(spark, cstore, m), queries, cents, books,
        k=3, n_probe=2, codes_fingerprint=m["fingerprint"],
    ).collect()))
    oneshot = sorted(map(tuple, S.ivfpq_topk_from_codes(
        S.ivfpq_encode(corpus, cents, books), queries, cents, books,
        k=3, n_probe=2,
    ).collect()))
    assert folded == oneshot and len(folded) > 0


class _FakeObjectStore:
    """Conditional-PUT object-store double (r12, VERDICT r11 #2): a
    dict of key -> (etag, bytes) whose put enforces If-Match — the S3
    conditional-PUT / GCS generation-precondition contract. Reads
    write through to the local pointer file, standing in for
    load_quantizer fetching the pointer object from the store."""

    def __init__(self):
        self.objects = {}

    def get_etag(self, key):
        return self.objects.get(key, (None, None))[0]

    def put(self, key, body, if_match):
        cur = self.get_etag(key)
        if if_match != cur:
            raise RuntimeError(
                f"conditional PUT rejected: if_match={if_match!r} "
                f"but current etag is {cur!r}"
            )
        new_etag = f"etag-{len(self.objects.get(key, (0, b''))[1] or b'')}-{cur}"
        self.objects[key] = (new_etag, body)

    def commit_fn(self, if_match_provider):
        """pointer_commit adapter: serialize the payload, conditional
        PUT it, then materialize the committed object locally (the
        read path)."""
        import json
        import os

        def commit(store, payload):
            key = "_CURRENT.json"
            body = json.dumps(payload).encode()
            self.put(key, body, if_match_provider())
            with open(os.path.join(store, key), "wb") as fh:
                fh.write(self.objects[key][1])

        return commit


def test_pointer_commit_seam_conditional_put(spark, tmp_path):
    """VERDICT r11 #2: the vintage flip survives an object-store
    adapter. A conditional-PUT commit publishes vintage A; a commit
    that LOSES the compare-and-swap race (stale etag) raises and
    leaves the store serving A complete — the new vintage directory is
    on disk, unpointed; retrying the commit with the fresh etag
    completes the flip with NO re-save of the vintage. The vintage
    logic itself (immutable v=<fp>/ dirs, fingerprint cross-check) is
    untouched by the adapter swap."""
    import os

    store = str(tmp_path / "vq")
    os.makedirs(store)
    obj = _FakeObjectStore()

    n = 200
    corpus = _lifecycle_corpus(spark, n_per_cluster=n)
    cents_a, books_a = S.ivfpq_train(
        corpus.where(F.col("vec_id") < n), dim=8, n_centroids=2, m=2,
        n_codes=8,
    )
    m_a = S.save_quantizer_version(
        spark, store, books_a, centroids=cents_a, training_rows=n,
        pointer_commit=obj.commit_fn(lambda: obj.get_etag("_CURRENT.json")),
    )
    assert S.load_quantizer(spark, store)["vintage"] == m_a["vintage"]

    # --- refresh loses the CAS race: stale etag -> commit raises,
    # pointer (and every reader) still serves vintage A
    cents_b, books_b = S.ivfpq_train(corpus, dim=8, n_centroids=4, m=2,
                                     n_codes=8)
    with pytest.raises(RuntimeError, match="conditional PUT rejected"):
        S.save_quantizer_version(
            spark, store, books_b, centroids=cents_b, training_rows=2 * n,
            pointer_commit=obj.commit_fn(lambda: "stale-etag"),
        )
    assert S.load_quantizer(spark, store)["vintage"] == m_a["vintage"]
    fp_b = S.quantizer_fingerprint(books_b, cents_b)
    assert os.path.isdir(os.path.join(store, f"v={fp_b[:16]}"))  # complete

    # --- retry with the fresh etag: the flip is just another pointer
    # commit (idempotent vintage dir re-save, content-addressed)
    m_b = S.save_quantizer_version(
        spark, store, books_b, centroids=cents_b, training_rows=2 * n,
        pointer_commit=obj.commit_fn(lambda: obj.get_etag("_CURRENT.json")),
    )
    assert m_b["vintage"] == f"v={fp_b[:16]}"
    assert S.load_quantizer(spark, store)["codebooks"] == books_b


class _ExplodingWrite:
    """A codes-DataFrame double whose write raises mid-overwrite,
    after asserting the old manifest was already invalidated."""

    def __init__(self, manifest_path):
        self.manifest_path = manifest_path

    @property
    def write(self):
        return self

    def mode(self, _m):
        return self

    def parquet(self, _p):
        import os

        assert not os.path.exists(self.manifest_path), (
            "overwrite started while the OLD manifest still validated "
            "the store — the ADVICE r11 torn-store window"
        )
        raise RuntimeError("simulated crash mid-overwrite")


def test_codes_store_overwrite_invalidates_manifest_first(spark, tmp_path):
    """ADVICE r11 (medium): re-keying a codes store to a new vintage
    must not leave new codes validated by the OLD manifest. The old
    manifest is deleted BEFORE the parquet overwrite begins (asserted
    inside the write double), so a crash mid-overwrite leaves a
    manifest-less store that read_codes_store fails LOUDLY on — never
    a silent mixed-vintage serve."""
    import os

    cstore = str(tmp_path / "codes")
    manifest_path = os.path.join(cstore, "_CODES_MANIFEST.json")
    codes = spark.createDataFrame(
        [(1, 0, [1, 2]), (2, 1, [3, 4])], "vec_id long, cid long, code array<int>"
    )
    m_a = {"fingerprint": "a" * 64, "vintage": "v=" + "a" * 16}
    S.write_codes_store(codes, cstore, m_a)
    assert os.path.exists(manifest_path)

    m_b = {"fingerprint": "b" * 64, "vintage": "v=" + "b" * 16}
    with pytest.raises(RuntimeError, match="simulated crash"):
        S.write_codes_store(
            _ExplodingWrite(manifest_path), cstore, m_b, mode="overwrite"
        )
    # torn store: no manifest -> the reader refuses instead of serving
    # the old pairing over unknown bytes
    with pytest.raises(FileNotFoundError):
        S.read_codes_store(spark, cstore, m_a)
    # recovery = completing the overwrite (idempotent)
    S.write_codes_store(codes, cstore, m_b)
    assert S.read_codes_store(spark, cstore, m_b).count() == 2


def test_gc_grace_interval_protects_young_vintages(spark, tmp_path):
    """ADVICE r11: gc(keep=0) racing a concurrent refresh could rmtree
    a fully-written vintage whose pointer flip hasn't landed.
    grace_sec closes the race: vintages modified within the window are
    skipped regardless of keep; backdated (genuinely old) ones are
    still collected."""
    import os

    n = 200
    corpus = _lifecycle_corpus(spark, n_per_cluster=n)
    store = str(tmp_path / "vq")
    cents_a, books_a = S.ivfpq_train(
        corpus.where(F.col("vec_id") < n), dim=8, n_centroids=2, m=2,
        n_codes=8,
    )
    m_a = S.save_quantizer_version(spark, store, books_a, centroids=cents_a)
    cents_b, books_b = S.ivfpq_train(corpus, dim=8, n_centroids=4, m=2,
                                     n_codes=8)
    m_b = S.save_quantizer_version(spark, store, books_b, centroids=cents_b)
    assert m_a["vintage"] != m_b["vintage"]

    # both vintages are seconds old: a graced gc removes NOTHING
    assert S.gc_quantizer_vintages(store, keep=0, grace_sec=3600.0) == []
    assert os.path.isdir(os.path.join(store, m_a["vintage"]))

    # backdate the superseded vintage past the grace window -> collected
    old = os.path.join(store, m_a["vintage"])
    past = os.path.getmtime(old) - 7200
    os.utime(old, (past, past))
    assert S.gc_quantizer_vintages(store, keep=0, grace_sec=3600.0) == [
        m_a["vintage"]
    ]
    assert not os.path.isdir(old)
    # current vintage untouched throughout
    assert S.load_quantizer(spark, store)["codebooks"] == books_b
