"""Embedding similarity search over ``array<float>`` columns.

Three tiers:

- ``cosine_topk``   — exact brute-force top-k for a (small) query set:
                      broadcast the queries, one pass over the corpus,
                      per-query top-k via window. The correctness
                      baseline and the right answer when |queries| is
                      small relative to the corpus.
- ``cosine_pairs``  — all-pairs near-duplicate detection above a
                      cosine threshold (embedding-based near-dup).
                      Exact; quadratic — gate behind LSH at scale.
- ``rp_lsh_*``      — sign-random-projection LSH: deterministic
                      md5-derived hyperplanes hash vectors to buckets;
                      candidate generation joins on the bucket key.
                      The scale path: shuffle keyed on bucket hash,
                      nothing quadratic. Recall is tested against the
                      brute-force baseline (tests/test_similarity.py).
- ``ivf_*``         — inverted-file index: a sample-trained spherical
                      k-means coarse quantizer partitions the corpus
                      into lists; queries probe their n_probe nearest
                      lists. Data-adaptive where LSH is data-blind;
                      the candidate shuffle moves ~n_probe/n_centroids
                      of the corpus.

Vector-math strategy, measured not assumed: the ORACLED exact queries
(cosine_topk / cosine_pairs) use built-in HOFs (zip_with / aggregate)
with elements cast to double BEFORE multiplication, so an external SQL
oracle performs the identical IEEE operation sequence — bit-exact
cross-engine. But Spark evaluates HOF lambdas on the interpreted
expression path (no whole-stage codegen), which is the slow tier for
dense linear algebra; the approximate indexes (rp_lsh / ivf), whose
contract is recall rather than bit-exactness, therefore do their bulk
math as Arrow-batched numpy (vectorized Pandas UDFs): one matmul per
batch instead of dim interpreted closure calls per row.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "dot",
    "l2_norm",
    "cosine",
    "cosine_topk",
    "knn_label_vote",
    "standardize_embeddings",
    "cosine_pairs",
    "cosine_pairs_blocked",
    "rp_lsh_bucket",
    "rp_bucket_udf",
    "auto_num_planes",
    "rp_lsh_topk",
    "cosine_pairs_lsh",
    "ivf_train",
    "ivf_assign_udf",
    "ivf_probe_udf",
    "ivf_topk",
    "semantic_decontaminate",
    "covariance_cells",
    "covariance_cells_arrow",
    "pca_whiten",
    "rrf_fuse",
]


def _d(c: Column) -> Column:
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Dot product, left-to-right summation in double."""
    return F.aggregate(
        F.zip_with(_d(a), _d(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot_predoubled(a: Column, b: Column) -> Column:
    """Dot product over arrays ALREADY cast to double — for quadratic
    stages, stage the cast once per vector, not once per pair (each
    ``transform`` materializes a fresh array per evaluation)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(_d(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    """``try_divide``, not ``/``: Spark 4 runs ANSI mode by default, so
    a zero-norm vector would ABORT the whole query with DIVIDE_BY_ZERO
    rather than yield NULL/NaN. try_divide returns NULL — exactly what
    DuckDB's division by zero returns, keeping the oracles aligned if
    a zero vector ever appears; NULL cosines sort last under desc and
    fail every threshold."""
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def np_cosine(round_to: int = 6):
    """Arrow-batched cosine (vectorized Pandas UDF) for the approximate
    indexes' scoring stages: one numpy pass per batch vs ``dim``
    interpreted HOF-lambda closure calls per row (HOFs never enter
    whole-stage codegen — measured seconds per 2k rows at dim=64).
    Rounded to ``round_to`` so rankings tie-break identically to the
    HOF form; not for the oracled exact queries, which need the HOF
    operation order for bit-exact cross-engine parity."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        x = np.stack([np.asarray(v, dtype=np.float64) for v in a])
        y = np.stack([np.asarray(v, dtype=np.float64) for v in b])
        num = (x * y).sum(axis=1)
        den = np.sqrt((x * x).sum(axis=1)) * np.sqrt((y * y).sum(axis=1))
        # zero-norm guard: an unguarded 0/0 yields NaN, and Spark sorts
        # NaN above every real double, so zero vectors would rank FIRST
        # in top-k results; cos=0.0 ranks them below any positive match.
        return pd.Series(np.round(num / np.where(den == 0.0, 1.0, den), round_to))

    return cos


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Exact top-k nearest corpus vectors per query vector by cosine.

    ``queries`` is broadcast (it must be small — for query sets that
    are themselves huge, use ``rp_lsh_topk``). Ranking uses the ROUNDED
    cosine with the candidate id as tiebreak, so the result set is
    deterministic and engine-independent (raw float ordering can differ
    in the last ulp between engines).

    Returns ``(query_id, rank, vec_id, cos_sim)``.
    """
    from pyspark.sql import Window

    from .relational import spread

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    )
    c = spread(corpus.select(F.col(id_col), F.col(vec_col)))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            F.round(cosine(F.col(vec_col), F.col("__qvec")), round_to).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", id_col, "cos_sim")
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
    round_to: int = 6,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    top-``k`` most-similar corpus vectors with a DIFFERENT label — the
    negatives that actually move an InfoNCE/triplet loss (random
    negatives are trivially separable; the highest-similarity wrong-
    label examples define the decision boundary).

    Same exact-tier shape as :func:`cosine_topk` (broadcast bounded
    query set, one corpus pass, rounded-cosine + id-tiebreak ranking —
    deterministic and engine-independent); the label-mismatch
    predicate lands map-side in the scan, BEFORE the per-query window,
    so same-label mass never reaches the shuffle. For corpus-scale
    query sets, route candidates through ``rp_lsh_topk`` buckets first
    and apply the same mismatch predicate per bucket.

    Returns ``(query_id, query_label, rank, vec_id, neg_label,
    cos_sim)``.
    """
    from pyspark.sql import Window

    from .relational import spread

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        F.col(label_col).alias("query_label"),
    )
    c = spread(corpus.select(id_col, vec_col, label_col))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(
            (F.col(id_col) != F.col("query_id"))
            & (F.col(label_col) != F.col("query_label"))
        )
        .select(
            "query_id",
            "query_label",
            id_col,
            F.col(label_col).alias("neg_label"),
            F.round(cosine(F.col(vec_col), F.col("__qvec")), round_to).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "query_label", "rank", id_col, "neg_label", "cos_sim"
        )
    )


def knn_label_vote(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """k-nearest-neighbor CLASSIFICATION over the embedding corpus:
    each query vector takes the majority label of its exact top-k
    cosine neighbors (self excluded) — the standard label-propagation /
    weak-labeling / embedding-probe operator a training pipeline uses
    to label unlabeled data or audit embedding quality (does the
    neighborhood agree with the assigned label?).

    Deterministic end to end: neighbors rank on the rounded cosine
    with id tiebreak (``cosine_topk``), the vote breaks ties toward
    the SMALLEST label. Returns ``(query_id, predicted_label, votes,
    top_cos)`` — votes = neighbor count carrying the winning label,
    top_cos = the best cosine among them (the confidence pair).

    Scale shape: ``cosine_topk``'s broadcast linear scan proposes (use
    an ANN top-k for huge query sets), then one tiny aggregation over
    k rows per query and a top-1 window over the vote table — both
    keyed on query_id, both negligible next to the scan.
    """
    from pyspark.sql import Window

    topk = cosine_topk(corpus, queries, id_col, vec_col, k, round_to)
    nbr_labels = corpus.select(
        F.col(id_col), F.col(label_col).alias("__nbr_label")
    )
    votes = (
        topk.join(nbr_labels, id_col)
        .groupBy("query_id", "__nbr_label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("votes"),
            F.max("cos_sim").alias("top_cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("votes"), F.asc("__nbr_label")
    )
    return (
        votes.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            "query_id",
            F.col("__nbr_label").alias("predicted_label"),
            "votes",
            "top_cos",
        )
    )


def label_noise_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 10,
    min_votes: int = 7,
    round_to: int = 6,
) -> DataFrame:
    """Label-noise audit (Confident-Learning-style neighborhood
    disagreement): a row is a mislabel CANDIDATE when a strong
    majority (``min_votes`` of ``k``) of its nearest neighbors carry a
    DIFFERENT label than the one assigned — the cheap first-pass
    filter a labeled-data pipeline runs before human re-review or
    training-dynamics scoring. Built on :func:`knn_label_vote`
    (deterministic ranking + smallest-label tiebreak), so the verdict
    is engine-independent and SQL-oracle-able.

    Returns every query row with ``(assigned_label, predicted_label,
    votes, top_cos, is_suspect)`` — the full audit report, not just
    the flagged subset, so reviewers see the margin everywhere.
    """
    votes = knn_label_vote(
        corpus, queries, id_col, vec_col, label_col, k, round_to
    )
    assigned = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("assigned_label"),
    )
    return (
        votes.join(assigned, "query_id")
        .select(
            "query_id",
            "assigned_label",
            "predicted_label",
            "votes",
            "top_cos",
            (
                (F.col("predicted_label") != F.col("assigned_label"))
                & (F.col("votes") >= min_votes)
            ).alias("is_suspect"),
        )
    )


def snapshot_drift(
    snapshot_a: DataFrame,
    snapshot_b: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str | None = None,
    min_cos: float = 0.8,
) -> DataFrame:
    """Embedding drift between TWO explicit snapshots — the parity-id
    union :func:`centroid_drift`'s docstring describes, as code (r10:
    the ergonomic front door of the quantizer refresh rule): snapshot
    A rides even synthetic ids, snapshot B odd, so centroid_drift's
    even/odd halves become exactly A-vs-B. Feed the result straight to
    :func:`quantizer_stale` — ``quantizer_stale(manifest, drift_df=
    snapshot_drift(trained_on, arriving, dim))`` is the complete
    retrain-on-drift decision. With ``label_col=None`` the whole
    snapshot is one ``'all'`` label (one report row); pass a label
    column for per-label verdicts. Plan shape: centroid_drift's single
    posexplode aggregate over the union — each snapshot is read
    once.

    Parity is tagged as a LITERAL (snapshot A rides id 0, B id 1),
    never derived from the caller's id column (ADVICE r10: the old
    ``cast('long') * 2 + parity`` silently NULLed UUID-string ids and
    dropped negative ids out of both halves — a false ``stale=false``
    in the refresh decision). Ids of ANY type — strings, negatives,
    overlapping between snapshots — therefore work; the original id
    plays no role in the report."""
    def tag(df: DataFrame, parity: int) -> DataFrame:
        label = (
            F.col(label_col).cast("string")
            if label_col is not None
            else F.lit("all")
        )
        return df.select(
            F.lit(parity).cast("long").alias(id_col),
            F.col(vec_col).alias(vec_col),
            label.alias("__drift_label"),
        )

    merged = tag(snapshot_a, 0).unionByName(tag(snapshot_b, 1))
    return centroid_drift(
        merged, dim, id_col=id_col, vec_col=vec_col,
        label_col="__drift_label", min_cos=min_cos,
    )


def centroid_drift(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    min_cos: float = 0.8,
) -> DataFrame:
    """Embedding-space drift report: per label, the cosine between the
    centroids of two deterministic halves of the corpus (even vs odd
    ``id`` — a stand-in for snapshot A vs snapshot B; pass real
    snapshots by unioning them with a parity id). The embedding
    sibling of ``contract.profile_drift``: an embedding-model swap, a
    silently reshuffled dimension order, or a poisoned ingest shows up
    as a centroid rotation long before downstream metrics move.

    Determinism: per-dimension means accumulate in DECIMAL(38,28) and
    round to 6 before the (exact-decimal) dot products, so the report
    is partitioning-independent and SQL-reproducible. Scale shape: one
    posexplode aggregation keyed (label, dim) — |labels| x dim rows —
    then a |labels|-row fold; the corpus is read once.

    The id must be NUMERIC (parity is the split key); negative ids are
    handled via ``pmod`` (ADVICE r10: Spark's ``%`` keeps the
    dividend's sign, so ``-3 % 2 = -1`` landed outside both halves and
    silently emptied a snapshot). Non-numeric ids are a contract
    violation — route string-id snapshots through
    :func:`snapshot_drift`, which tags parity itself and accepts any
    id type; :func:`quantizer_stale` fails loudly on the indeterminate
    report an empty half produces.
    """
    from pyspark.sql import functions as F  # noqa: F811

    half = F.pmod(F.col(id_col), F.lit(2)).alias("__half")
    exploded = df.select(
        F.col(label_col).alias("label"),
        half,
        F.posexplode(F.col(vec_col)).alias("pos", "__v"),
    )
    d = F.col("__v").cast("decimal(38,28)")
    cnt = lambda h: F.sum(F.when(F.col("__half") == h, 1).otherwise(0))  # noqa: E731
    mean = lambda h: F.round(  # noqa: E731
        F.sum(F.when(F.col("__half") == h, d)).cast("double")
        / F.when(cnt(h) > 0, cnt(h)),
        6,
    ).cast("decimal(18,6)")
    dimstats = exploded.groupBy("label", "pos").agg(
        mean(0).alias("__ma"), mean(1).alias("__mb")
    )
    dots = dimstats.groupBy("label").agg(
        F.sum(F.col("__ma") * F.col("__mb")).cast("double").alias("__dab"),
        F.sum(F.col("__ma") * F.col("__ma")).cast("double").alias("__daa"),
        F.sum(F.col("__mb") * F.col("__mb")).cast("double").alias("__dbb"),
    )
    counts = df.groupBy(F.col(label_col).alias("label")).agg(
        F.sum(F.when(F.pmod(F.col(id_col), F.lit(2)) == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.pmod(F.col(id_col), F.lit(2)) == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
    )
    denom = F.sqrt("__daa") * F.sqrt("__dbb")
    ccos = F.round(F.col("__dab") / F.when(denom > 0, denom), 6)
    return counts.join(dots, "label").select(
        "label",
        "n_a",
        "n_b",
        ccos.alias("centroid_cos"),
        F.coalesce(ccos < min_cos, F.lit(False)).alias("drifted"),
    )


def cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
    round_to: int = 6,
) -> DataFrame:
    """All pairs with cosine >= threshold (embedding near-dup).

    Exact and O(n^2) — correct at dimension-table scale and as the
    verification stage behind ``rp_lsh_bucket`` candidates at corpus
    scale (same pattern as dedup.minhash_near_dups: LSH proposes,
    exact math disposes)."""
    # norms AND double-cast arrays staged per vector (not per pair): the
    # pair expression is one zip+fold and a multiply — no per-pair array
    # casts, no per-pair norm aggregates (measured ~3x on the quadratic
    # stage)
    from .relational import spread

    withn = spread(df.select(F.col(id_col), F.col(vec_col))).select(
        F.col(id_col),
        _d(F.col(vec_col)).alias("__dv"),
        l2_norm(F.col(vec_col)).alias("__n"),
    )
    a = withn.select(
        F.col(id_col).alias("id_a"), F.col("__dv").alias("__va"),
        F.col("__n").alias("__na"),
    )
    b = withn.select(
        F.col(id_col).alias("id_b"), F.col("__dv").alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                # try_divide: ANSI-safe + DuckDB-parity on zero norms
                F.try_divide(
                    dot_predoubled(F.col("__va"), F.col("__vb")),
                    F.col("__na") * F.col("__nb"),
                ),
                round_to,
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def cosine_pairs_blocked(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
    round_to: int = 6,
    block_rows: int = 1024,
    margin: float = 1e-6,
    approx_rows: int | None = None,
    num_blocks: int | None = None,
) -> DataFrame:
    """All pairs with cosine >= threshold — same result set as
    :func:`cosine_pairs`, scale-shaped.

    Exact all-pairs is O(n^2) in FLOPs no matter what; the question at
    100 TB is *where* those FLOPs run and what the shuffle moves. The
    naive form (``cosine_pairs``) is a Catalyst cross join: n^2 ROWS
    through the interpreted HOF path. This form blocks the corpus into
    ``B`` hash-assigned chunks, equi-joins the B*(B+1)/2 chunk PAIRS
    (a tiny distributed range-product — no CartesianProduct over data
    in the plan), and scores each chunk pair with one numpy matmul
    inside ``mapInPandas``. Shuffle volume is ~B copies of the corpus
    (vs n copies for the row cross join); per-task memory is bounded by
    the block size squared.

    Block-count selection never runs a Spark job: ``num_blocks`` wins
    if given; else ``ceil(approx_rows / block_rows)`` (pass the table's
    approximate row count at real scale — exactness of B only affects
    task sizing, never the result set); else a local-mode heuristic
    ``ceil(sqrt(2 * defaultParallelism))`` that puts roughly one chunk
    pair per core. At 100 TB callers MUST size B from approx_rows so a
    block (~block_rows vectors) stays within task memory.

    NULL embeddings are dropped before blocking (matching
    ``cosine_pairs``, where a NULL side yields NULL cosine which fails
    the threshold), and each block packs ``(id, vec)`` STRUCTS — a
    single collect_list — so ids can never desynchronize from vectors.

    Completeness is guaranteed, not probabilistic (unlike an LSH
    proposer): the matmul stage keeps every pair with numpy-cosine >=
    ``threshold - margin`` — numpy and the HOF fold agree on the true
    cosine to ~1e-12, so ``margin=1e-6`` strictly over-generates. The
    survivors (a near-dup set, tiny by definition) are then re-scored
    with the identical staged HOF arithmetic as ``cosine_pairs`` /
    the SQL oracle (left-to-right double fold, round(round_to)), so the
    emitted ``cos_sim`` values are bit-exact cross-engine and the final
    ``>= threshold`` filter applies to the rounded value.
    """
    import math
    from collections.abc import Iterator

    from .relational import spread

    spark = df.sparkSession
    if num_blocks is None:
        if approx_rows is not None:
            num_blocks = max(1, -(-approx_rows // block_rows))  # ceil
        else:
            num_blocks = max(
                1, math.isqrt(2 * spark.sparkContext.defaultParallelism - 1) + 1
            )
    base = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).cast("long").alias("__id"), F.col(vec_col).alias("__v")
    ).withColumn(
        "__blk", F.pmod(F.xxhash64(F.col("__id")), F.lit(num_blocks)).cast("int")
    )
    packed = base.groupBy("__blk").agg(
        F.collect_list(F.struct(F.col("__id"), F.col("__v"))).alias("__rows")
    )
    # chunk-pair table built distributed (one range, no join): the pair
    # count is quadratic in B and must not materialize on the driver.
    # range(B^2) decodes to (i, j) by div/mod and keeps i <= j — pure
    # projection, so the plan stays free of cartesian/NLJ nodes. B^2
    # longs is negligible for any B worth shuffling (callers bound B by
    # raising block_rows with n).
    pairs = (
        spark.range(num_blocks * num_blocks)
        .select(
            (F.col("id") / num_blocks).cast("int").alias("__ba"),
            F.pmod(F.col("id"), F.lit(num_blocks)).cast("int").alias("__bb"),
        )
        .where(F.col("__ba") <= F.col("__bb"))
    )
    a = packed.select(
        F.col("__blk").alias("__ba"), F.col("__rows").alias("__rows_a")
    )
    b = packed.select(
        F.col("__blk").alias("__bb"), F.col("__rows").alias("__rows_b")
    )
    n_pairs = num_blocks * (num_blocks + 1) // 2
    joined = spread(
        F.broadcast(pairs).join(a, "__ba").join(b, "__bb"),
        min(n_pairs, spark.sparkContext.defaultParallelism),
    )
    lo = threshold - margin

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_a: list[int] = []
            out_b: list[int] = []
            for ba, bb, rows_a, rows_b in zip(
                pdf["__ba"], pdf["__bb"], pdf["__rows_a"], pdf["__rows_b"]
            ):
                if len(rows_a) == 0 or len(rows_b) == 0:
                    continue
                ia = np.asarray([r["__id"] for r in rows_a], dtype=np.int64)
                ib = np.asarray([r["__id"] for r in rows_b], dtype=np.int64)
                xa = np.stack(
                    [np.asarray(r["__v"], dtype=np.float64) for r in rows_a]
                )
                xb = np.stack(
                    [np.asarray(r["__v"], dtype=np.float64) for r in rows_b]
                )
                na = np.linalg.norm(xa, axis=1, keepdims=True)
                nb = np.linalg.norm(xb, axis=1, keepdims=True)
                sims = (xa / np.where(na == 0.0, 1.0, na)) @ (
                    xb / np.where(nb == 0.0, 1.0, nb)
                ).T
                keep = sims >= lo
                if ba == bb:
                    keep &= ia[:, None] < ib[None, :]
                ra, rb = np.nonzero(keep)
                if len(ra):
                    pa, pb = ia[ra], ib[rb]
                    out_a.extend(np.minimum(pa, pb))
                    out_b.extend(np.maximum(pa, pb))
            yield pd.DataFrame({"id_a": out_a, "id_b": out_b}).astype("int64")

    cands = joined.mapInPandas(gen, "id_a long, id_b long")

    # bit-exact verification on the (small) candidate set: identical
    # staged arithmetic to cosine_pairs, so an external SQL oracle over
    # the full cross join produces byte-identical survivors.
    withn = spread(df.select(F.col(id_col), F.col(vec_col))).select(
        F.col(id_col).cast("long").alias("__vid"),
        _d(F.col(vec_col)).alias("__dv"),
        l2_norm(F.col(vec_col)).alias("__n"),
    )
    va = withn.select(
        F.col("__vid").alias("id_a"), F.col("__dv").alias("__va"),
        F.col("__n").alias("__na"),
    )
    vb = withn.select(
        F.col("__vid").alias("id_b"), F.col("__dv").alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                # try_divide: ANSI-safe + DuckDB-parity on zero norms
                F.try_divide(
                    dot_predoubled(F.col("__va"), F.col("__vb")),
                    F.col("__na") * F.col("__nb"),
                ),
                round_to,
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def _hyperplane(plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane component in [-1, 1):
    derived from md5(plane|dim) — no RNG state, reproducible anywhere."""
    import hashlib

    out = []
    for d in range(dim):
        h = hashlib.md5(f"{plane}|{d}".encode()).hexdigest()[:8]
        out.append(int(h, 16) / float(2**31) - 1.0)
    return out


def auto_num_planes(
    approx_rows: int,
    target_bucket: int = 64,
    lo: int = 4,
    hi: int = 24,
) -> int:
    """The SIZE-num_planes-TO-THE-CORPUS rule as code (see
    cosine_pairs_lsh: per-table candidate volume is ~n^2 / 2^planes,
    so planes must grow ~log2(n) for linear candidates): planes such
    that 2^planes >= approx_rows / target_bucket, i.e. expected bucket
    occupancy ~target_bucket rows — per-table candidates then
    ~n * target_bucket, linear in the corpus. ``approx_rows`` is a
    caller hint (catalog stats, a prior count, the manifest), never a
    driver job, matching cosine_pairs_blocked's approx_rows contract.
    Clamped to [lo, hi]: below 2^lo buckets banding stops
    discriminating; above ``hi`` planes per-plane collision p^planes
    underflows for anything but near-identical vectors (raise
    num_tables instead at that point)."""
    import math

    if approx_rows <= 0:
        return lo
    need = math.ceil(math.log2(max(approx_rows / max(target_bucket, 1), 1.0)))
    return max(lo, min(hi, need))


def rp_lsh_bucket(
    vec: Column, dim: int, num_planes: int = 8
) -> Column:
    """Sign-random-projection bucket id: bit p = sign(vec . plane_p).
    Vectors in the same bucket are ANN candidates. Hyperplanes are
    md5-derived constants folded into the plan (broadcast literals)."""
    bucket = F.lit(0).cast("bigint")
    dv = _d(vec)
    for p in range(num_planes):
        plane = F.array(*[F.lit(v) for v in _hyperplane(p, dim)])
        proj = F.aggregate(
            F.zip_with(dv, plane, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj > 0, F.lit(2**p).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
    return bucket


def rp_bucket_udf(dim: int, num_planes: int, num_tables: int):
    """Arrow-batched bucket assigner: ``array<bigint>`` of one RP-LSH
    bucket id per table. All ``num_tables * num_planes`` projections are
    ONE numpy matmul per batch (the per-plane HOF-expression form built
    a ~(tables*planes*dim)-literal Catalyst tree whose driver-side
    construction alone cost seconds — dense linear algebra is the case
    where the vectorized-UDF path beats built-in expressions).
    Hyperplanes are md5-derived constants (seed = table*1000 + plane):
    reproducible anywhere, no RNG state shipped."""
    from pyspark.sql.functions import pandas_udf

    plane_mat = np.array(
        [
            _hyperplane(t * 1000 + p, dim)
            for t in range(num_tables)
            for p in range(num_planes)
        ]
    )
    bit_weights = 2 ** np.arange(num_planes, dtype=np.int64)

    @pandas_udf("array<bigint>")
    def _buckets(vecs: pd.Series) -> pd.Series:
        zero = np.zeros(dim)
        x = np.stack(
            [np.asarray(v, dtype=np.float64) if v is not None else zero
             for v in vecs]
        )
        proj = x @ plane_mat.T  # (n, tables*planes)
        bits = (proj > 0).reshape(len(x), num_tables, num_planes)
        return pd.Series(list(bits @ bit_weights))  # (n, tables)

    return _buckets


def cosine_pairs_lsh(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    num_planes: int | None = None,
    num_tables: int = 8,
    max_bucket: int = 4096,
    round_to: int = 6,
    persist_intermediates: bool = True,
    approx_rows: int | None = None,
) -> DataFrame:
    """Approximate near-dup PAIRS via banded RP-LSH: candidates = pairs
    sharing a bucket in ANY table; exact cosine (identical staged
    arithmetic to :func:`cosine_pairs`) disposes. The linear-shuffle
    scale path next to the exact O(n^2)-FLOP tiers (``cosine_pairs`` /
    ``cosine_pairs_blocked``) — same proposer/verifier split as
    dedup.minhash_near_dups, applied to the embedding column.

    Scale shape: one Arrow matmul assigns all buckets; the id->bucket
    table (ids only, ~num_tables rows per vector — vectors are NOT
    shuffled into buckets) self-joins on ``(table, bucket)``. Vectors
    re-attach only for surviving candidate pairs.

    ``persist_intermediates`` caches the capped id->bucket table (3
    longs per row): it feeds both self-join sides, and Spark does NOT
    plan a ReusedExchange across them here (the window filter sits
    between the exchange and the join), so uncached the scan + Arrow
    matmul + window run twice (measured ~2x on the proposer stage).
    Disable if ~num_tables * |corpus| id rows exceed cluster
    memory+disk cache — the same discipline as jaccard_pairs.

    ``max_bucket`` drops degenerate hub buckets (near-parallel vector
    masses land in one bucket; a B-row bucket emits B^2/2 candidate
    pairs): pairs confined to dropped buckets are lost, which lowers
    recall only for pairs ALL of whose num_tables collisions are hubs —
    at the high thresholds this operator targets, true near-dup pairs
    collide in most tables. Recall tunes with planes/tables exactly as
    :func:`rp_lsh_topk` (P[pair at cosine c shares >= 1 bucket] =
    1 - (1 - p^planes)^tables, p = 1 - acos(c)/pi); asserted against
    the exact tier on planted near-dups in tests/test_similarity.py.

    SIZE num_planes TO THE CORPUS: each table has 2^num_planes buckets,
    so expected candidate volume is ~n^2 / 2^num_planes per table —
    num_planes must grow ~log2(n) to keep bucket occupancy (and
    per-table candidates) linear. The scale-slope probe measures
    exactly this: a fixed 4-plane config degrades quadratically at 8x
    corpus (slope 12). At HIGH thresholds (the near-dup regime,
    c >= 0.95 so p >= 0.95) raising planes is cheap — p^16 ~ 0.44, 8
    tables still give ~99% recall — which is why LSH near-dup scales
    for true near-dups but cannot be made linear for low thresholds
    (p^planes collapses, forcing exponentially many tables; see the
    BENCH_NOTES caveat on thresholds inside the random-pair tail).

    Precision is exact by construction: survivors are re-scored with
    the same fold/round as ``cosine_pairs``, so the result is always a
    SUBSET of the exact result at the same threshold. NULL embeddings
    are dropped up front (a NULL side can never reach the threshold).

    ``num_planes=None`` (the r10 default, closing the library-default
    gap the registered queries already closed in r5): sized via
    :func:`auto_num_planes` from the ``approx_rows`` hint; without a
    hint the pre-r10 8 applies. Explicit ints stay the escape hatch.
    """
    from pyspark.sql import Window

    from .relational import spread

    if num_planes is None:
        num_planes = (
            auto_num_planes(approx_rows) if approx_rows and approx_rows > 0
            else 8
        )
    vecs = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col), F.col(vec_col)
    )
    buckets = rp_bucket_udf(dim, num_planes, num_tables)
    ids = spread(vecs).select(
        F.col(id_col).alias("__id"),
        F.posexplode(buckets(F.col(vec_col))).alias("table", "bucket"),
    )
    bucket_w = Window.partitionBy("table", "bucket")
    ids = (
        ids.withColumn("__bsz", F.count(F.lit(1)).over(bucket_w))
        .where(F.col("__bsz") <= max_bucket)
        .drop("__bsz")
    )
    if persist_intermediates:
        # eager + lineage-truncating (r13): the two self-join sides are
        # planned as concurrent AQE stages and raced the cold cache,
        # running the Arrow bucket matmul + window twice — see
        # relational.materialize_intermediate
        from .relational import materialize_intermediate

        ids = materialize_intermediate(ids)
    cand = (
        ids.select("table", "bucket", F.col("__id").alias("id_a"))
        .join(
            ids.select("table", "bucket", F.col("__id").alias("id_b")),
            ["table", "bucket"],
        )
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    withn = vecs.select(
        F.col(id_col),
        _d(F.col(vec_col)).alias("__dv"),
        l2_norm(F.col(vec_col)).alias("__n"),
    )
    return (
        cand.join(
            withn.select(
                F.col(id_col).alias("id_a"),
                F.col("__dv").alias("__va"),
                F.col("__n").alias("__na"),
            ),
            "id_a",
        )
        .join(
            withn.select(
                F.col(id_col).alias("id_b"),
                F.col("__dv").alias("__vb"),
                F.col("__n").alias("__nb"),
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(
                # try_divide: ANSI-safe + DuckDB-parity on zero norms
                F.try_divide(
                    dot_predoubled(F.col("__va"), F.col("__vb")),
                    F.col("__na") * F.col("__nb"),
                ),
                round_to,
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def rp_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    num_planes: int | None = None,
    num_tables: int = 4,
    round_to: int = 6,
    approx_rows: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates = corpus vectors sharing an LSH
    bucket with the query in ANY of ``num_tables`` independent plane
    sets; exact cosine ranks the candidates.

    The join is keyed on ``(table, bucket)`` — at 100 TB this is one
    hash-shuffle of the corpus vs the quadratic blowup of brute force;
    recall tunes with planes/tables (fewer planes -> bigger buckets ->
    higher recall, more compute).

    All ``num_tables * num_planes`` projections are ONE Arrow-batched
    numpy matmul per batch — see :func:`rp_bucket_udf`.

    ``num_planes=None`` (the r10 default): sized via
    :func:`auto_num_planes` from the ``approx_rows`` corpus hint —
    fixed planes leave bucket occupancy (hence per-query candidates)
    growing linearly with the corpus; without a hint the pre-r10 6
    applies, and explicit ints stay the escape hatch."""
    from pyspark.sql import Window

    if num_planes is None:
        num_planes = (
            auto_num_planes(approx_rows) if approx_rows and approx_rows > 0
            else 6
        )
    _buckets = rp_bucket_udf(dim, num_planes, num_tables)

    def bucketed_ids(df: DataFrame, id_alias: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(id_alias),
            F.posexplode(_buckets(F.col(vec_col))).alias("table", "bucket"),
        )

    from .relational import spread

    cand_ids = (
        bucketed_ids(spread(corpus), "cand_id")
        .join(F.broadcast(bucketed_ids(queries, "query_id")), ["table", "bucket"])
        .where(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id")
        .distinct()
    )
    # re-attach vectors only for surviving candidates (ids shuffled, not
    # vectors — the candidate set is small relative to the corpus)
    scored = (
        cand_ids.join(
            corpus.select(
                F.col(id_col).alias("cand_id"), F.col(vec_col).alias("__cvec")
            ),
            "cand_id",
        )
        .join(
            F.broadcast(
                queries.select(
                    F.col(id_col).alias("query_id"),
                    F.col(vec_col).alias("__qvec"),
                )
            ),
            "query_id",
        )
        .select(
            "query_id",
            F.col("cand_id").alias(id_col),
            np_cosine(round_to)(F.col("__cvec"), F.col("__qvec")).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", id_col, "cos_sim")
    )


# ---------------------------------------------------------------------------
# IVF: inverted-file index (coarse k-means quantizer + n_probe search)
# ---------------------------------------------------------------------------


def _centroid_matrix(centroids: list[tuple[int, list[float]]]) -> np.ndarray:
    """(K, dim) matrix ordered by centroid id — the closure constant the
    scoring UDFs broadcast (pickled once per executor, not per row)."""
    ordered = sorted(centroids)
    assert [cid for cid, _ in ordered] == list(range(len(ordered)))
    return np.asarray([vec for _, vec in ordered], dtype=np.float64)


def _stack(vecs: pd.Series, dim: int) -> np.ndarray:
    zero = np.zeros(dim)
    return np.stack(
        [np.asarray(v, dtype=np.float64) if v is not None else zero for v in vecs]
    )


_SCORE_BLOCK_CELLS = 4_000_000  # 32 MB float64 per score block


def _cosine_argmax_chunked(x: np.ndarray, cn: np.ndarray) -> np.ndarray:
    """Nearest-centroid assignment (cosine argmax against the
    ``(dim, K)`` NORMALIZED centroid matrix ``cn``) with the score
    matrix computed in row chunks so no more than ~32 MB of scores
    ever materializes. The naive ``argmax(x @ cn)`` allocates an
    ``n x K`` float64 block — with ``auto_n_centroids`` the DEFAULT
    (r10), K reaches 65,536 and a scaled training sample makes that
    block terabytes; chunking bounds it at any (n, K) while computing
    the IDENTICAL argmax (same per-row dot products, same lowest-id
    tie rule). Row scaling never changes a cosine argmax, so callers
    pass raw or normalized rows interchangeably."""
    k = cn.shape[1]
    rows = max(1, _SCORE_BLOCK_CELLS // max(1, k))
    out = np.empty(len(x), dtype=np.int64)
    for i in range(0, len(x), rows):
        out[i : i + rows] = np.argmax(x[i : i + rows] @ cn, axis=1)
    return out


def _cosine_topn_chunked(x: np.ndarray, cn: np.ndarray, n_take: int) -> np.ndarray:
    """Top-``n_take`` centroid ids per row by descending cosine
    (ties: lowest id — stable argsort), row-chunked like
    :func:`_cosine_argmax_chunked` so probe selection survives
    auto-sized centroid counts."""
    k = cn.shape[1]
    rows = max(1, _SCORE_BLOCK_CELLS // max(1, k))
    out = np.empty((len(x), n_take), dtype=np.int64)
    for i in range(0, len(x), rows):
        scores = x[i : i + rows] @ cn
        out[i : i + rows] = np.argsort(-scores, axis=1, kind="stable")[
            :, :n_take
        ]
    return out


def _l2_argmin_chunked(xs: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """Squared-L2 nearest-centroid assignment via the expansion trick,
    row-chunked (the :func:`_cosine_argmax_chunked` bound applied to
    the PQ/Lloyd subspace assignments); stable argmin — lowest code id
    wins ties, matching the unchunked form exactly."""
    k = len(cents)
    rows = max(1, _SCORE_BLOCK_CELLS // max(1, k))
    c2 = (cents * cents).sum(axis=1)[None, :]
    out = np.empty(len(xs), dtype=np.int64)
    for i in range(0, len(xs), rows):
        xb = xs[i : i + rows]
        d2 = (xb * xb).sum(axis=1, keepdims=True) - 2.0 * xb @ cents.T + c2
        out[i : i + rows] = np.argmin(d2, axis=1)
    return out


def _mean_update(
    cents: np.ndarray, x: np.ndarray, assign: np.ndarray
) -> None:
    """Lloyd mean update, vectorized: scatter-add member sums and
    bincount sizes instead of one Python-level masked scan per
    centroid (the old ``for cid: x[assign == cid]`` loop is
    O(K x n) comparisons — hours at the 65,536-centroid clamp the r10
    default can reach). Empty clusters keep their previous centroid,
    exactly the loop's rule."""
    k = len(cents)
    sums = np.zeros_like(cents)
    np.add.at(sums, assign, x)
    counts = np.bincount(assign, minlength=k)
    ne = counts > 0
    cents[ne] = sums[ne] / counts[ne, None]


def ivf_assign_udf(centroids: list[tuple[int, list[float]]], dim: int):
    """Arrow-batched nearest-centroid assignment: one ``(batch, dim) @
    (dim, K)`` matmul per batch instead of K interpreted HOF folds per
    row (the HOF form measured ~23s at sf0.01 — HOF lambdas never enter
    whole-stage codegen). Cosine argmax == dot-product argmax against
    the fixed centroid norms, so rows are not normalized; ties take the
    lowest centroid id (numpy argmax)."""
    from pyspark.sql.functions import pandas_udf

    cmat = _centroid_matrix(centroids)
    cnorm = np.linalg.norm(cmat, axis=1)
    cn = (cmat / np.where(cnorm == 0.0, 1.0, cnorm)[:, None]).T  # (dim, K)

    @pandas_udf("bigint")
    def assign(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int64")
        # row-chunked: an Arrow batch x auto-sized K score block can
        # reach gigabytes (r10 default sizing) — bound it
        return pd.Series(_cosine_argmax_chunked(_stack(vecs, dim), cn))

    return assign


def ivf_probe_udf(
    centroids: list[tuple[int, list[float]]], dim: int, n_probe: int
):
    """Arrow-batched probe selection: the ``n_probe`` nearest centroid
    ids per query, ordered by descending cosine (ties: lowest id —
    stable argsort)."""
    from pyspark.sql.functions import pandas_udf

    cmat = _centroid_matrix(centroids)
    cnorm = np.linalg.norm(cmat, axis=1)
    cn = (cmat / np.where(cnorm == 0.0, 1.0, cnorm)[:, None]).T
    n_take = min(n_probe, cmat.shape[0])

    @pandas_udf("array<bigint>")
    def probe(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="object")
        order = _cosine_topn_chunked(_stack(vecs, dim), cn, n_take)
        return pd.Series(list(order))

    return probe


def auto_n_centroids(
    approx_rows: int,
    lo: int = 16,
    hi: int = 65536,
) -> int:
    """The SIZE-the-coarse-quantizer-TO-THE-CORPUS rule as code (the
    :func:`auto_num_planes` convention applied to IVF/IVF-PQ): with
    ``n_probe`` fixed, each query scans ~``n_probe * N / n_centroids``
    candidates, so a FIXED list count goes superlinear the moment the
    query load grows with the corpus — measured in
    SCALE_SLOPE_r09_ivfpq_scaling.json: 16 fixed lists read tail
    exponent 1.63 at 32x (queries growing with the corpus) while
    ``sqrt``-scaled lists read 1.08 at 1.75x less wall. This returns
    the sqrt rule used by that probe, ``sqrt(approx_rows / 8)``
    (the classic Jegou/FAISS n_list ~ sqrt(N) family; the constant
    balances this implementation's cheap vectorized assignment against
    its gather-dominated scan), clamped to [lo, hi] — below ``lo``
    lists pruning stops paying, above ``hi`` the per-query probe
    bookkeeping dominates (raise n_probe instead at that point).
    ``approx_rows`` is a caller hint (catalog stats, a prior count,
    the manifest), never a driver job — the auto_num_planes
    contract."""
    import math

    if approx_rows <= 0:
        return lo
    return max(lo, min(hi, int(round(math.sqrt(approx_rows / 8.0)))))


def _resolve_n_centroids(n_centroids: int | None, approx_rows: int | None) -> int:
    """The IVF/IVF-PQ default-sizing rule (VERDICT r9 #1, the r5
    ``auto_num_planes`` precedent): ``n_centroids=None`` — now every
    trainer's DEFAULT — sizes the coarse quantizer from the caller's
    row hint via :func:`auto_n_centroids`; with no hint the clamp's low
    end (16 lists, the small-corpus regime) applies. Explicit ints stay
    the escape hatch and pass through untouched."""
    if n_centroids is not None:
        return n_centroids
    return auto_n_centroids(approx_rows or 0)


_TRAIN_SAMPLE_CAP = 4_194_304  # 64 x the 65,536-list IVF clamp


def _train_sample_size(sample_size: int | None, n_centroids: int) -> int:
    """Default training-sample sizing (VERDICT r9 #2): k-means needs
    ~64-100 points per centroid (the Jegou/FAISS rule ivf_train's own
    docstring cites), so a FIXED 65536-row sample starves sqrt(N)-sized
    quantizers (1-3 points/centroid at the hi clamp). ``None`` scales
    the sample with the codebook: ``max(65536, 64 * n_centroids)``,
    HARD-CAPPED at ``_TRAIN_SAMPLE_CAP`` = 4,194,304 rows — the ~2 GB
    (dim 64 float64) bound the bounded-driver-collect contract
    documents. The cap exists because callers above the IVF clamp
    (semdedup's ``auto_n_clusters`` reaches K = 1e6 at 2e9 rows) would
    otherwise scale the DEFAULT into a 64M-row / ~30 GB driver collect
    (ADVICE r10 #2); past the cap the points-per-centroid ratio thins
    (4.2 at K = 1e6) rather than the driver OOMing — callers who want
    more pass an explicit ``sample_size``, which passes through
    untouched (explicit = caller owns the memory)."""
    if sample_size is not None:
        return sample_size
    return min(max(65536, 64 * n_centroids), _TRAIN_SAMPLE_CAP)


def _train_sample(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    sample_size: int,
    seed: str = "qtrain:",
    op: str = "ivf_train",
) -> np.ndarray:
    """Bounded deterministic quantizer-training sample, drawn UNIFORMLY
    by seeded md5 order instead of the lowest-id prefix it replaces
    (VERDICT r9 #2): an id prefix is biased whenever ids correlate with
    content — the normal case for time-ordered corpora under drift,
    where prefix training fits only the oldest cluster. ``orderBy(md5(
    seed || id)) + limit`` compiles to TakeOrdered (per-partition
    partial top-k, never a global sort) — the same single bounded job
    as the prefix, same cost shape, no RNG (the
    ``weighted_sample_exact_k`` determinism convention). Rows keep hash
    order, so first-rows k-means init sees a pseudo-random spread of
    the corpus rather than its lowest ids."""
    rows = (
        corpus.select(
            F.col(id_col).alias("__id"),
            _d(F.col(vec_col)).alias("__dv"),
            F.md5(
                F.concat(F.lit(seed), F.col(id_col).cast("string"))
            ).alias("__u"),
        )
        .orderBy("__u", "__id")
        .limit(sample_size)
        .collect()
    )
    if not rows:
        raise ValueError(f"{op}: empty corpus")
    return np.asarray([r["__dv"] for r in rows], dtype=np.float64)


def ivf_train(
    corpus: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = None,
    iters: int = 3,
    sample_size: int | None = None,
    approx_rows: int | None = None,
) -> list[tuple[int, list[float]]]:
    """Train the IVF coarse quantizer: spherical k-means (cosine
    assignment, mean update) on a bounded, deterministic sample.

    ``n_centroids=None`` (the default) sizes the quantizer to the
    corpus via :func:`auto_n_centroids` from the ``approx_rows`` hint
    (catalog stats / ``io.table_row_hint`` — never a driver count job);
    fixed list counts are the measured 32x growing-workload knee (tail
    1.63 vs 1.08 sqrt-scaled, SCALE_SLOPE_r09_ivfpq_scaling.json), so
    auto-sizing is the default and explicit ints are the escape hatch.
    ``sample_size=None`` scales the sample with the quantizer
    (``max(65536, 64 * n_centroids)``, capped at 4,194,304 rows — the
    ~100x-points-per-centroid rule under the ~2 GB driver-collect
    bound); the draw is a seeded md5-uniform TakeOrdered
    (:func:`_train_sample`), not an id prefix, so time-ordered corpora
    under drift don't train on their oldest cluster only. Lloyd then
    runs locally in numpy: the 100 TB pass happens once, in the
    *assignment* stage of :func:`ivf_topk`, never in training. Init is
    the first ``n_centroids`` sample rows (hash order — a pseudo-random
    spread); empty clusters keep their previous centroid — fully
    deterministic, no RNG.
    """
    n_centroids = _resolve_n_centroids(n_centroids, approx_rows)
    sample_size = _train_sample_size(sample_size, n_centroids)
    x = _train_sample(corpus, id_col, vec_col, sample_size, op="ivf_train")
    n_centroids = min(n_centroids, len(x))
    xnorm = np.linalg.norm(x, axis=1, keepdims=True)
    xn = x / np.where(xnorm == 0.0, 1.0, xnorm)  # zero vectors stay zero

    cents = x[:n_centroids].copy()
    for _ in range(iters):
        cnorm = np.linalg.norm(cents, axis=1, keepdims=True)
        cn = cents / np.where(cnorm == 0.0, 1.0, cnorm)
        # chunked assignment + scatter-add update: the naive
        # n x n_centroids score matrix and the per-centroid Python
        # scan both stop scaling once auto_n_centroids (the r10
        # default) sizes K in the tens of thousands
        assign = _cosine_argmax_chunked(xn, cn.T)
        _mean_update(cents, x, assign)
    return [(cid, [float(v) for v in cents[cid]]) for cid in range(n_centroids)]


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_centroids: int | None = None,
    n_probe: int = 4,
    iters: int = 3,
    round_to: int = 6,
    approx_rows: int | None = None,
) -> DataFrame:
    """Approximate top-k via an IVF index: assign every corpus vector to
    its nearest trained centroid (the inverted lists), probe each
    query's ``n_probe`` nearest centroids, exact-cosine rank only the
    vectors in the probed lists.

    The scale shape: corpus assignment is one Arrow-batched matmul per
    batch (map-side, no join); the candidate join is keyed on ``cid`` —
    the shuffle moves ~n_probe/n_centroids of the corpus per query batch
    instead of all of it, and nothing is quadratic. Recall tunes with
    ``n_probe`` (= n_centroids recovers exact brute force over a
    partitioned corpus). Complements ``rp_lsh_topk``: IVF adapts to the
    data distribution (trained buckets), LSH is data-independent.
    """
    from pyspark.sql import Window

    from .relational import spread

    centroids = ivf_train(
        corpus, dim, id_col=id_col, vec_col=vec_col,
        n_centroids=n_centroids, iters=iters, approx_rows=approx_rows,
    )

    # coalesce(-1) makes the join key provably non-nullable: otherwise the
    # inner join infers isnotnull(cid), which gets pushed below spread()'s
    # exchange and forces a SECOND full evaluation of the assign UDF (one
    # pre-shuffle for the filter, one post-shuffle for the projection).
    inverted = spread(corpus).select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("__cvec"),
        F.coalesce(
            ivf_assign_udf(centroids, dim)(F.col(vec_col)), F.lit(-1)
        ).alias("cid"),
    )
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        F.explode(
            ivf_probe_udf(centroids, dim, n_probe)(F.col(vec_col))
        ).alias("cid"),
    )
    scored = (
        inverted.join(F.broadcast(probes), "cid")
        .where(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("cand_id").alias(id_col),
            np_cosine(round_to)(F.col("__cvec"), F.col("__qvec")).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", id_col, "cos_sim")
    )


def standardize_embeddings(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Per-DIMENSION standardization of an embedding column:
    ``z_i = (x_i - mean_i) / std_i`` with corpus-wide mean/std per
    coordinate — the whitening step before cosine/k-means when raw
    dimensions carry wildly different scales (a dominant dimension
    otherwise owns every distance). Zero-variance dimensions map to 0
    (no information, no division blowup).

    Determinism: mean and E[x^2] accumulate in exact DECIMAL (the
    label_centroid_similarity discipline — a raw double sum depends on
    partition completion order), std = sqrt(E[x^2] - mean^2)
    (population form), and each output coordinate rounds to
    ``round_to``; the DuckDB oracle reproduces the identical math.

    Scale shape: one posexplode pass into a (pos, value) aggregation —
    map-side combinable, 'dim' output rows — broadcast back as an
    ordered stats array; the transform itself is a row-local zip. Two
    linear passes total, no corpus-wide window or sort.
    """
    stats = (
        df.select(F.posexplode(_d(F.col(vec_col))).alias("pos", "v"))
        .groupBy("pos")
        .agg(
            (
                F.sum(F.col("v").cast("decimal(38,28)")).cast("double")
                / F.count(F.lit(1))
            ).alias("m"),
            (
                F.sum((F.col("v") * F.col("v")).cast("decimal(38,28)"))
                .cast("double")
                / F.count(F.lit(1))
            ).alias("m2"),
        )
        .select(
            "pos",
            "m",
            F.sqrt(F.greatest(F.col("m2") - F.col("m") * F.col("m"), F.lit(0.0))).alias(
                "sd"
            ),
        )
    )
    ordered = stats.agg(
        F.array_sort(F.collect_list(F.struct("pos", "m", "sd"))).alias("sm")
    ).select(
        F.transform(F.col("sm"), lambda s: s.getField("m")).alias("__means"),
        F.transform(F.col("sm"), lambda s: s.getField("sd")).alias("__sds"),
    )
    withstats = df.crossJoin(F.broadcast(ordered))
    z = F.zip_with(
        F.zip_with(
            _d(F.col(vec_col)),
            F.col("__means"),
            lambda x, m: x - m,
        ),
        F.col("__sds"),
        lambda c, s: F.round(
            F.when(s > 0.0, c / s).otherwise(F.lit(0.0)), round_to
        ),
    )
    return withstats.select(
        F.col(id_col), z.alias("z_embedding")
    )


def semantic_decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """SEMANTIC benchmark decontamination: flag corpus items whose
    embedding is too close to ANY eval-set embedding — the
    paraphrase-robust complement to n-gram decontamination
    (``dedup.decontaminate``), which a reworded or translated eval
    leak walks straight past while its embedding barely moves.

    Scale shape mirrors the n-gram version exactly: the eval side is
    small by definition, so it BROADCASTS and the corpus is one
    linear scan — per row, max cosine against the broadcast matrix
    (here a cross join + max-aggregate over |eval| rows per corpus
    row; swap in a blocked-matmul Pandas stage if the eval set grows
    to many thousands). No shuffle of the corpus beyond its scan.

    Returns one row per corpus vector: ``(id_col, max_eval_sim,
    nearest_eval_id, contaminated)`` — the audit columns a removal
    pass filters on. Ties on the rounded max resolve to the lowest
    eval id, so output is deterministic and oracle-comparable. The
    per-row max is a groupBy (NOT a window over the cross join): the
    scored rows for one corpus row are partition-local, so the
    map-side partial aggregate collapses |corpus| x |eval| rows back
    to |corpus| before anything shuffles.
    """
    from .relational import spread

    ev = eval_set.select(
        F.col(id_col).alias("__eval_id"), F.col(vec_col).alias("__evec")
    )
    scored = (
        spread(corpus.select(F.col(id_col), F.col(vec_col)))
        .crossJoin(F.broadcast(ev))
        .select(
            id_col,
            "__eval_id",
            F.round(cosine(F.col(vec_col), F.col("__evec")), round_to).alias(
                "__sim"
            ),
        )
    )
    # min of (-sim, eval_id): highest similarity, lowest eval id on
    # ties. The NEGATION rides the similarity (always a double), never
    # the id — negating the id silently casts string ids to NULL
    # doubles and the tiebreak (and the matched id itself) vanishes.
    best = scored.groupBy(id_col).agg(
        F.min(
            F.struct(
                (-F.col("__sim")).alias("ns"),
                F.col("__eval_id").alias("eid"),
            )
        ).alias("b")
    )
    return best.select(
        id_col,
        (-F.col("b.ns")).alias("max_eval_sim"),
        F.col("b.eid").alias("nearest_eval_id"),
        (-F.col("b.ns") >= threshold).alias("contaminated"),
    )


def covariance_cells(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 8,
) -> DataFrame:
    """Corpus-wide covariance matrix of an embedding column as
    ``(i, j, cov)`` cells over the upper triangle (i <= j) — the
    sufficient statistic for PCA/whitening/decorrelation.

    Scale shape — ONE scan, ZERO joins: the d(d+1)/2 coordinate
    products of each vector are generated ROW-LOCALLY (a nested
    ``transform`` over the array plus one explode), so nothing ever
    shuffles vectors or self-joins on the id; the only exchange is the
    map-side-combinable aggregation down to d(d+1)/2 cells. Contrast
    the naive formulation — explode to (id, i, v) and self-join on id —
    which shuffles n*d rows to produce the same partial products this
    plan derives in place.

    Determinism: per-cell product sums and per-dimension mean sums
    accumulate in exact DECIMAL (order-independent under any
    partitioning), the final ``cov = E[xy] - mean_i * mean_j`` uses the
    population form, rounded to ``round_to`` — the exact math a DuckDB
    oracle replays.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    pair_structs = F.expr(
        f"""flatten(transform({vec_col}, (x, i) ->
                transform(slice({vec_col}, i + 1, {dim} - i), (y, j) ->
                    struct(i AS i, i + j AS j,
                           CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)
                                AS DECIMAL(38,28)) AS p))))"""
    )
    sums = (
        df.select(F.explode(pair_structs).alias("c"))
        .select(
            F.col("c.i").cast("bigint").alias("i"),
            F.col("c.j").cast("bigint").alias("j"),
            F.col("c.p").alias("p"),
        )
        .groupBy("i", "j")
        .agg(F.sum("p").cast("double").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    means = (
        df.select(F.posexplode(v).alias("pos", "x"))
        .groupBy("pos")
        .agg(
            (
                F.sum(F.col("x").cast("decimal(38,28)")).cast("double")
                / F.count(F.lit(1))
            ).alias("m")
        )
    )
    mi = means.select(F.col("pos").cast("bigint").alias("i"), F.col("m").alias("m_i"))
    mj = means.select(F.col("pos").cast("bigint").alias("j"), F.col("m").alias("m_j"))
    return (
        sums.join(F.broadcast(mi), "i")
        .join(F.broadcast(mj), "j")
        .select(
            "i",
            "j",
            F.round(
                F.col("s") / F.col("n") - F.col("m_i") * F.col("m_j"), round_to
            ).alias("cov"),
        )
    )


def pca_whiten(
    df: DataFrame,
    dim: int,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eps: float = 1e-9,
    round_to: int = 6,
) -> DataFrame:
    """PCA whitening: project embeddings onto the top-``k`` principal
    components scaled to unit variance — the decorrelation transform
    SemDeDup-style pipelines apply before cosine thresholds so no
    single correlated direction dominates every distance.

    Bounded-driver-loop design (the IVF-trainer / BPE / logistic-GD
    pattern): the driver holds only the d x d covariance (built by
    ``covariance_cells`` — one distributed scan) and its eigenpairs; the
    projection itself runs as JVM ``aggregate``/``zip_with`` expressions
    against the (k x d) LITERAL whitening matrix, so the corpus-sized
    pass is codegen, not Python. Eigenvector sign is fixed by making
    each component's largest-|coefficient| entry positive (eigh returns
    an arbitrary sign; without the convention two runs could emit
    mirrored projections).

    Returns (id_col, z) with ``z`` the k-dim whitened array, each
    coordinate rounded to ``round_to``.
    """
    import numpy as np

    cells = covariance_cells(
        df, dim, id_col=id_col, vec_col=vec_col, round_to=12
    ).collect()
    cov = np.zeros((dim, dim))
    for r in cells:
        cov[r.i, r.j] = r.cov
        cov[r.j, r.i] = r.cov
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:k]
    # rank guard: a component whose eigenvalue sits below a RELATIVE
    # tolerance of the spectrum is numerical noise (rounded-covariance
    # residue), and 1/(sqrt(eps)+eps) would amplify it ~1e9x into the
    # output — emit exact 0.0 for that coordinate instead, keeping the
    # k-dim output shape stable while confining whitening to the
    # effective rank
    tol = float(max(vals.max(), 0.0)) * 1e-10
    comps = []
    for rank, idx in enumerate(order):
        vec = vecs[:, idx]
        if vals[idx] <= tol:
            comps.append([0.0] * len(vec))
            continue
        if abs(vec.min()) > abs(vec.max()):
            vec = -vec
        scale = 1.0 / float(np.sqrt(max(vals[idx], 0.0)) + eps)
        comps.append((vec * scale).tolist())

    means_row = (
        df.select(F.posexplode(F.col(vec_col)).alias("pos", "x"))
        .groupBy("pos")
        .agg(
            (
                F.sum(F.col("x").cast("decimal(38,28)")).cast("double")
                / F.count(F.lit(1))
            ).alias("m")
        )
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("__pm"))
        .select(
            F.transform(F.col("__pm"), lambda s: s.getField("m")).alias("__mean")
        )
    )
    centered = F.zip_with(
        F.transform(F.col(vec_col), lambda x: x.cast("double")),
        F.col("__mean"),
        lambda x, m: x - m,
    )
    z = F.array(
        *[
            F.round(
                F.aggregate(
                    F.zip_with(
                        centered,
                        F.array(*[F.lit(float(w)) for w in comp]),
                        lambda x, w: x * w,
                    ),
                    F.lit(0.0),
                    lambda acc, t: acc + t,
                ),
                round_to,
            )
            for comp in comps
        ]
    )
    return df.crossJoin(F.broadcast(means_row)).select(
        id_col, z.alias("z")
    )


def rrf_fuse(
    ranked: "Sequence[DataFrame]",
    id_col: str = "vec_id",
    query_col: str = "query_id",
    rank_col: str = "rank",
    k: int = 60,
    round_to: int = 8,
) -> DataFrame:
    """Reciprocal-rank fusion of per-query candidate rankings:
    ``score(d) = sum over signals of 1 / (k + rank_signal(d))``
    (Cormack et al., SIGIR 2009) — the standard way a hybrid retrieval
    stack merges a lexical ranking with a vector ranking without
    score calibration (ranks are comparable where raw scores are not;
    ``k`` damps the head so one signal's #1 can't always dominate).

    Each input frame carries (query_col, id_col, rank_col) with ranks
    1-based; candidates missing from a signal simply contribute no
    term. Engine-portable determinism: each reciprocal term is rounded
    then accumulated in exact DECIMAL, so the fused score is identical
    under any partitioning and any signal arrival order — with 3+
    signals a raw double sum would depend on partial-aggregation
    order.

    Scale: a by-name union of the (already small) per-query top-N
    frames and ONE map-side-combinable aggregation keyed on
    (query, candidate) — cost is bounded by signals x queries x N,
    independent of corpus size.
    """
    from .relational import union_all

    tagged = union_all(
        [r.select(query_col, id_col, rank_col) for r in ranked]
    )
    term = F.round(
        F.lit(1.0) / (F.lit(float(k)) + F.col(rank_col)), 12
    ).cast("decimal(18,12)")
    return tagged.groupBy(query_col, id_col).agg(
        F.round(F.sum(term).cast("double"), round_to).alias("rrf_score"),
        F.count(F.lit(1)).cast("bigint").alias("n_signals"),
    )


def covariance_cells_arrow(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 8,
) -> DataFrame:
    """Arrow partial-Gram covariance — the HIGH-DIMENSION scale tier of
    :func:`covariance_cells`. The exact tier explodes d(d+1)/2 product
    structs per row, which is the right trade at d=64 (2080 structs)
    but not at d=768+ (295k structs per row dwarf the vector itself);
    here each Arrow batch contributes ONE partial-sufficient-statistics
    row — ``n``, the d coordinate sums, and the flattened d*d Gram
    X^T X computed as a single numpy matmul — and batches reduce to
    cells via one exploded aggregation of batch-count rows (thousands,
    not corpus-sized).

    The trade, stated: partial Gram sums are FLOAT (numpy accumulation
    order varies with batch boundaries), so results are reproducible
    only to float tolerance, not bit-exact — use the decimal-exact
    tier where an oracle or cross-run hash must match (the
    np_cosine-vs-HOF precedent: Arrow for throughput, HOF/decimal for
    bit-exactness). Agreement is asserted to 1e-6 in tests.
    """
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("n", LongType()),
            StructField("sums", ArrayType(DoubleType())),
            StructField("gram", ArrayType(DoubleType())),
        ]
    )

    def partial(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            yield pd.DataFrame(
                {
                    "n": [len(pdf)],
                    "sums": [X.sum(axis=0).tolist()],
                    "gram": [(X.T @ X).ravel().tolist()],
                }
            )

    parts = df.select(vec_col).mapInPandas(partial, schema)
    totals = parts.agg(
        F.sum("n").alias("__n"),
        F.array(
            *[F.sum(F.element_at("sums", i + 1)) for i in range(dim)]
        ).alias("__sums"),
    )
    gram_cells = (
        parts.select(F.posexplode("gram").alias("flat", "g"))
        .groupBy("flat")
        .agg(F.sum("g").alias("s"))
        .select(
            (F.col("flat") / dim).cast("bigint").alias("i"),
            (F.col("flat") % dim).cast("bigint").alias("j"),
            "s",
        )
        .where(F.col("i") <= F.col("j"))
    )
    return gram_cells.crossJoin(F.broadcast(totals)).select(
        "i",
        "j",
        F.round(
            F.col("s") / F.col("__n")
            - (F.element_at("__sums", (F.col("i") + 1).cast("int")) / F.col("__n"))
            * (F.element_at("__sums", (F.col("j") + 1).cast("int")) / F.col("__n")),
            round_to,
        ).alias("cov"),
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search"): the memory tier of the ANN stack. IVF
# prunes WHICH vectors a query scans; PQ shrinks WHAT each scanned
# vector costs — dim floats become m uint8 codes (64-dim float32 =
# 256 B -> 8 B at m=8), so a 100 TB embedding corpus's index fits in
# RAM and the scan reads codes, never raw vectors. Distances come from
# per-query lookup tables (ADC: asymmetric distance computation), one
# numpy gather per candidate instead of a dim-length dot product.
# ---------------------------------------------------------------------------


def pq_train(
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 3,
    sample_size: int = 65536,
) -> list[list[list[float]]]:
    """Train the PQ codebooks: the vector splits into ``m`` equal
    subspaces (``dim % m == 0``), each with its own ``n_codes``-entry
    Euclidean k-means codebook trained on a bounded, deterministic
    sample — the same bounded-driver-loop design as :func:`ivf_train`
    (one TakeOrdered seeded-md5-uniform sample job, never an id prefix
    — :func:`_train_sample`; local numpy Lloyd, first-rows init, empty
    clusters keep their previous centroid, no RNG). The fixed 65536
    default sample already covers the uint8-capped ``n_codes <= 256``
    codebooks at >250 points/code. Returns
    ``codebooks[sub][code] -> list[dsub floats]``."""
    if dim % m != 0:
        raise ValueError(f"pq_train: dim {dim} not divisible by m {m}")
    x = _train_sample(corpus, id_col, vec_col, sample_size, op="pq_train")
    return _pq_lloyd(x, m, n_codes, iters)


def _pq_lloyd(
    x: np.ndarray, m: int, n_codes: int, iters: int
) -> list[list[list[float]]]:
    """Local per-subspace Lloyd over an in-driver sample (shared by
    pq_train and ivfpq_train's residual codebooks): first-DISTINCT-rows
    init, empty clusters keep their previous centroid, stable argmin
    ties — fully deterministic (no RNG).

    Init rows are deduplicated per subspace in first-occurrence order
    (ADVICE r8): initializing two centroids from identical rows freezes
    them forever — the stable argmin always assigns to the lower code
    id, the empty-cluster rule preserves the twin, and codebook
    capacity is silently wasted where it needn't be. A subspace with
    only ``u < n_codes`` DISTINCT sample rows pads its init by cycling
    those u rows — the padded twins stay frozen, but that subspace
    cannot meaningfully use more than u centroids anyway, and padding
    locally keeps the codebook tensor rectangular WITHOUT shrinking
    the code budget of richer subspaces."""
    n_codes = min(n_codes, len(x))
    dsub = x.shape[1] // m
    books: list[list[list[float]]] = []
    for s in range(m):
        xs = x[:, s * dsub : (s + 1) * dsub]
        # first-occurrence-order distinct rows (np.unique sorts
        # lexically, so re-sort the survivor indices to restore the
        # deterministic first-rows ordering), cycle-padded if scarce
        _, first_idx = np.unique(xs, axis=0, return_index=True)
        distinct = xs[np.sort(first_idx)]
        reps = -(-n_codes // len(distinct))  # ceil
        cents = np.concatenate([distinct] * reps)[:n_codes].copy()
        for _ in range(iters):
            # chunked squared-L2 assignment (expansion trick; stable
            # argmin — lowest code id wins ties) + scatter-add update:
            # the r10 scaled sample makes even the n x 256 block and
            # the per-code Python scan worth bounding
            assign = _l2_argmin_chunked(xs, cents)
            _mean_update(cents, xs, assign)
        books.append([[float(v) for v in c] for c in cents])
    return books


def _codebook_tensor(codebooks: list[list[list[float]]]) -> np.ndarray:
    """(m, n_codes, dsub) tensor — the closure constant the PQ UDFs
    broadcast (pickled once per executor)."""
    return np.asarray(codebooks, dtype=np.float64)


def _pq_code_matrix(cb: np.ndarray, xs: np.ndarray) -> np.ndarray:
    """(n, m) uint8 nearest-code matrix: one (batch, dsub) x (dsub,
    n_codes) matmul per subspace — never an interpreted per-row loop;
    lowest code wins ties (stable argmin)."""
    m, n_codes, dsub = cb.shape
    codes = np.empty((len(xs), m), dtype=np.uint8)
    for s in range(m):
        sub = xs[:, s * dsub : (s + 1) * dsub]
        d2 = (
            (sub * sub).sum(axis=1, keepdims=True)
            - 2.0 * sub @ cb[s].T
            + (cb[s] * cb[s]).sum(axis=1)[None, :]
        )
        codes[:, s] = np.argmin(d2, axis=1)
    return codes


def pq_encode_udf(codebooks: list[list[list[float]]], dim: int):
    """Arrow-batched PQ encoding into the PACKED layout: each vector's
    m nearest-code ids as an m-BYTE binary value (uint8 per code —
    hence the n_codes <= 256 guard), so the materialized index is
    literally m bytes/vector, not an array<int> that merely stands in
    for one."""
    from pyspark.sql.functions import pandas_udf

    cb = _codebook_tensor(codebooks)
    m, n_codes, dsub = cb.shape
    if n_codes > 256:
        raise ValueError(
            f"pq_encode: n_codes {n_codes} > 256 cannot pack into uint8 "
            "codes — use <= 256 codes per subspace (the standard PQ8 "
            "layout) or add more subspaces instead"
        )

    @pandas_udf("binary")
    def encode(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="object")
        codes = _pq_code_matrix(cb, _stack(vecs, m * dsub))
        return pd.Series([c.tobytes() for c in codes])

    return encode


def _unpack_codes(col: "pd.Series", m: int) -> np.ndarray:
    """(n, m) uint8 matrix from a packed binary codes column — one
    frombuffer over the concatenated batch, no per-row object churn."""
    if not len(col):
        return np.empty((0, m), dtype=np.uint8)
    return np.frombuffer(
        b"".join(bytes(c) for c in col), dtype=np.uint8
    ).reshape(-1, m)


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode the corpus into PQ codes: ``(id_col, codes binary)`` —
    LITERALLY m bytes per vector (packed uint8 codes, n_codes <= 256),
    one map-side Arrow pass, no shuffle: the materialized index a
    100 TB deployment writes once and scans forever (64-dim float32 =
    256 B shrinks 16-32x on disk and in memory)."""
    dim = len(codebooks) * len(codebooks[0][0])
    return corpus.select(
        F.col(id_col),
        pq_encode_udf(codebooks, dim)(F.col(vec_col)).alias("codes"),
    )


def pq_adc_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Approximate top-k by asymmetric distance (ADC): each query
    precomputes a (m, n_codes) table of squared L2 distances from its
    RAW subvectors to every codebook entry; a candidate's approximate
    distance is then m table lookups summed — the query side stays
    unquantized (asymmetric), halving the quantization error of
    code-vs-code comparison.

    Scale shape: the bounded query set's tables broadcast inside the
    UDF closure; one Arrow-batched mapInPandas pass over the CODES
    index scores all queries via a single numpy gather per subspace —
    a linear scan of m-byte codes, the same exact-tier linearity class
    as knn_cosine_bruteforce but over 32x smaller rows and with O(m)
    per pair instead of O(dim). Each batch emits only its PER-QUERY
    top-k candidates (ADVICE r8: the full |Q| x N cross product
    shuffled even though only |Q| x k rows survive the window), so
    the exchange feeding the global rank window is bounded by
    |Q| x k x n_batches rows — exact, because a global top-k row is
    necessarily a top-k row of its own batch under the same
    (adist, cand_id) total order, and self-rows are excluded BEFORE
    the per-batch cut so they cannot displace a real candidate.
    Returns (query_id, rank, id_col, adist); ranking ascending adist
    with the id tiebreak. The planted-duplicate property: an EXACT
    copy of a query vector achieves the minimum possible ADC distance
    (its codes are per-subspace argmins), so top-1 recall of planted
    copies is certain up to full m-code ties — asserted in tests."""
    from pyspark.sql import Window

    cb = _codebook_tensor(codebooks)
    m, n_codes, dsub = cb.shape
    dim = m * dsub
    qrows = queries.select(
        F.col(id_col).alias("__qid"), _d(F.col(vec_col)).alias("__qv")
    ).collect()
    if not qrows:
        raise ValueError("pq_adc_topk: empty query set")
    qids = np.asarray([r["__qid"] for r in qrows], dtype=np.int64)
    qx = np.asarray([r["__qv"] for r in qrows], dtype=np.float64)
    # (n_queries, m, n_codes) ADC tables
    luts = np.empty((len(qids), m, n_codes), dtype=np.float64)
    for s in range(m):
        sub = qx[:, s * dsub : (s + 1) * dsub]
        luts[:, s, :] = (
            (sub * sub).sum(axis=1, keepdims=True)
            - 2.0 * sub @ cb[s].T
            + (cb[s] * cb[s]).sum(axis=1)[None, :]
        )

    out_schema = "query_id long, cand_id long, adist double"

    def scan(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            codes = _unpack_codes(pdf["codes"], m)
            # gather: dists[q, row] = sum_s luts[q, s, codes[row, s]]
            d = np.zeros((len(qids), len(ids)), dtype=np.float64)
            for s in range(m):
                d += luts[:, s, :][:, codes[:, s]]
            d = np.round(d, round_to)
            # per-batch partial top-k per query under the global
            # (adist, cand_id) total order: argpartition narrows to a
            # k-sized pool, lexsort breaks adist ties exactly as the
            # rank window will. Self-rows mask out first so a query's
            # own code row never occupies one of its k batch slots.
            out_q: list[np.ndarray] = []
            out_c: list[np.ndarray] = []
            out_d: list[np.ndarray] = []
            for qi, qid in enumerate(qids):
                keep = ids != qid
                cand_ids, cand_d = ids[keep], d[qi, keep]
                take = min(k, len(cand_ids))
                if take == 0:
                    continue
                # exact under boundary ties: every global-top-k row has
                # adist <= the batch's k-th smallest adist, so keep ALL
                # rows at or under that threshold (however many tie)
                # and lexsort only the pool — O(n) select + O(pool log
                # pool) sort
                thresh = np.partition(cand_d, take - 1)[take - 1]
                pool = np.flatnonzero(cand_d <= thresh)
                sel = pool[np.lexsort((cand_ids[pool], cand_d[pool]))][:take]
                out_q.append(np.full(take, qid, dtype=np.int64))
                out_c.append(cand_ids[sel])
                out_d.append(cand_d[sel])
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "cand_id": np.concatenate(out_c),
                    "adist": np.concatenate(out_d),
                }
            )

    scored = (
        # a NULL id would turn the batch's id column into float64 in
        # pandas: rounded ids above 2**53, the NULL as INT64_MIN
        corpus_codes.select(F.col(id_col), "codes")
        .where(F.col(id_col).isNotNull())
        .mapInPandas(scan, out_schema)
        .where(F.col("cand_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", F.col("cand_id").alias(id_col), "adist")
    )


def _exact_rerank_shortlist(
    corpus: DataFrame,
    queries: DataFrame,
    shortlist_pairs: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    round_to: int,
) -> DataFrame:
    """Shared rerank tail of the PQ / IVF-PQ production compositions:
    the (query_id, id_col) shortlist joins back to the raw corpus
    (broadcast — |queries| x shortlist rows, never the corpus) and
    exact squared-L2 ranks the top ``k`` with the id tiebreak."""
    from pyspark.sql import Window

    cand = corpus.select(F.col(id_col), _d(F.col(vec_col)).alias("__cv"))
    qv = queries.select(
        F.col(id_col).alias("query_id"), _d(F.col(vec_col)).alias("__qv")
    )
    diff2 = F.zip_with(
        F.col("__cv"), F.col("__qv"), lambda a, b: (a - b) * (a - b)
    )
    d2 = F.round(
        F.aggregate(diff2, F.lit(0.0), lambda acc, v: acc + v), round_to
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("dist2"), F.asc(id_col))
    return (
        F.broadcast(shortlist_pairs.select("query_id", id_col))
        .join(cand, id_col)
        .join(F.broadcast(qv), "query_id")
        .select("query_id", id_col, d2.alias("dist2"))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", id_col, "dist2")
    )


def pq_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    shortlist: int = 50,
    round_to: int = 6,
) -> DataFrame:
    """The production PQ composition: ADC proposes a ``shortlist`` per
    query from the codes index, raw vectors dispose — the shortlist
    joins back to the corpus (broadcast: |queries| x shortlist rows)
    and exact squared-L2 re-ranks the top ``k``. Quantization error
    then only costs RECALL at the shortlist boundary, never precision
    of the returned ranking (measured on this corpus: ADC-only
    recall@5 0.72 at m=32, shortlist-25 rerank 1.00 — the test pins
    it). The raw-vector read is |queries| x shortlist rows, not the
    corpus: the 100 TB scan still happens over m-byte codes."""
    codes = pq_encode(corpus, codebooks, id_col=id_col, vec_col=vec_col)
    sl = pq_adc_topk(
        codes, queries, codebooks, id_col=id_col, vec_col=vec_col,
        k=shortlist, round_to=round_to,
    )
    return _exact_rerank_shortlist(
        corpus, queries, sl, id_col, vec_col, k, round_to
    )


def ivfpq_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    shortlist: int = 50,
    n_centroids: int | None = None,
    n_probe: int = 4,
    m: int = 16,
    n_codes: int = 64,
    iters: int = 3,
    round_to: int = 6,
    approx_rows: int | None = None,
) -> DataFrame:
    """The COMPLETE production ANN serving path (the composition a
    100 TB deployment actually runs, Jegou et al. 2011 §IV-V): the
    IVF-PQ index proposes a ``shortlist`` per query — coarse lists
    prune WHICH vectors are scanned, packed residual codes shrink WHAT
    each scanned vector costs — and exact squared-L2 over raw vectors
    re-ranks the top ``k``. Quantization and list-pruning error then
    only cost RECALL at the shortlist boundary, never precision of the
    returned ranking; the raw-vector read is |queries| x shortlist
    rows (broadcast join-back), so the corpus-scale scan still touches
    only (cid, m-byte codes). Same contract as :func:`pq_rerank_topk`
    with the IVF-PQ proposer swapped in."""
    sl = ivfpq_topk(
        corpus, queries, dim, id_col=id_col, vec_col=vec_col,
        k=shortlist, n_centroids=n_centroids, n_probe=n_probe,
        m=m, n_codes=n_codes, iters=iters, round_to=round_to,
        approx_rows=approx_rows,
    )
    return _exact_rerank_shortlist(
        corpus, queries, sl, id_col, vec_col, k, round_to
    )


def ivfpq_train(
    corpus: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = None,
    m: int = 16,
    n_codes: int = 64,
    iters: int = 3,
    sample_size: int | None = None,
    approx_rows: int | None = None,
) -> tuple[list[tuple[int, list[float]]], list[list[list[float]]]]:
    """Train the composed IVF-PQ index (the production ANN layout:
    IVF prunes WHICH vectors a query scans, PQ shrinks WHAT each
    scanned vector costs): the IVF coarse quantizer via
    :func:`ivf_train`'s spherical k-means, then PQ codebooks over the
    RESIDUALS ``x - centroid(x)`` — residual magnitudes are a fraction
    of vector magnitudes, so the same code budget quantizes them far
    more finely (the classic Jegou et al. 2011 §IV coarse+fine
    construction). One bounded seeded-md5-uniform sample (the
    :func:`_train_sample` draw — never an id prefix) feeds both
    trainers; ``n_centroids=None`` auto-sizes from ``approx_rows`` and
    ``sample_size=None`` scales with the quantizer, both per
    :func:`ivf_train`'s contract; everything is deterministic (no
    RNG)."""
    if dim % m != 0:
        raise ValueError(f"ivfpq_train: dim {dim} not divisible by m {m}")
    n_centroids = _resolve_n_centroids(n_centroids, approx_rows)
    sample_size = _train_sample_size(sample_size, n_centroids)
    centroids = ivf_train(
        corpus, dim, id_col=id_col, vec_col=vec_col,
        n_centroids=n_centroids, iters=iters, sample_size=sample_size,
    )
    x = _train_sample(corpus, id_col, vec_col, sample_size, op="ivfpq_train")
    cmat = _centroid_matrix(centroids)
    cnorm = np.linalg.norm(cmat, axis=1)
    cn = (cmat / np.where(cnorm == 0.0, 1.0, cnorm)[:, None]).T
    assign = _cosine_argmax_chunked(x, cn)
    books = _pq_lloyd(x - cmat[assign], m, n_codes, iters)
    return centroids, books


def ivfpq_encode_udf(
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[list[float]]],
    dim: int,
):
    """Arrow-batched IVF-PQ encoding: assign each vector to its
    nearest centroid (cosine argmax, the ivf_assign convention), then
    PQ-encode the RESIDUAL against the shared residual codebooks.
    Returns struct<cid bigint, codes binary> per vector (m PACKED
    uint8 codes) — the complete index entry, one map-side pass."""
    from pyspark.sql.functions import pandas_udf

    cmat = _centroid_matrix(centroids)
    cnorm = np.linalg.norm(cmat, axis=1)
    cn = (cmat / np.where(cnorm == 0.0, 1.0, cnorm)[:, None]).T
    cb = _codebook_tensor(codebooks)
    m, n_codes, dsub = cb.shape

    if n_codes > 256:
        raise ValueError(
            f"ivfpq_encode: n_codes {n_codes} > 256 cannot pack into "
            "uint8 codes — use <= 256 codes per subspace"
        )

    @pandas_udf("struct<cid: bigint, codes: binary>")
    def encode(vecs: pd.Series) -> pd.DataFrame:
        if len(vecs) == 0:
            return pd.DataFrame({"cid": [], "codes": []})
        xs = _stack(vecs, dim)
        cid = _cosine_argmax_chunked(xs, cn)
        codes = _pq_code_matrix(cb, xs - cmat[cid])
        return pd.DataFrame(
            {"cid": cid.astype(np.int64), "codes": [c.tobytes() for c in codes]}
        )

    return encode


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_centroids: int | None = None,
    n_probe: int = 4,
    m: int = 16,
    n_codes: int = 64,
    iters: int = 3,
    round_to: int = 6,
    approx_rows: int | None = None,
) -> DataFrame:
    """Approximate top-k over the composed IVF-PQ index: corpus
    vectors live as (cid, 16 small-int codes); each query probes its
    ``n_probe`` nearest centroid lists and scores ONLY those lists'
    candidates by residual ADC — the lookup table is built per
    (query, probed centroid) against ``q - centroid``, so the gather
    approximates the true squared L2 ``||q - x||^2 = ||(q - c) -
    (x - c)||^2`` within each list.

    Scale shape: encoding is one Arrow pass (map-side); the candidate
    join is keyed on cid and moves ~n_probe/n_centroids of the CODES
    (m small ints per vector, not dim floats); scoring is numpy
    gathers inside one Arrow stage; the only wide exchange is the
    per-query top-k window, and each Arrow batch pre-cuts to its
    per-query top-k (the pq_adc_topk bound: |Q| x k x n_batches rows
    reach the window, exact under boundary ties). Residual ADC lookup
    tables are built ON THE EXECUTORS from the broadcast (query
    vectors, centroids, codebooks) closure — O(|Q| x dim) shipped
    state — rather than materializing |Q| x n_probe x m x n_codes
    driver-side tables into the closure, which grows to hundreds of
    MB once the query set scales with the corpus (the r9 growing-
    query probe's regime). Ranking ascends approximate distance with
    the id tiebreak. For exact-precision results compose with
    :func:`ivfpq_rerank_topk`'s shortlist pattern. The DEFAULT
    ``n_centroids=None`` sizes the quantizer to the corpus via
    :func:`auto_n_centroids` from the ``approx_rows`` hint (caller
    stats / ``io.table_row_hint``) — fixed lists are the measured 32x
    growing-workload knee (tail 1.63 vs 1.08 sqrt-scaled —
    SCALE_SLOPE_r09_ivfpq_scaling.json, re-measured through this
    default path in r10: tail 1.03); pass an explicit int only to pin
    a known-good geometry. ``n_probe`` stays an explicit recall/
    latency dial: measured under the auto default, FIXED n_probe=4
    does NOT lose recall when lists grow (tighter lists shrink
    residuals and the ADC-precision gain outweighs coverage —
    NPROBE_PROBE_r10.json: auto-K at p=4 reads 0.237 recall / 1.38s
    vs fixed-16's 0.213 / 2.78s); raise it or compose with
    :func:`ivfpq_rerank_topk` when an application needs recall.

    This convenience form trains + encodes inline; the production
    lifecycle factors through :func:`ivfpq_train` (or
    :func:`load_quantizer`) -> :func:`ivfpq_encode` (write the codes
    store ONCE) -> :func:`ivfpq_topk_from_codes` (serve every query
    batch from the store without touching raw vectors) — the same
    encode/serve split as the PQ tier's pq_encode / pq_adc_topk."""
    centroids, books = ivfpq_train(
        corpus, dim, id_col=id_col, vec_col=vec_col,
        n_centroids=n_centroids, m=m, n_codes=n_codes, iters=iters,
        approx_rows=approx_rows,
    )
    codes = ivfpq_encode(
        corpus, centroids, books, id_col=id_col, vec_col=vec_col
    )
    return ivfpq_topk_from_codes(
        codes, queries, centroids, books, id_col=id_col, vec_col=vec_col,
        k=k, n_probe=n_probe, round_to=round_to,
    )


def ivfpq_encode(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode the corpus into the IVF-PQ index rows ``(id_col, cid,
    codes binary)`` — one map-side Arrow pass, no shuffle: the store a
    100 TB deployment writes once (parquet next to the
    :func:`save_quantizer` manifest) and serves forever through
    :func:`ivfpq_topk_from_codes`. Appending a new batch is just
    encoding that batch with the FROZEN quantizer (a trivial monoid —
    the streaming-maintenance test pins it)."""
    from .relational import spread

    dim = len(codebooks) * len(codebooks[0][0])
    enc = ivfpq_encode_udf(centroids, codebooks, dim)
    # coalesce(-1): provably non-null join key (the ivf_topk precedent
    # — otherwise the pushed isnotnull filter re-evaluates the UDF)
    return spread(corpus).select(
        F.col(id_col),
        enc(F.col(vec_col)).alias("__e"),
    ).select(
        id_col,
        F.coalesce(F.col("__e.cid"), F.lit(-1)).alias("cid"),
        F.col("__e.codes").alias("codes"),
    )


def ivfpq_topk_from_codes(
    corpus_codes: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_probe: int = 4,
    round_to: int = 6,
    codes_fingerprint: str | None = None,
) -> DataFrame:
    """Serve IVF-PQ top-k from a persisted/accumulated codes store
    (``(id_col, cid, codes)`` — :func:`ivfpq_encode`'s output, read
    back from parquet or folded across arriving batches) with a
    trained quantizer (in-memory or :func:`load_quantizer`): the
    scoring tail of :func:`ivfpq_topk`, bit-identical output, raw
    vectors never touched.

    ``codes_fingerprint`` is the vintage guard (VERDICT r10 #1): pass
    the quantizer fingerprint the codes store was ENCODED with (the
    :func:`write_codes_store` manifest records it) and serving fails
    loudly when the quantizer handed in here is a different vintage —
    codes are meaningless under any codebook other than the one that
    produced them, and with a versioned store old codes + a refreshed
    quantizer can otherwise coexist silently. The check is a local
    sha256 over the (small) coefficient lists — no Spark job."""
    from pyspark.sql import Window

    from .relational import tiny_frame

    if codes_fingerprint is not None:
        serving = quantizer_fingerprint(codebooks, centroids)
        if serving != codes_fingerprint:
            raise ValueError(
                "ivfpq_topk_from_codes: quantizer/codes vintage "
                f"mismatch — the codes store was encoded under "
                f"{codes_fingerprint[:12]}… but the quantizer passed "
                f"for serving fingerprints {serving[:12]}…; re-encode "
                "the corpus with the current quantizer (or serve with "
                "the vintage that produced these codes)"
            )

    cmat = _centroid_matrix(centroids)
    cb = _codebook_tensor(codebooks)
    m_, n_codes_, dsub = cb.shape

    inverted = corpus_codes.select(
        F.col(id_col).alias("cand_id"), "cid", "codes"
    )

    qrows = queries.select(
        F.col(id_col).alias("__qid"), _d(F.col(vec_col)).alias("__qv")
    ).collect()
    if not qrows:
        raise ValueError("ivfpq_topk_from_codes: empty query set")
    qids = np.asarray([r["__qid"] for r in qrows], dtype=np.int64)
    qx = np.asarray([r["__qv"] for r in qrows], dtype=np.float64)
    cnorm = np.linalg.norm(cmat, axis=1)
    cn = (cmat / np.where(cnorm == 0.0, 1.0, cnorm)[:, None]).T
    order = np.argsort(-(qx @ cn), axis=1, kind="stable")[
        :, : min(n_probe, cmat.shape[0])
    ]
    # the probed (query, cid) pairs ride a broadcast frame; the LUTs
    # themselves are computed lazily per group on the executors
    probe_rows = [
        (int(qid), int(cid))
        for qi, qid in enumerate(qids)
        for cid in order[qi]
    ]
    probes = tiny_frame(
        corpus_codes.sparkSession, probe_rows, "query_id long, cid long"
    )
    qidx = {int(qid): i for i, qid in enumerate(qids)}

    out_schema = "query_id long, cand_id long, adist double"

    sub_idx = np.arange(m_)[:, None]
    cb_sq = np.asarray([(cb[s] * cb[s]).sum(axis=1) for s in range(m_)])

    def score(batches):
        # per-task LUT cache: each (query, probed cid) table is built
        # once per task from the residual q - c (m x n_codes doubles),
        # bounded by the probed-pair count this task actually sees
        lut_cache: dict[tuple[int, int], np.ndarray] = {}

        def lut_for(q: int, c: int) -> np.ndarray:
            key = (q, c)
            lut = lut_cache.get(key)
            if lut is None:
                qres = qx[qidx[q]] - cmat[c]
                rsub = qres.reshape(m_, dsub)
                lut = (
                    (rsub * rsub).sum(axis=1, keepdims=True)
                    - 2.0 * np.einsum("sd,skd->sk", rsub, cb)
                    + cb_sq
                )
                lut_cache[key] = lut
            return lut

        for pdf in batches:
            if not len(pdf):
                continue
            codes = _unpack_codes(pdf["codes"], m_)
            ids = pdf["cand_id"].to_numpy(dtype=np.int64)
            gathered = np.empty(len(pdf), dtype=np.float64)
            # vectorized per (query, probed list): one gather over all
            # of that group's candidates, not a python loop per row.
            # The same group index drives the per-query top-k cut below
            # (O(n) total — a per-query boolean mask would re-scan the
            # batch |Q| times, the same order as the gather itself).
            groups = pdf.groupby(["query_id", "cid"], sort=False).indices
            per_query: dict[int, list[np.ndarray]] = {}
            for (q, c), idx in groups.items():
                lut = lut_for(int(q), int(c))
                gathered[idx] = lut[sub_idx, codes[idx].T].sum(axis=0)
                per_query.setdefault(int(q), []).append(idx)
            gathered = np.round(gathered, round_to)
            # per-batch partial top-k per query (exact under boundary
            # ties — the pq_adc_topk threshold-cut argument); self-rows
            # were already excluded by the upstream filter
            out_q: list[np.ndarray] = []
            out_c: list[np.ndarray] = []
            out_d: list[np.ndarray] = []
            for q, idx_list in per_query.items():
                rows = np.concatenate(idx_list)
                take = min(k, len(rows))
                cd, ci = gathered[rows], ids[rows]
                thresh = np.partition(cd, take - 1)[take - 1]
                pool = np.flatnonzero(cd <= thresh)
                sel = pool[np.lexsort((ci[pool], cd[pool]))][:take]
                out_q.append(np.full(take, q, dtype=np.int64))
                out_c.append(ci[sel])
                out_d.append(cd[sel])
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "cand_id": np.concatenate(out_c),
                    "adist": np.concatenate(out_d),
                }
            )

    scored = (
        inverted.join(F.broadcast(probes), "cid")
        .where(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", "codes", "cid")
        .mapInPandas(score, out_schema)
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", F.col("cand_id").alias(id_col), "adist")
    )


def quantizer_fingerprint(
    codebooks: list[list[list[float]]],
    centroids: list[tuple[int, list[float]]] | None = None,
) -> str:
    """Deterministic content fingerprint of a trained quantizer: sha256
    over the geometry header plus the float64 coefficient bytes of the
    codebooks (and coarse centroids, cid-ascending). Two quantizers
    encode identical codes iff their coefficients are bit-identical, so
    this is exactly the identity the lifecycle needs — the manifest
    records it at save time, :func:`load_quantizer` re-derives it from
    the loaded parquet and fails loudly on mismatch (bit-rot / partial
    overwrite), and operators can cheaply check that a codes store and
    a quantizer belong together before serving."""
    import hashlib

    m = len(codebooks)
    n_codes = len(codebooks[0])
    dsub = len(codebooks[0][0])
    h = hashlib.sha256()
    h.update(f"pq:{m}:{n_codes}:{dsub}".encode())
    h.update(np.asarray(codebooks, dtype=np.float64).tobytes())
    if centroids is not None:
        h.update(f":ivf:{len(centroids)}".encode())
        for cid, vec in sorted(centroids):
            h.update(str(int(cid)).encode())
            h.update(np.asarray(vec, dtype=np.float64).tobytes())
    return h.hexdigest()


def quantizer_stale(
    manifest: dict,
    current_rows: int | None = None,
    drift_df: "DataFrame | None" = None,
    growth_factor: float = 4.0,
    min_cos: float = 0.8,
) -> dict:
    """The train-once-index-forever REFRESH RULE (VERDICT r9 'What's
    missing' #2: persistence without an expiry policy): given a saved
    quantizer's manifest, decide whether the index needs retrain +
    re-encode. Two triggers, both from signals the repo already owns:

    - **corpus growth**: the manifest's ``training_rows`` (the corpus
      row hint recorded at :func:`save_quantizer` time) vs
      ``current_rows`` (the same hint today — catalog stats /
      ``io.table_row_hint``, never a count job). A corpus past
      ``growth_factor`` x its training-time size has sqrt(N)-rule
      centroids sized for a smaller world (auto_n_centroids doubles
      every 4x), so 4.0 is the default trip point.
    - **distribution drift**: ``drift_df`` is the output of
      :func:`centroid_drift` (the per-label centroid-drift
      operator) over the corpus — any label whose snapshot-halves
      centroid cosine falls below ``min_cos`` (its ``drifted`` verdict)
      means the quantizer was trained on vectors that no longer look
      like the corpus. The collect is |labels| rows — bounded.

    Returns ``{"stale": bool, "reasons": [str, ...]}`` — empty reasons
    means serve on. The refresh itself is the existing lifecycle run
    again: retrain (:func:`ivfpq_train` with the new hint) ->
    :func:`save_quantizer` (new manifest) -> re-encode
    (:func:`ivfpq_encode`); the old store keeps serving until the swap.
    A manifest without ``training_rows`` (pre-r10) never trips the
    growth rule — drift still applies. The lifecycle test pins that a
    grown+drifted store flags stale and that the refresh restores
    recall."""
    reasons: list[str] = []
    trained = int(manifest.get("training_rows", 0) or 0)
    if trained > 0 and current_rows is not None and current_rows > (
        growth_factor * trained
    ):
        reasons.append(
            f"corpus_grew: {current_rows} rows > {growth_factor}x the "
            f"{trained} recorded at training"
        )
    if drift_df is not None:
        rows = drift_df.collect()
        # indeterminate report rows fail LOUDLY (ADVICE r10): an empty
        # snapshot half or a NULL cosine means the drift verdict is
        # undefined — treating it as "not drifted" is a silent false
        # negative in the retrain decision this function owns
        broken = [
            r["label"]
            for r in rows
            if r["centroid_cos"] is None
            or int(r["n_a"] or 0) == 0
            or int(r["n_b"] or 0) == 0
        ]
        if broken:
            raise ValueError(
                "quantizer_stale: drift report is indeterminate for "
                f"labels {sorted(broken)!r} (empty snapshot half or "
                "NULL centroid cosine — non-numeric ids fed to "
                "centroid_drift? route snapshots through snapshot_drift)"
            )
        drifted = [
            (r["label"], float(r["centroid_cos"]))
            for r in rows
            if r["centroid_cos"] < min_cos
        ]
        for label, cos in sorted(drifted):
            reasons.append(
                f"centroid_drift: label {label!r} halves-cosine {cos} "
                f"< {min_cos}"
            )
    return {"stale": bool(reasons), "reasons": reasons}


def refresh_quantizer(
    spark: "SparkSession",  # noqa: F821
    path: str,
    corpus: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 16,
    n_codes: int = 64,
    iters: int = 3,
    approx_rows: int | None = None,
) -> dict:
    """Execute the refresh :func:`quantizer_stale` calls for — the
    other half of the lifecycle API: retrain the IVF-PQ quantizer on
    the CURRENT corpus (through the r10 defaults: auto-sized
    ``n_centroids`` and a scaled seeded-hash sample, both from
    ``approx_rows``) and publish it at ``path`` as a NEW VINTAGE with
    an atomic pointer flip (r11, VERDICT r10 #1 — the pre-r11 version
    overwrote the store in place, leaving concurrent readers a
    load-error window and the swap ordering to caller prose):

    1. the new quantizer lands in ``path/v=<fingerprint16>/`` via
       :func:`save_quantizer_version` — the live store is never
       touched;
    2. ``path/_CURRENT.json`` is flipped LAST via ``os.replace``
       (atomic on POSIX), so a concurrent :func:`load_quantizer`
       observes either the old vintage or the new one, complete —
       never a partial store;
    3. old vintages stay on disk serving in-flight readers until
       :func:`gc_quantizer_vintages` collects them.

    A flat pre-r11 store at ``path`` migrates transparently: its files
    are left untouched (they ARE the old vintage for readers mid-
    refresh) and the pointer, which load prefers, appears beside them.
    Returns ``{"manifest", "centroids", "codebooks"}`` (the manifest
    carries ``vintage``) so the caller can immediately
    :func:`ivfpq_encode` the re-encode pass; pair the codes store with
    this vintage via :func:`write_codes_store`, and serving enforces
    the pairing (:func:`ivfpq_topk_from_codes` ``codes_fingerprint``).
    """
    centroids, books = ivfpq_train(
        corpus, dim, id_col=id_col, vec_col=vec_col,
        m=m, n_codes=n_codes, iters=iters, approx_rows=approx_rows,
    )
    manifest = save_quantizer_version(
        spark, path, books, centroids=centroids,
        training_rows=approx_rows or 0,
    )
    return {"manifest": manifest, "centroids": centroids, "codebooks": books}


def save_quantizer(
    spark: "SparkSession",  # noqa: F821
    path: str,
    codebooks: list[list[list[float]]],
    centroids: list[tuple[int, list[float]]] | None = None,
    training_rows: int = 0,
) -> dict:
    """Persist a trained PQ / IVF-PQ quantizer so the
    train-once-index-forever story survives the driver (VERDICT r8 #2:
    ``pq_train``/``ivfpq_train`` returned driver-side Python lists that
    died with the session, while the packed codes index they produced
    is write-once-scan-forever).

    Layout (the io.write_layout_manifest convention — a JSON manifest
    beside self-describing parquet):

    - ``codebooks.parquet``: long-form ``(sub, code, pos, v)`` — one
      row per codebook coefficient;
    - ``centroids.parquet`` (IVF-PQ only): long-form ``(cid, pos, v)``
      for the coarse quantizer;
    - ``_QUANTIZER_MANIFEST.json``: kind (``pq`` / ``ivfpq``) and the
      geometry (m, n_codes, dsub, dim, n_centroids) that
      :func:`load_quantizer` validates against the parquet contents.

    Coefficients are float64 end to end (parquet DOUBLE), so a
    saved-then-loaded quantizer encodes BIT-IDENTICAL codes — asserted
    by the round-trip test.

    Lifecycle metadata (r10, VERDICT r9 #4): ``training_rows`` records
    the corpus row HINT at training time (pass
    ``io.table_row_hint`` / the catalog stat — 0 means unknown) and
    ``fingerprint`` the :func:`quantizer_fingerprint` content hash;
    :func:`quantizer_stale` reads the former to decide WHEN a grown or
    drifted corpus needs retrain + re-encode, and
    :func:`load_quantizer` re-derives the latter from the loaded
    parquet to fail loudly on bit-rot or partial overwrite. Returns
    the manifest dict.

    Write path (r12, VERDICT r11 #6): the coefficients are
    DRIVER-SIDE Python lists (O(K·m·dsub) floats — kilobytes), so the
    parquet lands via direct Arrow writes, not Spark jobs: the
    pre-r12 two ``coalesce(1).write`` jobs cost ~10 s of fixed
    session/job overhead per save (the lifecycle probe's dominant
    ``save`` stage) to move data a single file write moves in
    milliseconds. ``spark.read.parquet`` reads the single-file layout
    identically, so :func:`load_quantizer` is unchanged; ``spark``
    stays in the signature for the load path and API stability."""
    import json as _json
    import os as _os
    import shutil as _shutil

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    m = len(codebooks)
    n_codes = len(codebooks[0])
    dsub = len(codebooks[0][0])
    manifest = {
        "kind": "ivfpq" if centroids is not None else "pq",
        "m": m,
        "n_codes": n_codes,
        "dsub": dsub,
        "dim": m * dsub,
        "n_centroids": len(centroids) if centroids is not None else 0,
        "training_rows": int(training_rows),
        "fingerprint": quantizer_fingerprint(codebooks, centroids),
    }
    _os.makedirs(path, exist_ok=True)

    def _write(name: str, cols: dict, schema: _pa.Schema) -> None:
        target = _os.path.join(path, name)
        if _os.path.isdir(target):  # pre-r12 Spark-directory layout
            _shutil.rmtree(target)
        _pq.write_table(_pa.table(cols, schema=schema), target)

    _write(
        "codebooks.parquet",
        {
            "sub": [s for s, book in enumerate(codebooks)
                    for cent in book for _ in cent],
            "code": [c for book in codebooks
                     for c, cent in enumerate(book) for _ in cent],
            "pos": [p for book in codebooks
                    for cent in book for p in range(len(cent))],
            "v": [float(v) for book in codebooks
                  for cent in book for v in cent],
        },
        _pa.schema([("sub", _pa.int32()), ("code", _pa.int32()),
                    ("pos", _pa.int32()), ("v", _pa.float64())]),
    )
    if centroids is not None:
        if any(len(vec) != m * dsub for _, vec in centroids):
            raise ValueError(
                "save_quantizer: centroid dim does not match codebook "
                f"geometry m*dsub = {m * dsub}"
            )
        _write(
            "centroids.parquet",
            {
                "cid": [int(cid) for cid, vec in centroids for _ in vec],
                "pos": [p for _, vec in centroids for p in range(len(vec))],
                "v": [float(v) for _, vec in centroids for v in vec],
            },
            _pa.schema([("cid", _pa.int64()), ("pos", _pa.int32()),
                        ("v", _pa.float64())]),
        )
    with open(_os.path.join(path, "_QUANTIZER_MANIFEST.json"), "w") as fh:
        _json.dump(manifest, fh, indent=1)
    return manifest


def posix_pointer_commit(store: str, payload: dict) -> None:
    """Default pointer-commit for :func:`save_quantizer_version`: write
    ``_CURRENT.json`` beside the vintages via tmp + fsync +
    ``os.replace`` — atomic on POSIX filesystems, readers see the old
    pointer or the new one, never a torn file. This is the ONE
    filesystem-specific mechanism in the vintage lifecycle (r12,
    VERDICT r11 #2): an object-store deployment swaps in a
    conditional-PUT commit (S3 If-Match / GCS generation precondition
    on the pointer object) through the ``pointer_commit`` seam and the
    vintage logic is untouched — vintage directories are immutable
    once written and the pointer is the only mutated object."""
    import json as _json
    import os as _os

    tmp = _os.path.join(store, "_CURRENT.json.tmp")
    with open(tmp, "w") as fh:
        _json.dump(payload, fh, indent=1)
        fh.flush()
        _os.fsync(fh.fileno())
    _os.replace(tmp, _os.path.join(store, "_CURRENT.json"))


def save_quantizer_version(
    spark: "SparkSession",  # noqa: F821
    store: str,
    codebooks: list[list[list[float]]],
    centroids: list[tuple[int, list[float]]] | None = None,
    training_rows: int = 0,
    pointer_commit=posix_pointer_commit,
) -> dict:
    """Versioned :func:`save_quantizer` (r11, VERDICT r10 #1): the
    quantizer lands in its own vintage directory
    ``store/v=<fingerprint[:16]>/`` (the content hash names the
    vintage, so a re-save of identical coefficients is idempotent and
    two distinct quantizers can never collide), and ONLY THEN the
    one-line pointer ``store/_CURRENT.json`` is flipped via
    ``os.replace`` — atomic on POSIX, so a concurrent
    :func:`load_quantizer` sees either the previous vintage or the
    new one complete, never a torn store. The pointer records the
    fingerprint too; load cross-checks it against the vintage's
    manifest so a hand-edited or mis-paired pointer fails loudly.
    Returns the manifest dict with ``vintage`` added.

    Atomicity scope (r12, VERDICT r11 #2 — the commit mechanism is now
    a SEAM): ``pointer_commit(store, payload)`` owns the one mutating
    write of the flip. The default :func:`posix_pointer_commit` is
    tmp + fsync + ``os.replace`` (atomic on POSIX filesystems — local
    disk, NFS with standard semantics — the layout this repo tests).
    An S3-class deployment passes a conditional-PUT commit instead
    (If-Match on the pointer's etag / generation precondition); the
    vintage layout needs no other change because vintage directories
    are immutable once written and the pointer is the only mutated
    object. A commit that RAISES (lost a compare-and-swap race, torn
    upload rejected) leaves the store serving the previous vintage —
    the new vintage directory is complete on disk and a retry is just
    another pointer commit."""
    import os as _os

    fp = quantizer_fingerprint(codebooks, centroids)
    vintage = f"v={fp[:16]}"
    manifest = save_quantizer(
        spark,
        _os.path.join(store, vintage),
        codebooks,
        centroids=centroids,
        training_rows=training_rows,
    )
    pointer_commit(store, {"vintage": vintage, "fingerprint": fp})
    return {**manifest, "vintage": vintage}


def gc_quantizer_vintages(
    store: str, keep: int = 1, grace_sec: float = 0.0
) -> list[str]:
    """Garbage-collect superseded quantizer vintages under a versioned
    ``store``: the CURRENT vintage (the ``_CURRENT.json`` pointer's
    target) is never touched; of the remaining ``v=*`` directories the
    ``keep`` most recently modified survive (grace for in-flight
    readers that resolved the pointer just before a flip) and the rest
    are deleted. Returns the deleted vintage names. Raises if the
    store has no pointer — a flat store has no vintages to collect.

    Concurrency contract (r12, ADVICE r11): ``keep=0`` with
    ``grace_sec=0`` must NOT race a concurrent
    :func:`save_quantizer_version` — a fully-written new vintage whose
    pointer flip has not landed yet is neither "current" nor otherwise
    protected, so an unlucky gc can delete it and leave the subsequent
    flip dangling. Either run gc from the refresh driver itself
    (after the flip — the lifecycle-probe pattern), keep
    ``keep >= 1``, or pass ``grace_sec`` so vintages modified within
    the window are skipped regardless of ``keep`` — any one of the
    three closes the race."""
    import json as _json
    import os as _os
    import shutil as _shutil
    import time as _time

    pointer_path = _os.path.join(store, "_CURRENT.json")
    try:
        with open(pointer_path) as fh:
            current = _json.load(fh)["vintage"]
    except (OSError, KeyError, ValueError) as e:
        raise ValueError(
            f"gc_quantizer_vintages: {store!r} has no readable "
            f"_CURRENT.json pointer — not a versioned store ({e})"
        ) from e
    vintages = [
        d
        for d in _os.listdir(store)
        if d.startswith("v=")
        and d != current
        and _os.path.isdir(_os.path.join(store, d))
    ]
    vintages.sort(
        key=lambda d: _os.path.getmtime(_os.path.join(store, d)),
        reverse=True,
    )
    now = _time.time()
    removed = []
    for d in vintages[max(keep, 0):]:
        full = _os.path.join(store, d)
        if grace_sec > 0 and now - _os.path.getmtime(full) < grace_sec:
            continue  # possibly a flip-in-flight vintage — see docstring
        _shutil.rmtree(full)
        removed.append(d)
    return removed


def write_codes_store(
    codes: DataFrame,
    path: str,
    quantizer_manifest: dict,
    mode: str = "overwrite",
) -> dict:
    """Persist an :func:`ivfpq_encode` codes store WITH its quantizer
    pairing (r11): the parquet lands first, then
    ``_CODES_MANIFEST.json`` records the fingerprint (and vintage, if
    versioned) of the quantizer that encoded it — manifest-beside-data,
    written last, the ``io.write_layout_manifest`` convention. Codes
    are meaningless under any other codebook, so the manifest is what
    lets :func:`read_codes_store` / :func:`ivfpq_topk_from_codes`
    refuse a mixed-vintage serve instead of returning garbage
    distances. ``mode='append'`` folds a new encoded batch into the
    store (the frozen-quantizer monoid) — the manifest must already
    match, enforced here.

    Crash ordering (r12, ADVICE r11): in ``mode='overwrite'`` the OLD
    manifest is DELETED before the parquet overwrite begins and the
    new manifest lands only after the overwrite completes — the
    manifest is the commit point. A crash mid-overwrite therefore
    leaves a manifest-less store that :func:`read_codes_store` fails
    LOUDLY on, never new-vintage codes validated by an old-vintage
    manifest (the silent mixed-vintage serve the fingerprint guard
    exists to prevent). Append mode needs no invalidation: a torn
    append leaves old-vintage codes plus a same-vintage partial file,
    wrong rows but never wrong-codebook distances — and the manifest
    it leaves behind still names the correct quantizer."""
    import json as _json
    import os as _os

    fp = quantizer_manifest.get("fingerprint")
    if not fp:
        raise ValueError(
            "write_codes_store: quantizer manifest has no fingerprint "
            "— save/load the quantizer through the store API first"
        )
    manifest_path = _os.path.join(path, "_CODES_MANIFEST.json")
    if mode == "append" and _os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            existing = _json.load(fh).get("quantizer_fingerprint")
        if existing != fp:
            raise ValueError(
                "write_codes_store: appending codes encoded under "
                f"{fp[:12]}… to a store encoded under "
                f"{str(existing)[:12]}… — mixed vintages; re-encode "
                "the full corpus instead"
            )
    if mode == "overwrite" and _os.path.exists(manifest_path):
        _os.remove(manifest_path)  # invalidate FIRST — see docstring
    codes.write.mode(mode).parquet(_os.path.join(path, "codes.parquet"))
    manifest = {
        "quantizer_fingerprint": fp,
        "quantizer_vintage": quantizer_manifest.get("vintage"),
    }
    with open(manifest_path, "w") as fh:
        _json.dump(manifest, fh, indent=1)
    return manifest


def read_codes_store(
    spark: "SparkSession",  # noqa: F821
    path: str,
    quantizer_manifest: dict | None = None,
) -> DataFrame:
    """Read a :func:`write_codes_store` store back for serving. Pass
    the quantizer manifest you intend to serve with and the vintage
    pairing is enforced here (mismatch → ValueError before any job
    runs); without it the caller owns the check — pass the recorded
    ``quantizer_fingerprint`` to :func:`ivfpq_topk_from_codes` as
    ``codes_fingerprint`` instead."""
    import json as _json
    import os as _os

    with open(_os.path.join(path, "_CODES_MANIFEST.json")) as fh:
        manifest = _json.load(fh)
    recorded = manifest.get("quantizer_fingerprint")
    if quantizer_manifest is not None:
        serving = quantizer_manifest.get("fingerprint")
        if serving != recorded:
            raise ValueError(
                "read_codes_store: quantizer/codes vintage mismatch — "
                f"store encoded under {str(recorded)[:12]}…, serving "
                f"quantizer fingerprints {str(serving)[:12]}…; refresh "
                "left this codes store behind (re-encode, or load the "
                "matching vintage)"
            )
    return spark.read.parquet(_os.path.join(path, "codes.parquet"))


def load_quantizer(
    spark: "SparkSession",  # noqa: F821
    path: str,
) -> dict:
    """Load a quantizer written by :func:`save_quantizer` (flat store)
    or :func:`save_quantizer_version` (versioned store — a
    ``_CURRENT.json`` pointer beside ``v=<fingerprint>/`` vintage
    directories), validating the manifest geometry against the parquet
    contents (a truncated or mixed-up store must fail loudly at LOAD
    time, not as silent garbage codes at encode time). When the
    pointer exists it WINS over any flat files beside it (a migrated
    store keeps its pre-versioning files as the old vintage); the
    pointer's fingerprint must match the vintage manifest's, so a
    hand-edited or torn pointer cannot silently serve the wrong
    vintage. Returns ``{"kind", "m", "n_codes", "dsub", "dim",
    "codebooks", "centroids"}`` (plus ``vintage`` for versioned
    stores) where ``codebooks`` / ``centroids`` plug directly into
    :func:`pq_encode`, :func:`pq_adc_topk`, :func:`ivfpq_encode_udf`
    et al."""
    import json as _json
    import os as _os

    vintage: str | None = None
    pointer_path = _os.path.join(path, "_CURRENT.json")
    if _os.path.exists(pointer_path):
        with open(pointer_path) as fh:
            pointer = _json.load(fh)  # JSONDecodeError IS a ValueError
        try:
            vintage = str(pointer["vintage"])
            pointed_fp = str(pointer["fingerprint"])
        except (KeyError, TypeError) as e:
            raise ValueError(
                f"load_quantizer: _CURRENT.json pointer malformed: {e}"
            ) from e
        loaded = load_quantizer(spark, _os.path.join(path, vintage))
        if loaded.get("fingerprint") != pointed_fp:
            raise ValueError(
                "load_quantizer: pointer/vintage fingerprint mismatch "
                f"— _CURRENT.json says {pointed_fp[:12]}…, vintage "
                f"{vintage} holds "
                f"{str(loaded.get('fingerprint'))[:12]}…"
            )
        return {**loaded, "vintage": vintage}

    with open(_os.path.join(path, "_QUANTIZER_MANIFEST.json")) as fh:
        manifest = _json.load(fh)  # JSONDecodeError IS a ValueError
    # every manifest defect normalizes to ValueError (the codec
    # dead-letter convention applied to the store): a corrupted JSON
    # that still parses must not escape as KeyError/TypeError
    try:
        m, n_codes, dsub = (
            int(manifest["m"]), int(manifest["n_codes"]), int(manifest["dsub"])
        )
        dim_v = int(manifest["dim"])
        kind = manifest["kind"]
        n_cent_v = int(manifest.get("n_centroids", 0))
    except (KeyError, TypeError, ValueError) as e:
        raise ValueError(
            f"load_quantizer: manifest malformed or missing fields: {e}"
        ) from e
    if min(m, n_codes, dsub) < 1 or kind not in ("pq", "ivfpq"):
        raise ValueError(
            f"load_quantizer: manifest malformed — m {m}, n_codes "
            f"{n_codes}, dsub {dsub}, kind {kind!r}"
        )
    if m * dsub != dim_v:
        raise ValueError(
            f"load_quantizer: manifest geometry inconsistent — m {m} x "
            f"dsub {dsub} != dim {dim_v}"
        )
    rows = spark.read.parquet(_os.path.join(path, "codebooks.parquet")).collect()
    if len(rows) != m * n_codes * dsub:
        raise ValueError(
            f"load_quantizer: codebooks.parquet has {len(rows)} "
            f"coefficients, manifest geometry needs {m * n_codes * dsub}"
        )
    cb = np.full((m, n_codes, dsub), np.nan, dtype=np.float64)
    for r in rows:
        cb[r["sub"], r["code"], r["pos"]] = r["v"]
    if np.isnan(cb).any():
        raise ValueError(
            "load_quantizer: codebooks.parquet is missing coefficients "
            "(duplicate or absent (sub, code, pos) cells)"
        )
    codebooks = [[[float(v) for v in cent] for cent in book] for book in cb]
    centroids: list[tuple[int, list[float]]] | None = None
    if kind == "ivfpq":
        crows = spark.read.parquet(
            _os.path.join(path, "centroids.parquet")
        ).collect()
        n_cent = n_cent_v
        if len(crows) != n_cent * m * dsub:
            raise ValueError(
                f"load_quantizer: centroids.parquet has {len(crows)} "
                f"coefficients, manifest needs {n_cent * m * dsub}"
            )
        cmat = np.full((n_cent, m * dsub), np.nan, dtype=np.float64)
        cids = sorted({r["cid"] for r in crows})
        if len(cids) != n_cent:
            raise ValueError(
                f"load_quantizer: {len(cids)} distinct centroid ids, "
                f"manifest needs {n_cent}"
            )
        cid_pos = {cid: i for i, cid in enumerate(cids)}
        for r in crows:
            cmat[cid_pos[r["cid"]], r["pos"]] = r["v"]
        if np.isnan(cmat).any():
            raise ValueError(
                "load_quantizer: centroids.parquet is missing coefficients"
            )
        centroids = [
            (int(cid), [float(v) for v in cmat[cid_pos[cid]]]) for cid in cids
        ]
    recorded = manifest.get("fingerprint")
    if recorded is not None:
        derived = quantizer_fingerprint(codebooks, centroids)
        if derived != recorded:
            raise ValueError(
                "load_quantizer: content fingerprint mismatch — the "
                "parquet coefficients do not match the manifest "
                f"(recorded {recorded[:12]}…, derived {derived[:12]}…); "
                "the store is bit-rotted or partially overwritten"
            )
    return {**manifest, "codebooks": codebooks, "centroids": centroids}


def contrastive_pairs(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k_pos: int = 1,
    k_neg: int = 5,
    round_to: int = 6,
) -> DataFrame:
    """Contrastive training-PAIR generation — the labeled dataset an
    InfoNCE/triplet embedding trainer consumes, produced in one pass:
    per query, the ``k_pos`` most-similar SAME-label vectors (the
    anchors' positives) and the ``k_neg`` most-similar DIFFERENT-label
    vectors (the hard negatives of :func:`hard_negatives`) — both arms
    ranked from ONE scored frame, partitioned by (query, is_positive),
    so the corpus is scanned once, not twice.

    Same exact-tier shape as :func:`cosine_topk` (broadcast bounded
    query set, one corpus pass, rounded-cosine + id tiebreak —
    deterministic and engine-independent); at corpus-scale query sets
    route candidates through ``rp_lsh_topk`` buckets first. Returns
    ``(query_id, query_label, is_positive, rank, vec_id, pair_label,
    cos_sim)`` with rank 1..k within each (query, arm).
    """
    from pyspark.sql import Window

    from .relational import spread

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        F.col(label_col).alias("query_label"),
    )
    c = spread(corpus.select(id_col, vec_col, label_col))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            "query_label",
            id_col,
            F.col(label_col).alias("pair_label"),
            (F.col(label_col) == F.col("query_label"))
            .cast("int")
            .alias("is_positive"),
            F.round(cosine(F.col(vec_col), F.col("__qvec")), round_to).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id", "is_positive").orderBy(
        F.desc("cos_sim"), F.asc(id_col)
    )
    k_for_arm = F.when(F.col("is_positive") == 1, F.lit(k_pos)).otherwise(
        F.lit(k_neg)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k_for_arm)
        .select(
            "query_id",
            "query_label",
            "is_positive",
            "rank",
            id_col,
            "pair_label",
            "cos_sim",
        )
    )
