"""General relational operators (SURVEY §2.2-2.7).

Each of these re-expresses a reference idiom as a single declarative
plan fragment:

- ``top_k_per_group`` — the reference's latest-version selection
  (rank window + filter + ``.first()`` driver pull, event_verify.py:36-41)
  without the driver round-trip, and with ``row_number`` for a
  deterministic single winner (``rank`` keeps ties — SURVEY §4.2.5).
- ``melt`` — the reference's string-templated ``stack`` selectExpr
  (event_verify.py:186-198) via the native ``unpivot``.
- ``counts_with_total`` — grouped counts with the denominator computed
  IN-PLAN (window or join) instead of repeated ``df.count()`` actions
  (event_verify.py:150,202,205,206 — SURVEY §4.2.2).
- ``union_all`` — ``unionByName`` fold replacing positional union chains
  (event_verify.py:212-214, 227-229).
- semi/anti join helpers for spec-vs-observed diffs (absent from the
  reference but the natural formulation of its conformance question).

All pure DataFrame API: Catalyst chooses hash vs sort-merge. AQE does
not split a skewed window partition: a hot group of a rank window is
bounded by Spark's Partial ``WindowGroupLimit`` (``top_k_per_group``),
a hot join key by ``salted_join``. ``broadcast`` hints are applied only
where a side is known-small. Two helpers sit at the edges of a plan:
``tiny_frame`` (driver-side rows in) and ``map_rows`` (the one per-row
Python pass).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

__all__ = [
    "top_k_per_group",
    "latest_per_group",
    "melt",
    "counts_with_total",
    "union_all",
    "missing_in",
    "present_in",
    "as_of_join",
    "scd2_join",
    "apply_cdc",
    "fuzzy_join_token_blocked",
    "resample_fill",
    "resample_interpolate",
    "snapshot_diff",
    "time_weighted_avg",
    "range_join",
    "sessionize",
    "pushdown_fence",
    "bloom_prune_join",
    "golden_records",
    "tiny_frame",
    "map_rows",
]


def spread(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Round-robin repartition before CPU-heavy per-row stages.

    A small input (one parquet file under maxPartitionBytes) arrives as
    ONE partition, serializing downstream hashing/tokenizing/vector
    math on a single core regardless of cluster size. One cheap shuffle
    of the narrow input buys full parallelism for the expensive stage —
    the classic fan-out-before-compute move. Defaults to the scheduler's
    defaultParallelism (total cores).
    """
    if partitions is None:
        partitions = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(partitions)


def tiny_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema_ddl: str
) -> DataFrame:
    """Small driver-side rows as a JVM ``LocalRelation`` typed by the
    DDL: one Arrow table, no Spark job to build, no Python worker to
    scan. A list-input ``createDataFrame`` or ``parallelize`` makes a
    Python RDD instead, whose every scan runs Python tasks (serially
    after a ``.coalesce(1)``). Each scan of the frame, a broadcast
    build included, runs min(rows, defaultParallelism) JVM tasks. The
    library builds no other frame from Python values; a test in
    ``tests/test_relational.py`` pins that."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(schema_ddl)
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)


def map_rows(
    df: DataFrame, fn: Callable[..., Iterable[tuple]], schema_ddl: str
) -> DataFrame:
    """One Arrow-batched Python pass: ``fn(*row)`` on every row of
    ``df`` (values in ``df``'s column order) returns zero or more output
    tuples in the DDL's column order, and the rows come back typed by
    the DDL. The helper owns the ``mapInArrow`` batch loop and the
    output batch, built from the DDL's Arrow schema. Values cross as
    Python objects both ways (``to_pylist`` in, typed Arrow arrays
    out), never through pandas: a ``long`` holding a NULL stays exact
    on either side instead of becoming float64, and a NULL arrives as
    ``None``. Every per-record Python pass in the
    library goes through here; only passes that vectorise across a
    whole batch call ``mapInPandas`` themselves, and a test in
    ``tests/test_relational.py`` pins that."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema_ddl)
    schema = to_arrow_schema(struct)

    def run(batches):
        import pyarrow as pa

        for batch in batches:
            rows = [
                out
                for row in zip(*(c.to_pylist() for c in batch.columns))
                for out in fn(*row)
            ]
            cols = list(zip(*rows, strict=True)) or [()] * len(schema)
            # from_pandas: a NaN output is NULL, as in pandas conversion
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(c, type=f.type, from_pandas=True)
                    for c, f in zip(cols, schema, strict=True)
                ],
                schema=schema,
            )

    run.__name__ = getattr(fn, "__name__", "map_rows")  # names the plan node
    return df.mapInArrow(run, struct)


def materialize_intermediate(
    df: DataFrame, storage_level=None, eager: bool = True
) -> DataFrame:
    """Materialize a multi-consumer intermediate (r13/r14 optimization
    rounds, guide §2.4/§5). Two modes:

    ``eager=True`` (default) — eager ``localCheckpoint``: a lazy
    ``persist()`` is NOT enough when the consumers are concurrent.
    Spark launches broadcast-exchange subqueries and AQE query stages
    as parallel futures at job start, and against a cold cache each
    future independently recomputes the whole producing subtree
    (measured on the BM25 tail: 8 racing stages of 7-13s executor-run
    apiece at sf0.1 — tools/query_profile.py). The eager
    ``localCheckpoint`` materializes ONCE before any consumer executes
    and replaces the lineage with a compact leaf, so consumers also
    stop re-planning (and re-printing) their own copies of the subtree.

    ``eager=False`` — plain lazy ``persist()``. Use this where the
    producing subtree is CHEAP relative to the eager checkpoint's
    fixed costs (one blocking Spark job at DataFrame-CONSTRUCTION time
    plus the block writes): r13 applied the eager form unconditionally
    and the driver's quiet 8-core bench proved three adopters slower
    for it (minhash 1.18→1.97s, tfidf 1.19→1.60s, ngram_jaccard
    1.62→1.80s at sf0.1 — VERDICT r13 #1); their intermediates are a
    single map-side-combined aggregate or a hash projection whose
    recompute race costs less than the checkpoint write, and their
    self-join consumers already share one subtree via ReusedExchange.
    Eager construction-time execution also means merely BUILDING the
    plan (explain, conditional composition) runs the corpus job —
    another reason cheap-subtree call sites stay lazy.

    Fault tolerance (VERDICT r13 #2 — the previous docstring misstated
    this): ``localCheckpoint`` TRUNCATES lineage and keeps blocks only
    on executors. Losing an executor mid-query loses blocks that can
    NOT be recomputed — downstream jobs FAIL with block-not-found, they
    do not silently recompute. On a static-allocation batch cluster
    that is the same failure class as losing shuffle output without an
    external shuffle service; on preemptible/dynamic-allocation
    clusters with executor churn it is a real reliability hazard. Set
    ``SPARK_GRAFT_EAGER_MATERIALIZE=0`` in the driver environment to
    force every call site back to the lazy ``persist()`` path (cached
    blocks then recompute from lineage on loss, degrading gracefully),
    or use ``sparkContext.setCheckpointDir`` + reliable ``checkpoint``
    in code paths that need both truncation and fault tolerance.

    Streaming frames cannot run eager actions — they always take the
    lazy persist (inside foreachBatch the frames are batch frames, so
    real micro-batch pipelines take the eager path).

    Pass ``storage_level`` (e.g. ``StorageLevel.DISK_ONLY``) for
    text-bearing intermediates whose bytes are corpus-sized — the
    dedup_spans discipline: per-executor local disk holds
    corpus/num_executors bytes, the same budget class as a shuffle,
    where pinning it in executor MEMORY would hold ~the corpus.
    """
    import os

    if eager and os.environ.get("SPARK_GRAFT_EAGER_MATERIALIZE", "1") == "0":
        eager = False
    if df.isStreaming or not eager:
        if storage_level is not None:
            return df.persist(storage_level)
        if df.isStreaming:
            from pyspark import StorageLevel

            return df.persist(StorageLevel.MEMORY_AND_DISK)
        # batch-lazy: the engine default (MEMORY_AND_DISK_DESER) — the
        # exact pre-r13 persist these call sites benched green with
        return df.persist()
    if storage_level is not None:
        return df.localCheckpoint(eager=True, storageLevel=storage_level)
    return df.localCheckpoint(eager=True)


def pushdown_fence(df: DataFrame) -> DataFrame:
    """Stop predicate pushdown below this point — a semantics-free
    NONDETERMINISTIC filter (``rand() >= -1``, always true): Catalyst
    must not reorder deterministic predicates across a nondeterministic
    one, so downstream filters stay ABOVE it (and above any exchange
    below it).

    Use directly after :func:`spread` when downstream filters are on
    HEAVY DERIVED columns (tokenize/regex pipelines): pushed-down, such
    a filter re-evaluates its whole expression tree in the scan stage —
    which for a small single-file input is ONE task, serializing the
    exact work spread() exists to parallelize (measured 4.1s -> ~1s on
    corpus_curation_pipeline at sf0.1). The cost is real and must be
    weighed: the fence blocks ALL pushdown, including scan-level
    row-group skipping — on a petabyte splittable scan you usually WANT
    cheap predicates at the scan, so fence only compute-heavy filter
    pipelines, or filter on raw columns before spread instead.

    The predicate is ``rand(seed) != -1``, not ``rand() >= -1``: the
    optimizer PROVES rand's [0, 1) range satisfies ``>= -1`` and
    deletes the fence entirely (verified against this Spark); the
    inequality form survives. Fixed seed keeps plans stable for the
    plan-shape regression tests."""
    return df.where(F.rand(42) != F.lit(-1.0))


def epoch_us(col: Column | str) -> Column:
    """Microseconds since epoch for either timestamp flavor.

    ``unix_micros`` only accepts TIMESTAMP (LTZ); our tables read as
    TIMESTAMP_NTZ (io.read_table), so cast first — wall-clock identity
    because read_table pins the session TZ to UTC.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


def top_k_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    k: int = 1,
    keep_rank: bool = False,
    rank_col: str = "rn",
) -> DataFrame:
    """Deterministic top-k rows per group via ``row_number``.

    The ``order_by`` list should include a unique tiebreaker column for
    full determinism (e.g. the primary key) — ``row_number`` over a
    non-unique ordering picks an arbitrary row among ties.

    Scale note: one shuffle on ``partition_by``. AQE does not split a
    skewed window partition; for ``k`` <= 1000
    (``spark.sql.optimizer.windowGroupLimitThreshold``) Spark's
    ``WindowGroupLimit`` pre-limits each map task to its local top-k
    per group before the shuffle, so a hot group's reducer receives
    at most ``map tasks * k`` rows. For k==1 with a single max column
    where ties must all survive, use ``latest_per_group`` (a max
    window, no sort).
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    out = df.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= k
    )
    return out if keep_rank else out.drop(rank_col)


def latest_per_group(
    df: DataFrame, group_cols: Sequence[str], version_col: str
) -> DataFrame:
    """Rows holding the max ``version_col`` per group (ties all kept —
    this is the reference's ``rank()==1`` semantics, event_verify.py:38-39,
    kept in-plan, no ``.first()`` driver pull).

    One max window: one exchange and no join, which matters for small
    inputs planned under several consumers. A NULL version never wins;
    a NULL group key is its own group.
    """
    mx = F.max(version_col).over(Window.partitionBy(*group_cols))
    out = df.withColumn("__mx", mx)
    return out.where(F.col(version_col) == F.col("__mx")).drop("__mx")


def melt(
    df: DataFrame,
    id_cols: Sequence[str],
    value_cols: Sequence[str] | None = None,
    var_name: str = "prop_name",
    value_name: str = "value",
) -> DataFrame:
    """Wide -> long unpivot (reference F14).

    The reference builds a ``stack(...)`` SQL string from ``df.columns``
    on the driver (event_verify.py:195-198); here the native ``unpivot``
    does it, with values cast to string first (the unpivot value column
    must share one type — the reference's ``cast("String")`` loop at
    :190). ``value_cols=None`` melts every non-id column, which handles
    the reference's dynamically-shaped wide spec (SURVEY §1.3).
    """
    if value_cols is None:
        value_cols = [c for c in df.columns if c not in set(id_cols)]
    casted = df.select(
        *[F.col(c) for c in id_cols],
        *[F.col(c).cast("string").alias(c) for c in value_cols],
    )
    return casted.unpivot(list(id_cols), list(value_cols), var_name, value_name)


def counts_with_total(
    df: DataFrame,
    group_cols: Sequence[str],
    total_over: Sequence[str],
    count_name: str = "count",
    total_name: str = "total_records",
) -> DataFrame:
    """Grouped counts plus a denominator over a coarser grouping, one plan.

    Replaces the reference's pattern of a separate
    ``groupBy(event).count()`` DataFrame joined back (event_verify.py:44-45,
    :101) and its repeated scalar ``count()`` actions (:202-206): a
    single aggregation then a window sum over the coarser key — one
    shuffle, map-side partial aggregation, no second scan.
    """
    counted = df.groupBy(*group_cols).agg(F.count(F.lit(1)).alias(count_name))
    w = Window.partitionBy(*total_over)
    return counted.withColumn(total_name, F.sum(count_name).over(w))


def union_all(dfs: Sequence[DataFrame]) -> DataFrame:
    """By-name union fold (reference U2/U3, positional ``union`` chains at
    event_verify.py:212-214/227-229). In the engine proper, per-group
    results never exist as separate DataFrames — this exists for API
    completeness and tests."""
    if not dfs:
        raise ValueError("union_all needs at least one DataFrame")
    return reduce(lambda a, b: a.unionByName(b), dfs)


def missing_in(
    expected: DataFrame, observed: DataFrame, on: Sequence[str]
) -> DataFrame:
    """Expected rows with no observed match (anti join) — 'spec'd but
    never seen'. The reference approximates this with a left join +
    null-count accounting (event_verify.py:120-129)."""
    return expected.join(observed, list(on), "left_anti")


def present_in(
    candidates: DataFrame, reference: DataFrame, on: Sequence[str]
) -> DataFrame:
    """Candidate rows that DO have a match (semi join) — no column
    pollution from the right side."""
    return candidates.join(reference, list(on), "left_semi")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    salt_buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with key salting for skew.

    A hot key (one value holding a large share of rows) lands an entire
    shuffle partition on one task. Salting splits each left key into
    ``salt_buckets`` random sub-keys and replicates every right row once
    per bucket, so a hot key spreads over ``salt_buckets`` tasks at the
    cost of a ``salt_buckets``-times-larger right side — use when the
    right side is small-to-medium and AQE's skew-join splitting isn't
    enough (it can't split a single key within one partition of a
    broadcast-ineligible join).

    ``rand``-based salt never leaves the plan, so results are exactly
    the plain join's — for LEFT-PRESERVING joins only: the right side
    is replicated once per bucket, so 'right'/'full'/'right_semi'
    variants would surface each unmatched right row ``salt_buckets``
    times (guarded below).
    """
    if how not in ("inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi", "semi", "left_anti", "leftanti", "anti"):
        raise ValueError(
            f"salted_join supports left-preserving joins only, got how={how!r}: "
            "unmatched right rows are replicated salt_buckets times"
        )
    salted_left = left.withColumn(
        "__salt", (F.rand(seed=42) * salt_buckets).cast("int")
    )
    salted_right = right.crossJoin(
        F.broadcast(
            left.sparkSession.range(salt_buckets).select(
                F.col("id").cast("int").alias("__salt")
            )
        )
    )
    return salted_left.join(salted_right, [on, "__salt"], how).drop("__salt")


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    value_cols: Sequence[str],
    right_tiebreak: str | None = None,
) -> DataFrame:
    """As-of join: for each left row, carry the values of the LATEST
    right row with ``right_time <= left_time`` for the same key
    (left-outer semantics: unmatched left rows keep NULLs).

    Spark has no native as-of join. The naive formulation — range
    join on ``key AND r.t <= l.t`` then top-1 — is a partial cross
    product: O(|left_k| x |right_k|) per key, catastrophic at scale.
    This implementation is the union-merge pattern instead: tag both
    sides, union, and ``last(value, ignorenulls) OVER (PARTITION BY key
    ORDER BY time ROWS UNBOUNDED PRECEDING)`` — one shuffle on the key,
    one sort, O(n log n) total, no blow-up however dense the right side.

    Right rows sort BEFORE left rows at equal timestamps, making the
    match inclusive (<=); ``right_tiebreak`` breaks equal-time right
    rows deterministically (highest wins).
    """
    value_cols = list(value_cols)
    overlap = set(value_cols) & set(left.columns)
    if overlap:
        raise ValueError(f"value_cols collide with left columns: {sorted(overlap)}")

    tb = F.col(right_tiebreak) if right_tiebreak else F.lit(0)
    left_tagged = (
        left.withColumn("__time", F.col(left_time))
        .withColumn("__side", F.lit(1))
        .withColumn("__tb", F.lit(None).cast("long"))
    )
    right_tagged = right.select(
        F.col(on),
        F.col(right_time).alias("__time"),
        F.lit(0).alias("__side"),
        tb.cast("long").alias("__tb"),
        *[F.col(v) for v in value_cols],
    )
    unioned = left_tagged.unionByName(right_tagged, allowMissingColumns=True)

    w = (
        Window.partitionBy(on)
        .orderBy(F.col("__time").asc(), F.col("__side").asc(), F.col("__tb").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = [
        F.last(F.when(F.col("__side") == 0, F.col(v)), ignorenulls=True)
        .over(w)
        .alias(v)
        for v in value_cols
    ]
    out = unioned.select(*left.columns, "__side", *filled).where(
        F.col("__side") == 1
    )
    return out.drop("__side")


def scd2_join(
    facts: DataFrame,
    dim_history: DataFrame,
    on: str,
    fact_time: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    attr_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Temporal dimension join against an SCD2 history table: attach
    the dimension attributes that were VALID AT each fact's event time
    (``valid_from <= t < valid_to``, NULL valid_to = current/open
    version) — the warehouse-standard "which segment was this customer
    in when the order was placed" operator. Left-outer semantics:
    facts before the first version or inside a history GAP keep NULLs.

    Built on :func:`as_of_join`'s union-merge (one key shuffle + sort,
    never the naive per-key cross product): the as-of match on
    ``valid_from`` finds the latest version STARTED at-or-before the
    fact, then attributes are nulled where the fact time has passed
    that version's ``valid_to`` (an expired version must not leak
    forward across a gap). For contiguous histories the null-out is a
    no-op; it exists exactly for gapped ones. Equal-``valid_from``
    duplicates resolve deterministically to the version with the
    latest ``valid_to`` (open-ended wins).

    ``attr_cols`` defaults to every dim column except the key and the
    two validity bounds.
    """
    if attr_cols is None:
        attr_cols = [
            c
            for c in dim_history.columns
            if c not in {on, valid_from, valid_to}
        ]
    attr_cols = list(attr_cols)
    # open-ended versions (NULL valid_to) carry a far-future SENTINEL,
    # not NULL: the as-of merge propagates values with
    # last(..., ignorenulls=True), so a NULL valid_to would be skipped
    # and the PREVIOUS version's expiry would leak onto facts matched
    # to the current version (observed: every open-version match
    # wrongly nulled). The sentinel also serves as the equal-valid_from
    # tiebreak — open-ended sorts highest and wins over a closed twin.
    dim = dim_history.withColumn(
        "__scd_to",
        F.coalesce(
            F.col(valid_to).cast("timestamp").cast("long"), F.lit(2**62)
        ),
    )
    out = as_of_join(
        facts,
        dim,
        on,
        fact_time,
        valid_from,
        value_cols=[*attr_cols, "__scd_to"],
        right_tiebreak="__scd_to",
    )
    expired = (
        F.col(fact_time).cast("timestamp").cast("long") >= F.col("__scd_to")
    )
    for c in attr_cols:
        out = out.withColumn(
            c, F.when(expired, F.lit(None)).otherwise(F.col(c))
        )
    return out.drop("__scd_to")


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket_width: int | float,
    on: Sequence[str] = (),
) -> DataFrame:
    """Interval join: pair each point row with every interval row (of
    the same ``on`` keys, if given) where ``start <= t < end`` —
    half-open, the convention that makes adjacent intervals partition
    time with no double-count.

    Spark plans the naive non-equi formulation as a nested-loop join —
    O(|points| x |intervals|) per key, unusable at scale. The scale
    shape here is bucket decomposition: every interval EXPLODES into
    the coarse time buckets it overlaps, each point lands in exactly
    one bucket, and the pairing becomes an equi-join on
    ``(on..., bucket)`` followed by the exact predicate. A (point,
    interval) pair can only meet in the point's own bucket, so no
    dedup is needed. Cost: one hash join keyed on time buckets
    (uniformly distributed — no skew key) plus ~(interval_length /
    bucket_width + 2) replica rows per interval; pick ``bucket_width``
    near the TYPICAL interval length so most intervals replicate into
    1-2 buckets while each bucket stays selective.

    Columns are numeric (epoch days / seconds / micros — keep values
    under 2^53 so the bucket division is exact in double). Rows with
    NULL point/bounds and degenerate intervals (``end <= start``)
    drop, matching the inner-join predicate semantics. Point and
    interval column names must not collide (beyond ``on``): the join
    returns both sides' columns.
    """
    if bucket_width <= 0:
        raise ValueError(f"bucket_width must be positive, got {bucket_width}")
    overlap = (set(points.columns) & set(intervals.columns)) - set(on)
    if overlap:
        raise ValueError(
            f"point/interval column names collide: {sorted(overlap)}"
        )
    t, s, e = F.col(point_col), F.col(start_col), F.col(end_col)
    w = F.lit(bucket_width)
    pb = points.withColumn(
        "__rj_bucket", F.floor(t / w).cast("bigint")
    )
    # the e > s guard also keeps F.sequence ascending (a descending
    # stop would otherwise generate a NEGATIVE-step bucket sequence)
    ib = intervals.where(s.isNotNull() & e.isNotNull() & (e > s)).withColumn(
        "__rj_bucket",
        F.explode(
            F.sequence(
                F.floor(s / w).cast("bigint"), F.floor(e / w).cast("bigint")
            )
        ),
    )
    return (
        pb.join(ib, [*on, "__rj_bucket"])
        .where((t >= s) & (t < e))
        .drop("__rj_bucket")
    )


def sessionize(
    df: DataFrame,
    key_cols: Sequence[str],
    time_col: str,
    gap_seconds: int,
    order_extra: Sequence[str] = (),
) -> DataFrame:
    """Assign gap-based session ids per key: a new session starts when
    the time since the previous row for the same key exceeds
    ``gap_seconds``. Adds a ``session_id`` column (1-based per key).

    The lag + running-sum-of-boundaries idiom: one shuffle on the key,
    one sort — the standard scalable sessionization (for streaming use
    ``session_window`` — streaming.py).
    """
    order = [F.col(time_col).asc()] + [F.col(c).asc() for c in order_extra]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    t = epoch_us(time_col)
    prev = F.lag(t).over(w)
    is_new = (
        prev.isNull() | ((t - prev) > gap_seconds * 1_000_000)
    ).cast("long")
    return df.withColumn(
        "session_id",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


def apply_cdc(
    snapshot: DataFrame,
    changes: DataFrame,
    key: str,
    op_col: str = "op",
    seq_col: str = "seq",
) -> DataFrame:
    """Apply a change-data-capture batch to a snapshot: the MERGE a
    warehouse runs per load. ``changes`` carries full rows plus an
    ``op_col`` ('I' insert / 'U' update / 'D' delete) and a
    monotonically increasing ``seq_col``; per key, only the LATEST
    change matters — an update after a delete re-creates the row, a
    delete last removes it. ``(key, seq)`` must be unique (the CDC
    source's log offset); ties would make the survivor undefined, so
    the latest-change window orders on seq alone and callers with
    composite versions pre-combine them into one sequence column.

    Plan: one window over the (small) change batch keyed+sorted per
    key, one left-anti join to drop touched keys from the snapshot,
    one union with the surviving upserts. The 100 TB snapshot is never
    shuffled beyond the anti join's key exchange; with both sides
    bucketed by key it is exchange-free.
    """
    latest = top_k_per_group(changes, [key], [F.desc(seq_col)], k=1)
    upserts = latest.where(F.col(op_col) != F.lit("D")).drop(op_col, seq_col)
    untouched = snapshot.join(
        latest.select(key).distinct(), [key], "left_anti"
    )
    return untouched.unionByName(upserts)


def fuzzy_join_token_blocked(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    max_dist: int = 2,
    min_token_len: int = 3,
) -> DataFrame:
    """Approximate string join (entity resolution / record linkage):
    pairs whose strings are within Levenshtein distance ``max_dist``,
    proposed by TOKEN BLOCKING — candidates must share at least one
    lowercased token of length >= ``min_token_len`` — and verified
    with the exact edit distance. Output carries both sides' columns
    plus ``edit_dist``.

    Blocking is part of the operator's CONTRACT, not an internal
    approximation to hide: recall is bounded by the premise that
    matching records share one clean token (true for names/addresses
    with per-token typos; false for single-token strings whose only
    token carries the typo — those need q-gram/segment blocking, a
    documented non-goal here). Precision is exact (every emitted pair
    passed the verifier). The oracle recomputes blocking + distance,
    so the contract itself is cross-engine verified.

    Scale shape: one token-keyed equi-join over (id, token) postings
    (the inverted-index pattern of jaccard_pairs), distinct candidate
    pairs, then the O(len^2) distance only on candidates. Stop-word-
    like hub tokens are the caller's pre-filter (same max_df argument
    as dedup); at 100 TB the candidate volume, not the verify, is the
    cost driver.
    """
    if max_dist < 0:
        raise ValueError("max_dist must be >= 0")

    def postings(df, col, idc):
        # explicit whitespace class == RE2's \s (excludes \x0B, which
        # Java's \s would also split on) — keeps the DuckDB oracle
        # twins byte-equivalent on every input (r13, VERDICT r12 #7)
        toks = F.filter(
            F.split(F.trim(F.lower(F.col(col))), r"[ \t\n\r\f]+"),
            lambda t: F.length(t) >= min_token_len,
        )
        return df.select(
            F.col(col).alias(idc), F.explode(toks).alias("__tok")
        ).distinct()

    lp = postings(left, left_col, "__l")
    rp = postings(right, right_col, "__r")
    cand = lp.join(rp, "__tok").select("__l", "__r").distinct()
    verified = cand.where(
        F.levenshtein(F.col("__l"), F.col("__r")) <= max_dist
    ).select(
        "__l",
        "__r",
        F.levenshtein(F.col("__l"), F.col("__r")).alias("edit_dist"),
    )
    return (
        left.join(verified, left[left_col] == verified["__l"])
        .join(right, verified["__r"] == right[right_col])
        .drop("__l", "__r")
    )


def resample_fill(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    step: str = "1 day",
    period: str = "day",
) -> DataFrame:
    """Regularize an irregular per-key time series: truncate
    observations to ``period``, generate the COMPLETE period grid from
    each key's first to last observation, and forward-fill gaps with
    the last observed value — the resample/ffill step every metric
    pipeline runs before windowed math (a gap would otherwise vanish
    from averages instead of carrying the prior reading).

    Within one period the LATEST observation wins (deterministic:
    ordered by raw ts). Returns ``(key, period_ts, value, observed)``
    with ``observed`` false on filled rows.

    Scale shape: grid generation is a row-local ``sequence`` explode
    per key (output bounded by the key's time span); the fill is one
    window per key ordered by the grid — state bounded by series
    length per key, the same envelope as sessionization. No global
    sort, no driver action.
    """
    t = F.date_trunc(period, F.col(ts_col))
    # latest observation per (key, period)
    obs = (
        df.select(
            F.col(key_col).alias("__key"),
            t.alias("__p"),
            F.col(ts_col).alias("__ts"),
            F.col(value_col).alias("__v"),
        )
        .withColumn(
            # value as the secondary key: two observations sharing one
            # timestamp would otherwise leave the winner to partition
            # order (run-to-run nondeterministic); with (ts, value)
            # equal the rows are interchangeable anyway
            "__rn",
            F.row_number().over(
                Window.partitionBy("__key", "__p").orderBy(
                    F.desc("__ts"), F.desc("__v")
                )
            ),
        )
        .where(F.col("__rn") == 1)
        .drop("__rn", "__ts")
    )
    spans = obs.groupBy("__key").agg(
        F.min("__p").alias("__lo"), F.max("__p").alias("__hi")
    )
    grid = spans.select(
        "__key",
        F.explode(
            F.sequence(F.col("__lo"), F.col("__hi"), F.expr(f"INTERVAL {step}"))
        ).alias("__p"),
    )
    joined = grid.join(obs, ["__key", "__p"], "left")
    w = (
        Window.partitionBy("__key")
        .orderBy("__p")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        F.col("__key").alias(key_col),
        F.col("__p").alias("period_ts"),
        F.last("__v", ignorenulls=True).over(w).alias(value_col),
        F.col("__v").isNotNull().alias("observed"),
    )


def resample_interpolate(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    step: str = "1 day",
    period: str = "day",
    scale: int = 6,
) -> DataFrame:
    """``resample_fill``'s sibling with LINEAR interpolation: gaps in
    the regularized per-key grid take the straight-line value between
    the surrounding observations instead of carrying the last reading
    — the gap-fill rule for continuous quantities (sensor readings,
    prices) where forward-fill introduces a step artifact
    (TimescaleDB's ``interpolate()``, Pandas ``interpolate('time')``).

    Interior gaps always have both neighbors because the grid spans
    each key's first..last observed period, so no edge extrapolation
    arises. ``value`` is rounded to ``scale`` places so the double
    arithmetic is engine-portable (the oracle recomputes the identical
    expression). Within one period the latest observation wins, same
    tiebreak as ``resample_fill``.

    Scale shape: identical to ``resample_fill`` — a per-key sequence
    explode bounded by the key's time span plus two bounded windows
    per key (one backward, one forward); no global sort, no driver
    action, no UDF.
    """
    t = F.date_trunc(period, F.col(ts_col))
    obs = (
        df.select(
            F.col(key_col).alias("__key"),
            t.alias("__p"),
            F.col(ts_col).alias("__ts"),
            F.col(value_col).alias("__v"),
        )
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("__key", "__p").orderBy(
                    F.desc("__ts"), F.desc("__v")
                )
            ),
        )
        .where(F.col("__rn") == 1)
        .drop("__rn", "__ts")
    )
    spans = obs.groupBy("__key").agg(
        F.min("__p").alias("__lo"), F.max("__p").alias("__hi")
    )
    grid = spans.select(
        "__key",
        F.explode(
            F.sequence(F.col("__lo"), F.col("__hi"), F.expr(f"INTERVAL {step}"))
        ).alias("__p"),
    )
    joined = grid.join(obs, ["__key", "__p"], "left")
    back = (
        Window.partitionBy("__key")
        .orderBy("__p")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    fwd = (
        Window.partitionBy("__key")
        .orderBy("__p")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_p = F.when(F.col("__v").isNotNull(), F.col("__p"))
    prev_v = F.last("__v", ignorenulls=True).over(back)
    prev_p = F.last(obs_p, ignorenulls=True).over(back)
    next_v = F.first("__v", ignorenulls=True).over(fwd)
    next_p = F.first(obs_p, ignorenulls=True).over(fwd)
    # epoch seconds are exact integers; the fraction and the lerp are
    # written as ONE expression shape mirrored verbatim in the oracle
    frac = (
        F.unix_timestamp(F.col("__p")) - F.unix_timestamp(prev_p)
    ).cast("double") / (
        F.unix_timestamp(next_p) - F.unix_timestamp(prev_p)
    ).cast("double")
    interp = prev_v + (next_v - prev_v) * frac
    value = F.when(F.col("__v").isNotNull(), F.col("__v")).otherwise(interp)
    return joined.select(
        F.col("__key").alias(key_col),
        F.col("__p").alias("period_ts"),
        F.round(value, scale).alias(value_col),
        F.col("__v").isNotNull().alias("observed"),
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: "list[str]",
    compare_cols: "list[str] | None" = None,
    include_unchanged: bool = False,
) -> DataFrame:
    """Reconcile two snapshots of the same table: classify every key
    as ``insert`` (new only), ``delete`` (old only), ``update``
    (present in both, compared columns differ) or ``unchanged`` —
    the diff a pipeline runs to validate a migration/backfill or to
    DERIVE a change feed when the source system can't produce one
    (the inverse of ``apply_cdc``: ``apply_cdc(old, snapshot_diff(
    old, new)) == new``).

    One full outer join on the key — the minimum any diff must pay —
    with comparison via a null-safe md5 row hash computed map-side on
    EACH input before the join, so only (key, 32-byte hash) shuffles
    for wide tables, never the payload columns. Each column is hashed
    FIRST and NULL maps to a token outside the hex alphabet, so no
    value string can collide with the null marker or smear across
    column boundaries.

    Returns ``key_cols + (change_type string)``.
    """
    if compare_cols is None:
        compare_cols = [c for c in new.columns if c not in key_cols]

    def row_hash(df: DataFrame) -> Column:
        parts = [
            F.coalesce(F.md5(F.col(c).cast("string")), F.lit("N"))
            for c in compare_cols
        ]
        return F.md5(F.concat_ws("|", *parts))

    o = old.select(*key_cols, row_hash(old).alias("__oh"))
    n = new.select(*key_cols, row_hash(new).alias("__nh"))
    joined = o.join(n, key_cols, "full_outer")
    change = (
        F.when(F.col("__oh").isNull(), F.lit("insert"))
        .when(F.col("__nh").isNull(), F.lit("delete"))
        .when(F.col("__oh") != F.col("__nh"), F.lit("update"))
        .otherwise(F.lit("unchanged"))
    )
    out = joined.select(*key_cols, change.alias("change_type"))
    if not include_unchanged:
        out = out.where(F.col("change_type") != "unchanged")
    return out


def time_weighted_avg(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    period: str = "day",
    scale: int = 6,
) -> DataFrame:
    """Time-weighted average per (key, period) under last-observation-
    carried-forward semantics (TimescaleDB ``time_weight('LOCF')``):
    each observation's value HOLDS from its timestamp until the next
    observation, and a period's average weights each held value by how
    long it was in effect inside that period. The plain AVG of
    irregular observations over-weights bursts — ten readings in one
    minute shouldn't dominate a day the sensor spent at another level.

    Construction: ``lead`` turns observations into validity intervals
    ``[ts, next_ts)`` (the key's final observation carries no duration
    and a key needs >= 2 observations to appear); each interval
    explodes onto the period grid it overlaps (bounded by the
    interval's span — the ``range_join`` bucket-decomposition idea);
    per (key, period) the weighted sum accumulates in exact DECIMAL
    (value x microsecond overlap), so results are identical under any
    partitioning. One window per key plus one groupBy — no global
    sort, no driver action.

    Returns ``(key, period_ts, twa, covered_us)`` with ``twa`` rounded
    to ``scale`` and ``covered_us`` the observed microseconds inside
    the period (denominator — callers can gate on coverage).
    """
    k, v = F.col(key_col), F.col(value_col).cast("double")
    ts = F.col(ts_col)
    iv = (
        df.select(k.alias("__k"), ts.alias("__ts"), v.alias("__v"))
        .withColumn("__nts", F.lead("__ts").over(Window.partitionBy("__k").orderBy("__ts", "__v")))
        .where(F.col("__nts").isNotNull() & (F.col("__nts") > F.col("__ts")))
    )
    # explode each interval onto the periods it overlaps
    grid = iv.select(
        "__k",
        "__v",
        "__ts",
        "__nts",
        F.explode(
            F.sequence(
                F.date_trunc(period, F.col("__ts")),
                F.date_trunc(period, F.col("__nts")),
                F.expr(f"INTERVAL 1 {period}"),
            )
        ).alias("__p"),
    )
    p_end = F.col("__p") + F.expr(f"INTERVAL 1 {period}")
    overlap_us = epoch_us(F.least(F.col("__nts"), p_end)) - epoch_us(
        F.greatest(F.col("__ts"), F.col("__p"))
    )
    weighted = grid.where(overlap_us > 0).select(
        "__k",
        "__p",
        overlap_us.alias("__us"),
        (F.col("__v") * overlap_us.cast("double")).cast("decimal(38,6)").alias(
            "__wv"
        ),
    )
    out = weighted.groupBy("__k", "__p").agg(
        F.sum("__wv").alias("__num"), F.sum("__us").alias("__den")
    )
    return out.select(
        F.col("__k").alias(key_col),
        F.col("__p").alias("period_ts"),
        F.round(
            F.col("__num").cast("double") / F.col("__den").cast("double"), scale
        ).alias("twa"),
        F.col("__den").alias("covered_us"),
    )


def bloom_prune_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    how: str = "inner",
    num_bits: int = 1 << 20,
    num_hashes: int = 3,
) -> DataFrame:
    """Equi-join with a Bloom-filter pre-shuffle prune of the left side.

    The big-big join gap: when the right side's KEY SET is too large to
    broadcast as a set (so Catalyst picks a full shuffle join), a Bloom
    BITMAP of those keys is still tiny — ``num_bits/8`` bytes regardless
    of key count. Building the bitmap as a DataFrame aggregate and
    broadcasting it lets every left row test membership map-side and
    drop BEFORE the shuffle, so a selective join shuffles only the
    ~matching fraction of the left side instead of all of it. (Spark's
    own runtime row-level filtering does this for some plans; this
    operator makes the technique explicit, tunable, and available to
    every composition here.)

    Mechanics, all JVM-side expressions:
    - build: each right key sets ``num_hashes`` bits at
      ``xxhash64(key, seed) pmod num_bits``; bits pack into 64-bit words
      via ``bit_or`` grouped on the word index (≤ num_bits/64 rows, a
      few MB — always broadcastable);
    - probe: the left side joins the broadcast word table once per
      seed on the word index and keeps rows whose bit is set — a Bloom
      MISS means the key is provably absent, so pruning is exact;
    - verify: the real equi-join runs on the survivors. Bloom false
      positives (tune with num_bits/num_hashes) only cost shuffle
      bytes; the join removes them, so the result EQUALS the plain
      ``left.join(right, on, how)`` for any filter size.

    Left-pruning is only sound where unmatched left rows don't reach
    the output, hence the inner/semi guard.
    """
    if how not in ("inner", "left_semi", "leftsemi", "semi"):
        raise ValueError(
            f"bloom_prune_join supports inner/left_semi only, got how={how!r}: "
            "outer variants must keep unmatched left rows the prune drops"
        )
    if num_bits & (num_bits - 1):
        raise ValueError(f"num_bits must be a power of two, got {num_bits}")
    if num_hashes < 1:
        raise ValueError(f"num_hashes must be >= 1, got {num_hashes}")

    def pos(seed: int) -> Column:
        return F.pmod(F.xxhash64(F.col(on), F.lit(seed)), F.lit(num_bits))

    word = lambda p: (p / 64).cast("long")  # noqa: E731
    bit = lambda p: F.expr("shiftleft(1L, cast(__pos % 64 AS int))")  # noqa: E731

    words = (
        right.select(F.explode(F.array(*[pos(s) for s in range(num_hashes)])).alias("__pos"))
        .select(
            word(F.col("__pos")).alias("__word"),
            bit(F.col("__pos")).alias("__bit"),
        )
        .groupBy("__word")
        .agg(F.expr("bit_or(__bit)").alias("__bits"))
    )

    probed = left
    for seed in range(num_hashes):
        w = words.select(
            F.col("__word").alias(f"__w{seed}"), F.col("__bits").alias(f"__b{seed}")
        )
        probed = (
            probed.withColumn("__pos", pos(seed))
            .join(
                F.broadcast(w),
                word(F.col("__pos")) == F.col(f"__w{seed}"),
            )
            .where(F.expr(f"__b{seed} & shiftleft(1L, cast(__pos % 64 AS int))") != 0)
            .drop("__pos", f"__w{seed}", f"__b{seed}")
        )
    return probed.join(right, on, how)


def golden_records(
    records: DataFrame,
    pairs: DataFrame,
    id_col: str,
    mode_cols: Sequence[str] = (),
    max_cols: Sequence[str] = (),
    min_cols: Sequence[str] = (),
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Entity-resolution survivorship: collapse matched-record clusters
    into one GOLDEN record each — the step after fuzzy_join (propose
    pairs) and connected components (resolve clusters) that master-data
    pipelines actually ship. Per cluster: ``mode_cols`` take the most
    frequent value (ties -> smallest value — deterministic), ``max_cols``
    / ``min_cols`` take extremes (max price, earliest created_at), plus
    ``n_members``. Unmatched records form singleton clusters of
    themselves, so the output is a COMPLETE entity table, one row per
    real-world entity.

    Scale shape: the component resolution is the iterative operator
    (dedup.near_dup_clusters — pairs only, never records); records join
    their cluster label once on the id; extremes are one keyed
    aggregate; each mode column adds one (cluster, value) count
    aggregate + a window over it and a join back on the cluster key the
    aggregation just produced. Nothing is collected; no cross join.
    """
    from .dedup import near_dup_clusters

    clusters = near_dup_clusters(pairs, id_a=id_a, id_b=id_b).withColumnsRenamed(
        {"doc_id": id_col}
    )
    labeled = records.join(clusters, id_col, "left").withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), F.col(id_col))
    )
    base = labeled.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        *[F.max(c).alias(c) for c in max_cols],
        *[F.min(c).alias(c) for c in min_cols],
    )
    for c in mode_cols:
        w = Window.partitionBy("cluster_id").orderBy(
            F.desc("__cnt"), F.asc(c)
        )
        winner = (
            labeled.where(F.col(c).isNotNull())
            .groupBy("cluster_id", c)
            .agg(F.count(F.lit(1)).alias("__cnt"))
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select("cluster_id", c)
        )
        base = base.join(winner, "cluster_id", "left")
    return base
