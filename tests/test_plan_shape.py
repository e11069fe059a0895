"""Plan-shape regression gate over the whole bench headline suite.

Correctness tests prove the answers are right at test scale; these
prove the PLANS stay 100 TB-shaped. For every query in bench.HEADLINE
the physical plan must have:

- no CartesianProduct and no BroadcastNestedLoopJoin (quadratic row
  pairing) — except the documented exact/scalar tiers in BNLJ_ALLOWED
  (a tiny bounded query set or a 1-row scalar broadcast against the
  corpus: a linear scan, which Spark renders as
  BroadcastNestedLoopJoin);
- no BatchEvalPython (row-at-a-time Python UDFs); Python is allowed
  only Arrow-batched (ArrowEvalPython / MapInArrow / MapInPandas /
  groups-variants);
- at most the pinned number of Exchange (shuffle) operators — adding a
  shuffle to one of these plans is a perf regression the fixed-sf bench
  may hide in noise, so the count is asserted structurally;
- a broadcast join wherever one is pinned (dimension / spec / candidate
  sides that must never become a shuffle join).

The pins are the measured shapes of the plans as shipped; loosening one
requires editing this table, i.e. an explicit, reviewable decision.
"""

from __future__ import annotations

import pytest

import bench
from sparkgraft import queries as Q

# name -> (max Exchange count, min BroadcastHashJoin count)
PLAN_PINS: dict[str, tuple[int, int]] = {
    # conformance: spread before the fence, the spec broadcast and the
    # two phases of the one aggregate. verify_events zero-fills inside
    # that aggregate (spec rows unioned in as marker rows), so the
    # broadcast of the aggregate and the left join back onto the spec
    # are gone: (4, 2) -> (3, 1). The BHJ minimum drops because that
    # join no longer exists, not because a join became a shuffle join
    # (CONFORMANCE_NO_SHUFFLE_JOIN checks that).
    "conformance_flagship": (3, 1),
    # r14 (VERDICT r13 #8): latest-version selection became ONE max
    # window on the KB-sized spec (ties kept, same semantics), removing
    # the groupBy-max aggregate AND its broadcast join-back from BOTH
    # prints of the spec_long subtree — printed plan 20 -> 12 Exchange
    # references, BHJ prints 8 -> 4. The in-aggregate zero-fill above
    # removed the zero-fill left join and its broadcast: (8, 2) ->
    # (7, 1); the one BHJ left is the catalog fan-out.
    "conformance_pipeline_versioned": (7, 1),
    "conformance_three_payload": (3, 1),  # as conformance_flagship
    # repeated-span dedup (r6 checkpointed-spine rewrite): the plan the
    # driver sees starts AT the eager DISK_ONLY localCheckpoint of the
    # per-doc segment spine (segmentation + the one text-bearing
    # shuffle happen exactly once, at materialization), so the pinned
    # shape is the decision+rebuild tail: the map-side-combinable
    # seg_hash min aggregate, the per-doc strip groupBy, and two
    # hashes-only broadcast joins (loser join + strip join-back). The
    # pre-r6 shapes are documented in dedup.dedup_spans' docstring
    # (window form spilled; inlined-spine form ran the segmentation 3x
    # with a nondeterministic interpreted-path CPU blowup).
    "dedup_repeated_spans": (4, 2),
    "pricing_summary": (1, 0),
    "revenue_per_segment": (2, 1),
    "user_funnel_set_ops": (6, 1),
    "user_sessions": (1, 0),
    "json_extract_events": (0, 0),
    # contract report: the wide one-scan rule aggregate (partial+final),
    # the unique-check's doc_id groupBy, and the tiny per-rule union
    # rows; the BHJ is the unique-check's join-back of a 1-row count
    "documents_contract_report": (4, 1),
    # vocab: the two phases of the count-distinct aggregation (partial
    # keyed on (word, doc), final on word); top-k is a TakeOrdered
    "corpus_vocab_topk": (2, 0),
    # dup-ngram stats: spread, the shingle doc-frequency aggregate, the
    # join-back (sh side), and the per-doc aggregate; the frequency
    # side's broadcast is AQE's small-SF election, not pinned
    "corpus_dup_ngram_stats": (6, 0),
    # packing: ONE exchange total — the bucket hash partition for the
    # per-bucket cumsum window; token counts computed map-side, the
    # text never shuffles (no spread, see the query docstring)
    "pack_training_sequences": (1, 0),
    "doc_gopher_quality_gate": (1, 0),  # gate rides the scan (spread only)
    # DSIR: the persisted (doc, term, tf) subtree prints once per
    # consumer (materializes once at runtime); the two BNLJs are the
    # broadcast one-row model totals (A5 in-plan scalars)
    "doc_importance_resampling": (22, 0),
    "corpus_curation_pipeline": (2, 0),
    "tfidf_top_terms": (9, 1),  # doc_len rides the rank window's exchange
    # (dedup_exact_keep_first's and simhash_by_doc's (1, 0) pins moved
    # to R6_OP_PINS in the r13 second rotation)
    "decontaminate_docs": (5, 1),
    "ngram_jaccard_near_dups": (8, 3),
    "minhash_lsh_near_dups": (8, 3),
    # r13 second rotation promotions: tar-shard container round trip
    # (spread + shard-group applyInPandas + sample pivot) and the NFC
    # canonical keys (rides the scan, Arrow-batched normalize)
    "tar_shard_corpus_roundtrip": (3, 0),
    "nfc_canonical_dedup": (1, 0),
    # (embedding_near_dup_pairs' (9, 4) pin moved to R6_OP_PINS when
    # retired, r13)
    # planted variant: same banded-LSH plan over the unioned planted
    # view (union adds no exchange — both branches scan in place)
    "embedding_near_dup_lsh_planted": (8, 3),
    # planted ANN top-1 (the rows-only ann_*_topk twins retired r6;
    # the planted queries carry the same bucketed/cid-keyed plans)
    "ann_lsh_top1_planted": (6, 3),
    # Q21 (r13 restructure): a two-level aggregate — (orderkey,
    # suppkey) dedup with max(flag) map-side, then per-order pair
    # counts — replaces the double countDistinct (no Expand, no row
    # doubling before the first exchange); orderkey partitioning
    # reused by the join-back
    "suppliers_sole_returned": (7, 4),
    # r7 rotation promotions (the retired-tier R6_OP_PINS entries for
    # boilerplate_line_removal / bloom_pruned_urgent_revenue moved
    # here when they joined the headline; measured shapes unchanged)
    # bitmap build agg + 3 broadcast word probes + verify join + month agg
    "bloom_pruned_urgent_revenue": (8, 2),
    # line explode x2 consumers (freq + rebuild branches of one scan),
    # xxhash64-key distinct count (r14: 8-byte internal key replaced
    # the 32-hex md5 — outputs never carry the key), broadcast
    # flagged-keys join-back, the doc-keyed rebuild, and the final id
    # join; no text in the frequency shuffle
    "boilerplate_line_removal": (8, 2),
    # (doc_hash_embedding's (2, 0) pin moved back to R6_OP_PINS when
    # retired, r12)
    # r8 rotation promotions (their retired-tier R6_OP_PINS entries
    # moved here when they joined the headline; measured shapes
    # unchanged). semantic_dedup_planted: same single-shuffle SemDeDup
    # plan as the rows-only variant it replaces (groupBy cid is the
    # only Exchange — the planted union scans in place).
    "semantic_dedup_planted": (1, 0),
    # BM25: one tokenize pass -> the (doc, term, tf) index state,
    # materialized ONCE as an eager lineage-truncating localCheckpoint
    # (r13 optimization round: the previous lazy persist let the
    # tail's ~10 concurrent broadcast-subquery futures each race the
    # whole tokenize+aggregate subtree — measured 8 racing stages of
    # 7-13s executor-run apiece at sf0.1). The scoring tail computes
    # each (doc, term) contribution once on the query-vocabulary-
    # restricted index (query-independent — guide §2.3), broadcasts
    # the bounded restricted-df side (semi-join pre-filter, §3.2), and
    # per-query expansion joins move only precomputed decimals. r9:
    # the term-skew guard defaults ON (max_df_ratio=0.5, VERDICT r8
    # #3), so the driver-facing plan is the GATED one — rare-term
    # candidate distinct + broadcast join-back + the starved-query
    # direct arm. Printed exchanges rose vs the r12 pin (45) because
    # the restructured tail derives qterms/base per consumer from the
    # checkpoint leaf (each prints its own small subtree); executor
    # CPU per pass dropped 37-58s -> ~2s at sf0.1 (query_profile). The
    # 5th BNLJ print is the same allow-listed 1-row N/avgdl scalar
    # under the contribution base.
    "bm25_doc_retrieval": (68, 5),
    # fully-oracled hybrid: gated BM25 arm (see above) + the exact
    # cosine arm (the knn broadcast-query BNLJ tier) + decimal fusion
    "hybrid_bm25_cosine_rrf": (71, 6),
    # (user_next_event_pairs' (1, 0) pin moved to R6_OP_PINS when
    # retired, r13)
    # allow-listed 1-row max-ts anchor broadcast (A5) + one per-user
    # map-side-combinable aggregate
    "user_decayed_engagement": (3, 0),
    # Arrow-batched dHash, 8-bit banding (band explode + distinct +
    # candidate self-join), exact Hamming verify; the one BHJ is the
    # hash join-back onto the banded candidates
    "perceptual_near_dup_planted": (6, 1),
    # r9 rotation promotions. IVF-PQ planted: spread + the broadcast
    # probes join (cid-keyed, m-byte codes) + the per-query top-k
    # window — the production ANN composite's full plan
    "ann_ivfpq_top1_planted": (3, 1),
    # (contrastive_training_pairs and token_fertility_by_source moved
    # back to R6_OP_PINS when retired, r11)
    # r9 headline-coverage close (VERDICT r8 #4): the formerly
    # unbenched actives, each already plan-floor-checked by
    # test_active_nonheadline_no_row_udfs_or_cartesian — these pins
    # add the exchange budgets. multimodal: one Arrow decode pass +
    # per-source aggregate
    "multimodal_features": (1, 0),
    # SCD2 union-merge as-of: one key shuffle
    "orders_segment_scd2": (1, 0),
    "latest_event_per_user": (1, 0),
    "filter_pushdown": (0, 0),  # pure pushed scan — zero exchanges
    # CDC: change window + anti join + union (broadcast snapshot side)
    "customers_apply_cdc": (3, 1),
    # (customer_snapshot_diff's (2, 0) pin moved back to R6_OP_PINS
    # when retired, r12)
    # time-weighted daily average: one user-keyed window shuffle
    "user_value_twa_daily": (1, 0),
    # r10 rotation promotions (their retired-tier R6_OP_PINS entries
    # moved here; measured shapes unchanged). rerank: the IVF-PQ
    # shortlist plan (cid-keyed probe join + top-k window) + the exact
    # rerank tail's broadcast join-backs + the final window
    "ann_ivfpq_rerank_top1_planted": (6, 3),
    # default-on skew guard under its own oracle: same checkpointed-
    # index tail as bm25_doc_retrieval above (r13 pin update, same
    # explanation); BNLJs are the allow-listed 1-row N scalar
    # broadcasts
    "bm25_pruned_retrieval": (68, 5),
    # r11 rotation promotions (their retired-tier R6_OP_PINS entries
    # moved here; measured shapes unchanged). folded index: the
    # 3-batch fold now materializes INTO the eager checkpoint leaf at
    # construction (r13), so the printed plan equals the one-shot
    # arm's — the fold subtree no longer prints per consumer at all
    # (was 73 with the persisted fold printing under ~9 consumers);
    # BNLJs are the allow-listed 1-row N/avgdl scalar broadcasts (A5)
    "bm25_from_folded_index": (68, 5),
    # TPC-H Q18 shape: two key-shuffle joins feeding one exact-decimal
    # aggregate with the HAVING on top (AQE may elect broadcast for
    # the customer side at bench SF)
    "large_order_customers": (4, 0),
    # r12 rotation promotions (both r11-born, never R6-pinned — first
    # pins measured at promotion). canonical dedup: spread + one
    # canonical-key groupBy — the exact-hash-dedup shape with a
    # content-identity key, everything else row-local codegen
    "web_url_canonical_dedup": (2, 0),
    # snapshot drift: two-frame union is scan-side; (label, pos)
    # dimension-mean aggregate + per-label dot aggregate + the counts
    # aggregate and its label join (AQE broadcasts the tiny side)
    "embedding_snapshot_drift": (4, 0),
    # r13 promotions. robots_url_gate: every exchange beyond the spread
    # is on the RULES side — one per-host effective-group aggregate and
    # its broadcast per agent; the URL side takes zero shuffles. The
    # gate picks the agent group inside that aggregate, so the rules
    # (and their Arrow parse) are read once per gate: the has-exact
    # distinct and its broadcast join-back are gone (was (9, 4)).
    "robots_url_gate": (3, 2),
    # NEW r13 flagship: the full crawl chain in one plan — spread +
    # the rules-side effective-group aggregate and its broadcast, then
    # the ONLY corpus-side shuffles: the canonical-dedup groupBy and the
    # cap's one rank window; the one BHJ is the broadcast
    # rules-onto-URLs gate join (the rules-side has-exact join is gone,
    # was (8, 2)). r14 (guide §4, VERDICT r13
    # #4): build/crack/extract are FUSED into ONE Arrow MapInArrow
    # pass composing the same library functions (was three passes;
    # the WARC payload and HTML string no longer round-trip through
    # Arrow twice each, and only doc_id/url/text cross back) — the
    # remaining MapInArrow print is the tiny rules-side parse.
    # Never BatchEvalPython. The cap is one rank window, not a salted
    # pre-rank plus a final rank: Spark's Partial WindowGroupLimit
    # already keeps at most cap rows per domain per map task, so the
    # salted shuffle bounded nothing more (5, 1) -> (4, 1).
    "crawl_to_corpus": (4, 1),
}

# Exact tiers that legitimately broadcast a bounded side against every
# corpus row (linear, not quadratic — the broadcast side is tiny by
# construction): knn broadcasts its bounded query set;
# tfidf cross-joins a broadcast ONE-ROW aggregate (the in-plan N
# scalar, A5 discipline). Everything else must not nested-loop at all.
BNLJ_ALLOWED = {
    "tfidf_top_terms",
    # two broadcast one-row model totals (T/V scalars, A5 discipline)
    "doc_importance_resampling",
    # r8 promotions: BM25's 1-row N/avgdl scalar broadcast (A5); the
    # hybrid adds the exact cosine arm's bounded-query broadcast (the
    # knn tier); decayed engagement's 1-row max-ts anchor (A5)
    "bm25_doc_retrieval",
    "hybrid_bm25_cosine_rrf",
    "user_decayed_engagement",
    # r10 promotion: the allow-listed 1-row N/avgdl scalar broadcasts
    # (A5 discipline — the bm25_doc_retrieval precedent);
    # knn_cosine_bruteforce left the headline in the same rotation
    "bm25_pruned_retrieval",
    # r11 promotion: the folded-index BM25 carries the same 1-row
    # N/avgdl scalar broadcasts as the one-shot arm it must equal
    "bm25_from_folded_index",
}


# The conformance plans join only the KB-sized spec, always broadcast:
# no join of theirs may become a shuffle join, whatever the BHJ count.
CONFORMANCE_NO_SHUFFLE_JOIN = {
    "conformance_flagship",
    "conformance_pipeline_versioned",
    "conformance_three_payload",
}


def test_pins_cover_headline():
    assert set(PLAN_PINS) == set(bench.HEADLINE)


def test_headline_plus_exclusions_cover_active_registry():
    """VERDICT r8 #4: every ACTIVE query is either benched (HEADLINE)
    or carries an explicit documented exclusion (iterative fixpoint /
    streaming) — the headline can never silently under-cover the
    active tier again."""
    active = set(Q.QUERIES)
    covered = set(bench.HEADLINE) | set(bench.BENCH_EXCLUDED_ACTIVE)
    assert active <= covered, sorted(active - covered)
    # exclusions must be real active queries (no stale names) and
    # never double-listed
    assert set(bench.BENCH_EXCLUDED_ACTIVE) <= active
    assert not set(bench.BENCH_EXCLUDED_ACTIVE) & set(bench.HEADLINE)


@pytest.mark.parametrize("name", bench.HEADLINE)
def test_headline_plan_shape(spark, sf_dir, name):
    # queries that persist() an intermediate stage print the cached
    # subtree differently if an earlier test left an overlapping cache
    # entry — clear so the pinned shape is session-order-independent
    spark.catalog.clearCache()
    plan = (
        Q.QUERIES[name](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, name
    if name not in BNLJ_ALLOWED:
        assert "BroadcastNestedLoopJoin" not in plan, name
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"

    max_exchanges, min_bhj = PLAN_PINS[name]
    n_exchanges = plan.count("Exchange")
    assert n_exchanges <= max_exchanges, (
        f"{name}: {n_exchanges} Exchange ops (pinned max {max_exchanges}) "
        "— a new shuffle entered this plan"
    )
    n_bhj = plan.count("BroadcastHashJoin")
    assert n_bhj >= min_bhj, (
        f"{name}: {n_bhj} BroadcastHashJoin (pinned min {min_bhj}) "
        "— a broadcast join degraded to a shuffle join"
    )
    if name in CONFORMANCE_NO_SHUFFLE_JOIN:
        for op in ("SortMergeJoin", "ShuffledHashJoin"):
            assert op not in plan, f"{name}: the spec join became a {op}"


# New r5 operators outside the bench headline: their scale shape is
# part of the contract, so pin it structurally here too.
R5_OP_PINS = [
    # (builder, max Exchange, forbid-nested-loop)
    ("funnel", 2),     # groupBy(user) + AQE read; never per-step joins
    ("scd2", 2),       # union-merge as-of: one key shuffle (+1 slack)
    ("fuzzy", 6),      # postings join + distinct + two attach joins
    ("resample", 4),   # per-period window, spans agg, grid join
    ("cdc_merge", 4),  # change window + anti join + union
]


@pytest.mark.parametrize("which,max_exchanges", R5_OP_PINS)
def test_r5_operator_plan_shape(spark, sf_dir, which, max_exchanges):
    from pyspark.sql import functions as F

    from sparkgraft import queries as Q
    from sparkgraft.analytics import funnel_steps
    from sparkgraft.io import read_table
    from sparkgraft.relational import (
        apply_cdc,
        fuzzy_join_token_blocked,
        resample_fill,
        scd2_join,
    )

    spark.catalog.clearCache()
    if which == "funnel":
        df = funnel_steps(
            read_table(spark, sf_dir, "events"), ["view", "click", "purchase"]
        )
    elif which == "scd2":
        df = Q.QUERIES["orders_segment_scd2"](spark, sf_dir)
    elif which == "fuzzy":
        df = Q.RETIRED_QUERIES["part_name_fuzzy_matches"](spark, sf_dir)
    elif which == "resample":
        df = Q.RETIRED_QUERIES["customer_monthly_spend_resampled"](spark, sf_dir)
    else:
        df = Q.QUERIES["customers_apply_cdc"](spark, sf_dir)

    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, which
    assert "BroadcastNestedLoopJoin" not in plan, which
    assert "BatchEvalPython" not in plan, which
    n = plan.count("Exchange")
    assert n <= max_exchanges, f"{which}: {n} Exchange ops (pinned {max_exchanges})"


# Iterative operators (r6): a count pin is the wrong instrument for a
# fixpoint loop — the meaningful structural claim is that LINEAGE IS
# BOUNDED. pagerank localCheckpoints the ranks every iteration, so the
# final plan the caller consumes must be rooted at the checkpointed
# ranks (a scan + the last in-plan ops, ~zero exchanges) no matter how
# many iterations ran; the components composite (committee ->
# min-label propagation -> verdict join) localCheckpoints edges and
# labels every 5 iterations, so its final plan is bounded by one
# checkpoint interval (<= 2^5 references to the CHECKPOINTED edge
# scan), never the committee producer's tree. If either checkpoint is
# removed, the plan balloons geometrically (observed: driver OOM in
# plan stringification at sf0.1 pre-r5-fix) — the char bound trips
# long before that.
ITERATIVE_LINEAGE_PINS = [
    # (name, max Exchange, max plan chars)
    ("trade_graph_pagerank", 4, 40_000),
    ("conservative_dedup_keep", 350, 600_000),
    # promoted r6: components + (id, score) join + argmax window on
    # top of the checkpointed labels (measured 71 Exchanges / 53k
    # chars at sf0.01 — one checkpoint interval, same bound class as
    # the clusters query it supersets)
    ("near_dup_quality_keep", 120, 120_000),
    # promoted r7: ER survivorship — fuzzy blocking + transitive
    # closure (checkpointed every interval) + survivorship votes
    # (measured 143 Exchanges / 102k chars at sf0.01: one checkpoint
    # interval of the closure plus the vote aggregates)
    ("part_golden_records", 220, 220_000),
]


@pytest.mark.parametrize("name,max_exchanges,max_chars", ITERATIVE_LINEAGE_PINS)
def test_iterative_operator_lineage_bounded(
    spark, sf_dir, name, max_exchanges, max_chars
):
    spark.catalog.clearCache()
    df = {**Q.RETIRED_QUERIES, **Q.QUERIES}[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, name
    assert "BroadcastNestedLoopJoin" not in plan, name
    assert "BatchEvalPython" not in plan, name
    n = plan.count("Exchange")
    assert n <= max_exchanges, (
        f"{name}: {n} Exchange ops in the FINAL plan (pinned "
        f"{max_exchanges}) — iterative lineage is no longer truncated"
    )
    assert len(plan) <= max_chars, (
        f"{name}: {len(plan)}-char final plan (pinned {max_chars}) — "
        "a checkpoint was removed and the plan is growing with depth"
    )


NON_HEADLINE_ACTIVE = sorted(
    name
    for name in Q.QUERIES
    if name not in bench.HEADLINE and not name.startswith("stream_")
)


@pytest.mark.parametrize("name", NON_HEADLINE_ACTIVE)
def test_active_nonheadline_no_row_udfs_or_cartesian(spark, sf_dir, name):
    """The structural no-anti-pattern floor for the ACTIVE queries the
    headline pins don't cover: no row-at-a-time Python (Arrow-batched
    mapInArrow/mapInPandas/ArrowEval is allowed, BatchEvalPython is
    not) and no unbounded CartesianProduct anywhere in the
    driver-facing surface.
    (Streaming queries execute micro-batches on construction and are
    parity-gated in test_streaming instead.)"""
    spark.catalog.clearCache()
    plan = (
        Q.QUERIES[name](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
    assert "CartesianProduct" not in plan, name


# New r6 operators (retired tier): pin their scale shape structurally.
# BNLJ allowances are the documented linear broadcast patterns —
# doc_importance_resampling cross-joins TWO broadcast one-row model
# totals (the tfidf in-plan-scalar discipline, A5), and
# hard_negative_mining broadcasts its bounded query set against the
# corpus scan (the knn_cosine_bruteforce exact-tier pattern). The DSIR
# Exchange count reads high because the persisted (doc, term, tf)
# subtree prints once per consumer in the plan tree; at runtime it
# materializes once (persist in text.importance_llr).
R6_OP_PINS = [
    # (query name, max Exchange, allow BNLJ)
    ("doc_c4_line_filter", 1, False),        # spread only
    ("web_url_filter_gate", 1, False),       # spread only
    ("domain_temperature_weights", 2, False),  # source agg + tiny-frame window
    ("hard_negative_mining", 3, True),
    # rate aggregate + tiny-frame window + broadcast join-back; the
    # epoch explode is row-local
    ("temperature_resampled_docs", 3, False),
    # gate (row-local) -> fingerprint window -> rate agg + tiny-frame
    # window + broadcast join-back; text crosses one exchange
    ("pretrain_curation_pipeline", 7, False),
    # (boilerplate_line_removal and bloom_pruned_urgent_revenue moved
    # to PLAN_PINS when promoted to the bench headline, r7)
    # r6 TPC-H correlated-subquery shapes (queries/tpch_extra.py): all
    # decorrelated into key joins / one-pass aggregates — BHJ-only
    # except rich_idle_customers, whose BNLJ is the documented 1-row
    # scalar-average broadcast (A5 in-plan-denominator discipline).
    ("nation_market_share", 8, False),        # 8-table chain, dims broadcast
    ("customer_order_distribution", 3, False),  # join + 2 groupBys (1 reused key)
    ("top_revenue_supplier", 3, False),        # supp agg + 1-part window + bcast dim
    ("small_qty_avg_revenue", 4, False),       # per-part avg join decorrelation
    ("disjunctive_filter_revenue", 2, False),  # bcast part + 1-row combine
    ("suppliers_sole_returned", 7, False),     # one per-order agg folds both EXISTS
    ("rich_idle_customers", 5, True),          # scalar-avg BNLJ + anti join
    # lexical arm (shingle inverted index + 2 bcast size joins + window)
    # + vector arm (the documented exact broadcast-query BNLJ tier,
    # knn_cosine_bruteforce pattern) + decimal fusion agg + final window
    # both hybrids: the persisted shingle subtree (spread + staged
    # tokenize, r7) prints once per consumer like DSIR's — it
    # materializes once at runtime
    ("hybrid_retrieval_rrf", 14, True),
    # r7 scale-tier composition: RP-LSH vector arm — the exact tier's
    # allow-listed BNLJ must NOT appear here (bucket join + Arrow
    # batches only); extra exchanges are the LSH band explode/distinct
    ("hybrid_retrieval_rrf_ann", 17, False),
    # r7 TPC-H correlated-subquery shapes over the derived partsupp
    # (|supplier| is a parquet-footer literal, so the derivation adds
    # ZERO joins): Q2's min subquery -> per-part min agg + join-back
    # (eligible side prints twice, once per consumer); Q11's HAVING
    # scalar is the allow-listed 1-row avg broadcast (A5); Q16's NOT IN
    # -> broadcast anti join; Q20's nested IN + correlated SUM -> two
    # semi joins + one date-pruned aggregate join.
    ("min_cost_supplier", 8, False),
    ("important_stock_parts", 6, True),
    ("supplier_count_by_part_attrs", 4, False),
    ("restock_candidate_suppliers", 4, False),
    # (bm25_doc_retrieval, hybrid_bm25_cosine_rrf, user_next_event_
    # pairs and user_decayed_engagement moved to PLAN_PINS when
    # promoted to the bench headline, r8)
    # r8 term-skew guard under its own oracle: the persisted tf
    # subtree prints once per consumer (materializes once — the DSIR
    # precedent); r9's starvation-fallback direct arm adds more
    # printed consumers (runtime unchanged: the arm is empty when no
    # query starves, as at this query's 0.79 threshold). The BNLJs
    # are the allow-listed 1-row N scalar broadcasts (stats feeds the
    # df gate and the idf/avgdl terms)
    # (bm25_from_folded_index moved to PLAN_PINS when promoted to the
    # bench headline, r11)
    # r8 PQ memory tier: Arrow-batched encode + ADC scan of the codes
    # index (mapInPandas, bounded query tables in-closure) — the ONLY
    # exchange is the per-query top-k window
    ("ann_pq_top1_planted", 1, False),
    # r9 complete serving path: the IVF-PQ shortlist plan (cid-keyed
    # probe join + top-k window) + the exact-rerank tail's two
    # broadcast join-backs (|Q| x shortlist rows) + the final window
    # (contrastive_training_pairs and token_fertility_by_source moved
    # to PLAN_PINS when promoted to the bench headline, r9)
    # r9 rotation retirements: shapes stay pinned after leaving the
    # headline. profile: cross-modal join + low-cardinality aggregate
    # (broadcast is AQE's small-SF election); epochs: broadcast 3-row
    # plan + row-local explode; cms: per-batch sketch agg + merge agg
    # + probe join + min-over-seeds agg + exact-count comparison join
    ("doc_embedding_profile", 3, False),
    ("domain_mixture_epochs", 1, False),
    # (bm25_pruned_retrieval and ann_ivfpq_rerank_top1_planted moved
    # to PLAN_PINS when promoted to the bench headline, r10)
    # r10 rotation retirements: shapes stay pinned after leaving the
    # headline. knn: one corpus pass against the broadcast bounded
    # query set (the documented exact-tier BNLJ) + the rank window;
    # ivf planted: spread + broadcast probes join + top-k window
    ("knn_cosine_bruteforce", 3, True),
    ("ann_ivf_top1_planted", 3, False),
    # r11 rotation retirements: shapes stay pinned after leaving the
    # headline. contrastive: one corpus pass against the broadcast
    # bounded query set (the documented exact-tier BNLJ) + the two-arm
    # rank window; fertility: spread + one per-source aggregate
    ("contrastive_training_pairs", 3, True),
    ("token_fertility_by_source", 2, False),
    ("user_event_cms_counts", 5, False),
    # r8 rotation retirements: the shapes stay pinned here after the
    # queries left the headline (the boilerplate_line_removal
    # precedent, in the opposite direction)
    ("last_order_asof_event", 1, False),
    ("lineitem_grouping_sets", 1, False),
    ("open_lineitems_per_day", 4, False),  # bucket equi-join, no nested loop
    ("user_funnel_view_click_purchase", 2, False),  # one HOF funnel fold
    # rows-only actives rotated to the retired tier r8 — plan shape
    # remains contract: banded LSH (8 exchanges) and the
    # single-shuffle SemDeDup (groupBy cid)
    ("embedding_near_dup_lsh", 8, False),
    ("semantic_dedup_embeddings", 1, False),
    # r12 rotation retirements: shapes stay pinned after leaving the
    # headline. snapshot diff: derived-frame union + one key join;
    # hash embedding: (doc, dim) signed-count aggregate + per-doc map
    # collect, explode/densify row-local
    ("customer_snapshot_diff", 2, False),
    ("doc_hash_embedding", 2, False),
    # NEW r12 retired tier: PSL registrable-domain grouping — spread +
    # the group aggregate + countDistinct's second phase; the whole
    # PSL match is row-local array expressions over plan literals
    ("web_registrable_domain_groups", 3, False),
    # NEW r12 retired tier: host-diversity cap — spread + the one rank
    # window, whose Partial WindowGroupLimit bounds each domain's
    # shuffle (the salted pre-rank window is gone: 3 -> 2);
    # registrable_domain itself is row-local
    ("web_domain_cap_sample", 2, False),
    # NEW r12 retired tier: WARC build+crack round trip — spread only;
    # the build and crack stages are two Arrow MapInArrow passes
    # (never BatchEvalPython), no shuffle after the spread
    ("warc_http_responses", 1, False),
    # NEW r12 retired tier: HTML build-extract round trip — spread
    # only; the page build is row-local codegen and the extractor is
    # one Arrow MapInArrow pass
    ("html_text_extraction", 1, False),
    # (robots_url_gate's pin moved to PLAN_PINS when promoted to the
    # bench headline, r13)
    # r13 second rotation retirements: shapes stay pinned after
    # leaving the headline (exact-dedup fingerprint groupBy; simhash
    # single scan-side pass)
    ("dedup_exact_keep_first", 1, False),
    ("simhash_by_doc", 1, False),
    # NEW r13 retired tier: RFC 3986 reference resolution — spread
    # only; page build is row-local codegen, parse+resolve is ONE
    # Arrow MapInArrow pass, posexplode row-local
    ("html_link_resolution", 1, False),
    # NEW r13 retired tier: multilingual quality metrics — the gate
    # rides the scan (spread only), every class explicit-ASCII codegen
    ("doc_quality_multilingual", 1, False),
    # NEW r13 retired tier: crawl-loop closure — sitemap discovery
    # from robots.txt, per-(host, agent) Crawl-delay rows, XML sitemap
    # cracking, and the rel=canonical / meta-noindex gate: each is
    # build (row-local or Arrow) + ONE Arrow crack/extract pass, no
    # shuffle beyond the spread
    ("robots_sitemap_frontier", 1, False),
    ("robots_crawl_delay_rows", 1, False),
    ("sitemap_url_frontier", 1, False),
    ("html_meta_canonical_gate", 1, False),
    # r13 rotation retirements: shapes stay pinned after leaving the
    # headline. near-dup pairs: the blocked numpy candidate plan (no
    # CartesianProduct); next-event pairs: one user-keyed window
    ("embedding_near_dup_pairs", 9, False),
    ("user_next_event_pairs", 1, False),
    # NEW r13 retired tier: the crawl loop's TEMPORAL dimension
    # (frontier.py). recrawl: the shared spread subtree prints once
    # per consumer (3 planted frames off one scan) + the per-URL
    # lastmod max-fold + the snapshot key join; schedule: spread +
    # the delay-table fold + its BroadcastExchange + ONE per-host
    # window (exact rank, so domain-cap the frontier first — module
    # docstring); delta: two spread prints + snapshot_diff's one
    # full-outer join (hash-reduced map-side, both sides exchange)
    ("recrawl_frontier_lastmod", 5, False),
    ("fetch_politeness_schedule", 4, False),
    ("crawl_snapshot_delta", 4, False),
    # w3c_sortkey is pure row-local codegen — the shape is exactly
    # recrawl's (2 spread prints + fold + join), normalization free
    ("recrawl_w3c_mixed_forms", 4, False),
    # validator carry + fetch_mode are row-local too: same shape
    ("recrawl_conditional_plan", 4, False),
    # funnel accounting: spread + rules broadcast + ONE grouped
    # aggregation whose two DISTINCT aggregates expand (Spark's
    # multi-distinct Expand adds partial/final exchange pairs) — the
    # URL side still crosses the wire once per distinct set, never
    # per stage
    ("crawl_funnel_report", 7, False),
]


@pytest.mark.parametrize("name,max_exchanges,allow_bnlj", R6_OP_PINS)
def test_r6_operator_plan_shape(spark, sf_dir, name, max_exchanges, allow_bnlj):
    spark.catalog.clearCache()
    plan = (
        {**Q.RETIRED_QUERIES, **Q.QUERIES}[name](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, name
    if not allow_bnlj:
        assert "BroadcastNestedLoopJoin" not in plan, name
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
    n = plan.count("Exchange")
    assert n <= max_exchanges, f"{name}: {n} Exchange ops (pinned {max_exchanges})"
