"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric", "value", "unit", "queries", "sf"}.

Each query is forced end-to-end with the noop sink (full computation,
no driver-side collection cost). The session is warmed once so JVM/
codegen startup isn't attributed to the first query.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Every active query but BENCH_EXCLUDED_ACTIVE; past rotations: VERDICT.md and its git history.
HEADLINE = [
    "conformance_flagship",
    "conformance_pipeline_versioned",
    "conformance_three_payload",
    "pricing_summary",
    "revenue_per_segment",
    "user_funnel_set_ops",
    "doc_importance_resampling",
    "user_sessions",
    "json_extract_events",
    "documents_contract_report",
    "corpus_vocab_topk",
    "corpus_dup_ngram_stats",
    "pack_training_sequences",
    "doc_gopher_quality_gate",
    "tfidf_top_terms",
    "corpus_curation_pipeline",
    "dedup_repeated_spans",
    "decontaminate_docs",
    "ngram_jaccard_near_dups",
    "minhash_lsh_near_dups",
    "tar_shard_corpus_roundtrip",
    "nfc_canonical_dedup",
    "embedding_near_dup_lsh_planted",
    "ann_lsh_top1_planted",
    "suppliers_sole_returned",
    "bloom_pruned_urgent_revenue",
    "boilerplate_line_removal",
    "semantic_dedup_planted",
    "bm25_doc_retrieval",
    "hybrid_bm25_cosine_rrf",
    "user_decayed_engagement",
    "perceptual_near_dup_planted",
    "ann_ivfpq_top1_planted",
    "ann_ivfpq_rerank_top1_planted",
    "bm25_pruned_retrieval",
    "bm25_from_folded_index",
    "large_order_customers",
    "web_url_canonical_dedup",
    "embedding_snapshot_drift",
    "crawl_to_corpus",
    "robots_url_gate",
    "multimodal_features",
    "orders_segment_scd2",
    "latest_event_per_user",
    "filter_pushdown",
    "customers_apply_cdc",
    "user_value_twa_daily",
]

# Active queries deliberately not benched, and why:
BENCH_EXCLUDED_ACTIVE = {
    "near_dup_quality_keep": "iterative fixpoint (ITERATIVE_LINEAGE_PINS)",
    "part_golden_records": "iterative fixpoint (ITERATIVE_LINEAGE_PINS)",
    "stream_windowed_conformance": "streaming; parity-gated in test_streaming",
}


def _stage_metrics_reader(spark):
    """Per-query executor-metric deltas: a closure that, on each call,
    sums shuffle read/write and spill bytes over the stages run since
    the previous call (``obs.stage_reader``)."""
    from sparkgraft.obs import stage_reader

    read_stages = stage_reader(spark)

    def read() -> dict[str, int]:
        try:
            stages = read_stages()
        except Exception:
            # metrics are diagnostics, never a bench failure
            return {}
        return {
            k: sum(s[k] for s in stages)
            for k in ("shuffle_read", "shuffle_write", "spill_mem", "spill_disk")
        }

    return read


def _canary(spark) -> dict[str, float]:
    """Fixed-cost host-calibration workload (VERDICT r10 #2): rounds
    8, 9 AND 10 each burned an adjudication cycle proving a bench
    delta was host contention, not regression (the r10 artifact read
    1.76x for a tree the judge's same-host control measured at
    0.973x). The canary's cost is pinned — a deterministic in-memory
    range sort-aggregate (JVM/shuffle path) and a deterministic numpy
    matmul (BLAS path), no files, no code under test — so its wall
    time measures ONLY the host; round-over-round headline ratios
    divide by it and the argument becomes one division. Median of 3
    reps; run before AND after the headline so a load spike mid-run is
    visible as pre/post skew."""
    import statistics

    import numpy as np

    spark_reps: list[float] = []
    for _ in range(3):
        t0 = time.time()
        (
            spark.range(0, 20_000_000, 1, 32)
            .selectExpr("id % 1000 AS k", "id AS v")
            .groupBy("k")
            .agg({"v": "sum", "*": "count"})
            .orderBy("k")
            .write.mode("overwrite")
            .format("noop")
            .save()
        )
        spark_reps.append(time.time() - t0)

    a = (np.arange(800 * 800, dtype=np.float64) % 97).reshape(800, 800)
    b = (np.arange(800 * 800, dtype=np.float64) % 89).reshape(800, 800)
    numpy_reps: list[float] = []
    for _ in range(3):
        t0 = time.time()
        acc = a
        for _i in range(8):
            acc = acc @ b / 97.0
        float(acc[0, 0])
        numpy_reps.append(time.time() - t0)

    return {
        "spark_sec": round(statistics.median(spark_reps), 3),
        "numpy_sec": round(statistics.median(numpy_reps), 3),
    }


def should_update_control(
    old: dict | None, sf: float, cpus: int, canary: dict[str, float]
) -> bool:
    """Whether this run may replace the committed quiet control
    (artifacts/BENCH_latest_local.json). Refuses when the existing
    control is at a different sf or core count (r14, VERDICT r13 #3 —
    the driver's low-core scaling run must never displace the 32-core
    control), when the existing control records no core count (a legacy
    control is replaced only by a deliberate fresh write), or when this
    run's best spark canary is >20% slower than the control's (a
    contended run can add a timestamped artifact but never mutate the
    quiet control in place)."""
    if not old:
        return True
    if old.get("sf") != sf:
        return False  # a smoke run at another SF is no control
    if old.get("cpus") != cpus:
        return False  # cross-cpus or unstamped control (r14 guard)
    old_canary = old.get("canary", {})
    old_spark = min(
        old_canary.get("spark_pre", float("inf")),
        old_canary.get("spark_post", float("inf")),
    )
    new_spark = min(canary["spark_pre"], canary["spark_post"])
    return old_spark == float("inf") or new_spark <= 1.2 * old_spark


def compact_line(compact: dict) -> str:
    """The final stdout line: ``compact`` as one JSON line under 1,900
    characters (the driver captures a 2,000-char tail). The
    ``jitter`` map goes first, since the detail artifact keeps every
    flag; only a line still too long cuts ``queries`` to the 30
    slowest, so a noisy run keeps every timing as long as it can."""

    def dump(d: dict) -> str:
        return json.dumps(d, separators=(",", ":"))

    line = dump(compact)
    if len(line) > 1900 and "jitter" in compact:
        compact = {k: v for k, v in compact.items() if k != "jitter"}
        compact["jitter_in_detail_only"] = True
        line = dump(compact)
    if len(line) > 1900:
        top = sorted(compact["queries"].items(), key=lambda kv: -kv[1])[:30]
        compact = {
            **compact,
            "queries": dict(top),
            "queries_truncated_to_top30_by_time": True,
        }
        line = dump(compact)
    return line


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    import __spark_entry__ as E
    from sparkgraft.session import get_spark

    spark = get_spark("sparkgraft-bench")
    queries = E.queries()

    # warm: JVM, parquet footers/page cache, codegen paths — so query
    # timings measure the plans, not first-touch filesystem costs
    from sparkgraft.io import TPCH_TABLES, read_table

    spark.range(1000).selectExpr("sum(id)").collect()
    for t in TPCH_TABLES:
        try:
            read_table(spark, sf_dir, t).count()
        except Exception:
            pass
    # throwaway warm run of the suite opener: codegen/broadcast/AQE
    # machinery for the conformance shape compiles here, so the first
    # measured query stops absorbing residual JVM warmup (it measured
    # 1.8-7.9s across rounds as the opener with no code change)
    queries["conformance_flagship"](spark, sf_dir).write.mode(
        "overwrite"
    ).format("noop").save()

    # three passes, keep the min: single-JVM local mode has multi-second
    # run-to-run jitter (JIT compilation of generated code, GC, AQE
    # timing); min-of-2 published a 6x-off artifact in round 3
    # (conformance_pipeline_versioned 20.4s vs 3.26s on re-run), so the
    # min is taken over three. The cache is cleared between passes so
    # persisted intermediates don't carry over — only code/page-cache
    # warmth does.
    passes: dict[str, list[float]] = {name: [] for name in HEADLINE}
    exec_metrics: dict[str, dict[str, list[int]]] = {
        name: {"shuffle_read": [], "shuffle_write": [],
               "spill_mem": [], "spill_disk": []}
        for name in HEADLINE
    }
    read_metrics = _stage_metrics_reader(spark)
    read_metrics()  # consume warmup stages so pass 1 starts clean
    canary_pre = _canary(spark)
    read_metrics()  # canary stages are calibration, not query bytes
    for _ in range(3):
        spark.catalog.clearCache()
        for name in HEADLINE:
            fn = queries[name]
            t0 = time.time()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            passes[name].append(round(time.time() - t0, 3))
            for k, v in read_metrics().items():
                exec_metrics[name][k].append(v)

    # Auto re-probe: any query whose pass spread exceeds 2x (max/min)
    # gets up to 2 extra passes (5 total). Three rounds in a row burned
    # a manual investigation on a zero-spill host-contention outlier
    # (simhash r5, dedup_repeated_spans r5/r6, open_lineitems_per_day
    # r6); the re-probe settles it in-artifact. A query whose extra
    # passes land near the min with flat shuffle/spill bytes is flagged
    # "jitter" (contention/JIT, not a plan problem).
    jitter_flags: dict[str, dict] = {}

    def _outlier(ps: list[float]) -> bool:
        # sub-second spread is JIT/GC noise, not worth probing — the
        # floor keeps sf0.01 smoke runs from spamming flags while still
        # catching every multi-second driver-scale outlier
        return max(ps) / max(min(ps), 1e-9) > 2.0 and max(ps) - min(ps) >= 1.0

    for name in HEADLINE:
        ps = passes[name]
        # r8 (VERDICT r7 #4): once a query trips the outlier gate, run
        # BOTH extra passes unconditionally (5 total) — a flagged
        # query's recorded time is the MEDIAN of all 5 passes rather
        # than a min riding 3 noisy ones, so one contention spike can
        # no longer dominate the recorded spread (18% of the r7
        # headline was contention-flagged on min-of-3)
        if _outlier(ps):
            while len(ps) < 5:
                spark.catalog.clearCache()
                t0 = time.time()
                queries[name](spark, sf_dir).write.mode("overwrite").format(
                    "noop"
                ).save()
                ps.append(round(time.time() - t0, 3))
                for k, v in read_metrics().items():
                    exec_metrics[name][k].append(v)
        if _outlier(ps):
            m = exec_metrics[name]
            reads = [b for b in m["shuffle_read"] if b >= 0]
            flat_bytes = (not reads) or (
                max(reads) - min(reads) <= 0.1 * max(max(reads), 1)
            )
            no_spill = sum(m["spill_mem"]) + sum(m["spill_disk"]) == 0
            # re-probe passes that land near the min prove the PLAN is
            # fine even when byte attribution shifted (a persist
            # materialized under a different neighbor in pass 1-3)
            reprobe_fast = len(ps) > 3 and min(ps[3:]) <= 1.2 * min(ps)
            flag = (
                "jitter" if no_spill and (flat_bytes or reprobe_fast)
                else "unexplained"
            )
            jitter_flags[name] = {"flag": flag, "passes": len(ps)}

    # "queries" is the min per query (the stable plan-cost estimate) —
    # EXCEPT contention-flagged queries, which record the median of
    # their 5 passes (VERDICT r7 #4: a flagged min still rides 3 noisy
    # passes; the median of 5 is the stable statistic once the host is
    # known-contended). Full per-pass times + shuffle/spill bytes go to
    # the local artifact file — the driver captures only a 2,000-char
    # stdout tail, so the FINAL stdout line must be the compact summary
    # (r5/r6 shipped "parsed": null because the oversized single line
    # got truncated)
    import statistics

    canary_post = _canary(spark)
    canary = {
        "spark_pre": canary_pre["spark_sec"],
        "numpy_pre": canary_pre["numpy_sec"],
        "spark_post": canary_post["spark_sec"],
        "numpy_post": canary_post["numpy_sec"],
    }

    timings = {
        name: (
            round(statistics.median(ps), 3) if name in jitter_flags else min(ps)
        )
        for name, ps in passes.items()
    }
    total = round(sum(timings.values()), 3)
    exec_out = {
        name: m
        for name, m in exec_metrics.items()
        if any(m.values()) and any(sum(v) > 0 for v in m.values())
    }
    detail = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "passes": passes,
        "jitter_flags": jitter_flags,
        "exec_bytes_per_pass": exec_out,
        "canary": canary,
        "sf": sf,
        "cpus": cpus,
    }
    # Artifact discipline (r13, VERDICT r12 #6): every run writes its
    # OWN timestamped detail file, and the canonical
    # BENCH_latest_local.json — the committed quiet-host control the
    # round-over-round comparisons divide by — is only updated when
    # this run's canary is NOT >20% slower than the control's (a
    # contended run can add a new artifact but can never mutate the
    # quiet control in place; a quieter-or-equal run refreshes it).
    # r14 (VERDICT r13 #3): the guard also refuses CROSS-CPUS
    # overwrites — the driver runs the bench at a lower core count to
    # measure scaling, and in r13 that quiet 8-core run silently
    # replaced the 32-core control, contaminating every later
    # "vs control" comparison. A control is only comparable to a run
    # at the same sf AND the same core count.
    control_updated = False
    try:
        art = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "artifacts")
        os.makedirs(art, exist_ok=True)
        runid = time.strftime("%Y%m%d-%H%M%S")
        with open(
            os.path.join(art, f"BENCH_latest_local.{runid}.json"), "w"
        ) as f:
            json.dump(detail, f, indent=1)
        canonical = os.path.join(art, "BENCH_latest_local.json")
        old = None
        if os.path.exists(canonical):
            with open(canonical) as f:
                old = json.load(f) or {}
        if should_update_control(old, sf, cpus, canary):
            with open(canonical, "w") as f:
                json.dump(detail, f, indent=1)
            control_updated = True
    except Exception:
        pass  # artifact write is diagnostics, never a bench failure
    compact = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "canary": canary,
        "sf": sf,
        "cpus": cpus,
        "ctl": int(control_updated),  # 0 = contended run, quiet control kept
    }
    if jitter_flags:
        # compact form: "jitter/p5" per query (the full objects ride the
        # local artifact) — the object form pushed a noisy 14-flag run
        # past the 1,900-char stdout cap and truncated the query map
        compact["jitter"] = {
            name: f"{d['flag']}/p{d['passes']}"
            for name, d in jitter_flags.items()
        }
    print(compact_line(compact))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
