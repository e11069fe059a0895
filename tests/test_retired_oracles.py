"""The retired query tier stays correct even though it no longer
consumes driver-gate slots (queries/__init__.py coverage policy):
every retired query runs on Spark AND its DuckDB oracle on the same
parquet tables, compared with the driver's discipline — row count,
sorted column names, and cell values (rows sorted by all columns).
"""

from __future__ import annotations

import json
import os

import pytest

from sparkgraft import queries as Q
from tools.oracle_check import compare

from conftest import REPO_ROOT, SF_DIR

REACH_REPORT = os.path.join(REPO_ROOT, "artifacts", "RETIRED_REACH.json")


# The two queries that were BORN rows-only (engine-specific ANN
# bucketing/indexing; no SQL twin exists by design) and were rotated to
# the retired tier in r6 once their hash-checked planted-oracle twins
# (ann_lsh_top1_planted / ann_ivf_top1_planted) took over the ACTIVE
# evidence. Recall-vs-brute-force is asserted in tests/test_similarity.
ROWS_ONLY_RETIRED = {
    "ann_lsh_topk",
    "ann_ivf_topk",
    # r7: the ANN-armed hybrid's RP-LSH bucketing is not practically
    # re-expressible in SQL (the ann_lsh_topk precedent); its fused
    # top-10 is recall-gated against the fully-oracled exact twin in
    # tests/test_similarity.py::test_hybrid_retrieval_ann_tier_tracks_exact_tier
    "hybrid_retrieval_rrf_ann",
    # r8 (VERDICT r7 #1): the two remaining born-rows-only actives
    # rotate here — their hash-checked planted twins
    # (embedding_near_dup_lsh_planted active since r5;
    # semantic_dedup_planted promoted to active r8) carry the oracle
    # evidence, and the freed slots make CORRECTNESS_r08 the first
    # all-hash-green artifact. Recall/keep-rule/plan-shape coverage
    # stays in tests/test_similarity.py and tests/test_semdedup.py.
    "embedding_near_dup_lsh",
    "semantic_dedup_embeddings",
}


def test_retired_tier_is_fully_oracled():
    # retirement must never silently downgrade a query to rows-only:
    # the only un-oracled retired entries are the documented
    # born-rows-only pair whose planted twins hold the active oracle
    assert set(Q.RETIRED_QUERIES) - set(Q.RETIRED_ORACLES) == ROWS_ONLY_RETIRED
    # and never shadow an active name
    assert not set(Q.RETIRED_QUERIES) & set(Q.QUERIES)


@pytest.mark.parametrize("name", sorted(Q.RETIRED_ORACLES))
def test_retired_query_matches_oracle(spark, name, duck):
    sdf = Q.RETIRED_QUERIES[name](spark, SF_DIR).toPandas()
    odf = duck.sql(Q.RETIRED_ORACLES[name]).df()
    problems = compare(name, sdf, odf)
    assert not problems, f"{name}: {problems}"


def test_retired_tier_is_what_the_reach_report_keeps():
    # tools/reach_report.py decides which retired queries stay: the
    # registry holds exactly its `kept` entries and none it deleted
    with open(REACH_REPORT) as f:
        verdict = json.load(f)["retired"]
    kept = {n for n, v in verdict.items() if v.startswith("kept: ")}
    deleted = {n for n, v in verdict.items() if v.startswith("deleted: ")}
    assert kept | deleted == set(verdict)
    assert set(Q.RETIRED_QUERIES) == kept
    assert not deleted & (set(Q.QUERIES) | set(Q.RETIRED_QUERIES))
