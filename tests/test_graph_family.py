"""Semantic invariants of the co-purchase graph family's composed
queries (the oracle gate proves Spark==DuckDB; these prove both equal
the DEFINITIONS — a k-core is degree->=k and peel-stable, contraction
preserves total weighted degree)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kinesis_s3_data_shipper_spark.plans import REGISTRY, all_queries
from kinesis_s3_data_shipper_spark.plans.analytics import _KCORE_K

from .conftest import persisted_since

all_queries()

SF = "/root/testdata/sf0.001"


def test_kcore_fixpoint_is_a_kcore(spark):
    """Every surviving node has within-core degree >= k (the defining
    property), and the fixpoint is a SUBSET of the 2-round peel's
    round-2 survivors (peeling is monotone)."""
    fix = REGISTRY["graph_kcore_fixpoint"].spark(spark, SF)
    rows = fix.collect()
    assert rows, "fixture graph must have a non-empty 5-core"
    assert all(r.core_deg >= _KCORE_K for r in rows)
    peel = REGISTRY["graph_kcore_peel"].spark(spark, SF)
    two_round = {r.node for r in peel.filter(
        F.col("deg2").isNotNull()).collect()}
    assert {r.node for r in rows} <= two_round


def test_kcore_fixpoint_stable_under_one_more_peel(spark):
    """Peeling the converged core once more must drop nothing: every
    node already has degree >= k inside the core."""
    fix = REGISTRY["graph_kcore_fixpoint"].spark(spark, SF).collect()
    # within-core degrees ARE the post-peel degrees; stability is
    # exactly min(core_deg) >= k on the closed subgraph, which the
    # query reports directly.
    assert min(r.core_deg for r in fix) >= _KCORE_K


def test_louvain_contraction_preserves_total_degree(spark):
    """2m is invariant under contraction: the contracted super-node
    degrees (intra-community edges folded in) must sum to the same
    total as phase 1's node degrees, and the contracted node set must
    equal phase 1's chosen communities."""
    merge = REGISTRY["graph_louvain_merge_step"].spark(spark, SF)
    contract = REGISTRY["graph_louvain_contract_step"].spark(spark, SF)
    m_rows = merge.collect()
    c_rows = contract.collect()
    assert sum(r.k_node for r in m_rows) == sum(r.k_node for r in c_rows)
    assert {r.community for r in m_rows} == {r.node for r in c_rows}
    # gains are clamped at 0 (stay-put), never negative
    assert all(r.gain_num >= 0 for r in c_rows)


def test_fixpoint_releases_superseded_round_blocks(spark):
    """r08 advice: the 8-round peel must not accumulate one DISK_ONLY
    block set per round for the session lifetime.  After the result is
    consumed, at most the final round's survivor set (plus the frames
    a still-live result could read) may remain persistent."""
    with persisted_since(spark) as left:
        out = REGISTRY["graph_kcore_fixpoint"].spark(spark, SF)
        rows = out.collect()
    assert rows
    # und (the live fixpoint edge set feeding `out`) is allowed to
    # stay; superseded rounds (deg + prior survivors, ~2 per round)
    # must be gone.
    assert len(left) <= 2, left


@pytest.mark.parametrize("name", ["graph_kcore_fixpoint",
                                  "graph_pagerank_fixpoint",
                                  "graph_louvain_fixpoint"])
def test_fixpoint_result_reads_checkpoints_not_parquet(spark, name):
    """The returned plan of every fixpoint must read the FINAL round's
    materialized blocks (Scan ExistingRDD), never a lineage chain that
    re-derives prior rounds from the parquet scans — the r07 defect
    class (248 scans in k-core) pinned at the composition level."""
    df = REGISTRY[name].spark(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "parquet" not in plan.lower(), plan[:2000]
    assert "ExistingRDD" in plan


def test_connected_components_releases_superseded_round_blocks(spark):
    """r09 advice: the min-label CC loop releases each superseded
    round via release_checkpoint(ckpt.drop('_changed')) — a Project
    over the LogicalRDD that the old release silently no-op'd on,
    leaking one block set per round.  With the unary-unwrap fix the
    loop must leave at most the FINAL labels checkpoint (plus the
    persisted sym edge set it already unpersists) live after the
    result is consumed."""
    with persisted_since(spark) as left:
        out = REGISTRY["dedup_clusters_cc"].spark(spark, SF)
        rows = out.collect()
    assert rows
    # The live result may keep the final round's labels checkpoint
    # (and round 0's initial checkpoint if the graph converged in one
    # pass); every superseded middle round must be gone.
    assert len(left) <= 2, left


@pytest.mark.parametrize("name", ["graph_louvain_fixpoint",
                                  "graph_pagerank_fixpoint"])
def test_other_fixpoints_release_superseded_round_blocks(spark, name):
    """r10 verdict ask #6: the k-core and CC loops carry block-count
    gates; Louvain and PageRank release per round through the SAME
    release_checkpoint primitive, so the same bound must hold — after
    the result is consumed, at most the final round's checkpoint plus
    one live input frame may remain, never one block set per round."""
    with persisted_since(spark) as left:
        out = REGISTRY[name].spark(spark, SF)
        rows = out.collect()
    assert rows
    assert len(left) <= 2, (name, left)
