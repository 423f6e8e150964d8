"""Scale safety of the join choices.

Lowering ``spark.sql.autoBroadcastJoinThreshold`` to 1 KB stands in
for a corpus whose frames all outgrow the threshold.

- The graph fixpoints' checkpointed node-sized frames report their
  observed size, so they broadcast only while under the threshold:
  at 1 KB every round must plan sort-merge joins (no hint forces a
  broadcast), and the fixpoints must still match their DuckDB oracles.
- A cross or non-equi join whose small side is bounded by a constant
  Spark cannot see (a query set, a per-file range table) keeps its
  broadcast hint.  Without it the join plans a CartesianProduct: about
  P^2 tasks over the corpus, and adaptive execution cannot repair it
  when no exchange sits below it.  At 1 KB no registered plan may
  contain one.
"""

from __future__ import annotations

import pytest

from kinesis_s3_data_shipper_spark.operators import checkpoint
from kinesis_s3_data_shipper_spark.plans import REGISTRY, all_queries

from .conftest import SF_ORACLE, SF_SMALL
from .oracle_harness import run_pair

all_queries()

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


@pytest.mark.parametrize("name", ["graph_kcore_fixpoint",
                                  "graph_pagerank_fixpoint"])
def test_fixpoint_rounds_sort_merge_under_1kb_threshold(spark, monkeypatch,
                                                        name):
    plans = []
    real = checkpoint.truncated_checkpoint

    def recording(df, *args, **kwargs):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real(df, *args, **kwargs)

    monkeypatch.setattr(checkpoint, "truncated_checkpoint", recording)
    saved = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, "1024")
    try:
        spec = REGISTRY[name]
        run_pair(spark, SF_ORACLE, name, spec.spark, spec.oracle)
    finally:
        spark.conf.set(THRESHOLD, saved)
    rounds = [p for p in plans if "Join" in p]
    assert rounds, "the fixpoint must checkpoint joined round frames"
    assert all("SortMergeJoin" in p for p in rounds)
    assert not any("BroadcastHashJoin" in p for p in rounds)


def test_no_cartesian_product_under_1kb_threshold(spark):
    from scripts.audit_plans import audit
    saved = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, "1024")
    spark.catalog.clearCache()
    try:
        # Builds every registered plan, running its eager checkpoints:
        # about 2.5 min at sf0.001 (tests/test_plan_audit_gate.py).
        flagged, errors = audit(spark, SF_SMALL, threshold=10**6)
    finally:
        spark.conf.set(THRESHOLD, saved)
    assert not errors, errors
    assert not [n for n, c in flagged.items() if c["cartesian"]]
