"""The two stream-static joins (the customer dimension in
``streaming_enrich``, the per-user baseline in ``streaming_cusum``) grow
with the corpus, so neither forces a broadcast: with broadcast joins
off the streaming plan has no BroadcastHashJoin, and both queries
still match the DuckDB oracle."""

from __future__ import annotations

import pytest

import kinesis_s3_data_shipper_spark.streaming.jobs as jobs
from kinesis_s3_data_shipper_spark.plans import REGISTRY, all_queries

from .oracle_harness import run_pair


@pytest.mark.parametrize("name", ["streaming_enrich", "streaming_cusum"])
def test_stream_static_join_without_broadcast(spark, sf_oracle, monkeypatch,
                                              name):
    all_queries()
    spec = REGISTRY[name]
    queries = []
    drain = jobs._drain

    def capture(spark, writer):
        queries.append(drain(spark, writer))
        return queries[-1]

    monkeypatch.setattr(jobs, "_drain", capture)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        run_pair(spark, sf_oracle, name, spec.spark, spec.oracle)
    finally:
        spark.conf.set(key, old)
    (query,) = queries
    plan = query._jsq.explainInternal(False)
    assert "SortMergeJoin" in plan and "Broadcast" not in plan, plan
