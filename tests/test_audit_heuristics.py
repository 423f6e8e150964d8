"""Unit pins for scripts/audit_plans.py's text heuristics (both r11
advice fixes): the ambiguous 2-bracket-group Window resolution must
follow the order-spec GRAMMAR, and the top-level splitter must keep
function arguments together."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

from scripts.audit_plans import _top_level_entries, _window_is_unpartitioned


def test_one_group_is_unpartitioned():
    assert _window_is_unpartitioned("[count(1) AS n#5L]")


def test_three_groups_is_partitioned():
    assert not _window_is_unpartitioned(
        "[row_number() AS rn#1], [user_id#2L], [ts#3L ASC NULLS FIRST]")


def test_two_groups_order_spec_is_unpartitioned():
    assert _window_is_unpartitioned(
        "[row_number() AS rn#1], [n#2L DESC NULLS LAST, k#3 ASC NULLS FIRST]")
    assert _window_is_unpartitioned(
        "[rank() AS r#1], [score#2 DESC]")


def test_two_groups_partition_spec_is_partitioned():
    assert not _window_is_unpartitioned(
        "[sum(v#1) AS s#2], [user_id#3L]")
    # the r11 advice case: a PARTITION expression whose printed text
    # embeds a sort-order string inside parens — substring matching
    # called this unpartitioned; the grammar must not
    assert not _window_is_unpartitioned(
        "[sum(v#1) AS s#2], "
        "[windowspecdefinition(k#3, ts#4 ASC NULLS FIRST, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "currentrow$()))]")
    assert not _window_is_unpartitioned(
        "[sum(v#1) AS s#2], [sort_array(arr#3, true), k#4]")


def test_two_groups_mixed_entries_not_order_spec():
    # ALL entries must end with a direction for the group to be an
    # order spec; one bare expression makes it a partition spec
    assert not _window_is_unpartitioned(
        "[f() AS x#1], [a#2 ASC NULLS FIRST, b#3]")


def test_top_level_entries_keeps_function_args_together():
    assert _top_level_entries("[f(a, b), c, g(h(x, y))]") == [
        "f(a, b)", "c", "g(h(x, y))"]
    assert _top_level_entries("[one]") == ["one"]
    assert _top_level_entries("[]") == []


def test_invariant_lambda_call_detector():
    from scripts.audit_plans import _invariant_lambda_calls

    # the r12 find in miniature: split(text, ' ') inside a transform
    # lambda referencing only outer attributes -> flagged
    bad = ("Project [transform(sequence(1, 10), "
           "lambdafunction(size(split(text#5,  , -1)), "
           "lambda i#9, false)) AS grams#7]")
    assert _invariant_lambda_calls(bad) == 1
    # split ON the lambda variable is per-element by nature -> clean
    good = ("Project [transform(parts#3, "
            "lambdafunction(split(lambda p#4, :, -1), "
            "lambda p#4, false)) AS kv#6]")
    assert _invariant_lambda_calls(good) == 0
    # the let pattern: the expensive call is the COLLECTION argument
    # (outside the lambda body) -> clean
    let_form = ("Project [transform(array(split(text#5,  , -1)), "
                "lambdafunction(size(lambda toks#8), "
                "lambda toks#8, false))[0] AS n#9]")
    assert _invariant_lambda_calls(let_form) == 0
    # nested lambdas: the inner invariant call counted exactly once
    nested = ("Project [transform(a#1, lambdafunction(transform(b#2, "
              "lambdafunction(regexp_replace(s#3, x, y), "
              "lambda q#4, false)), lambda r#5, false)) AS z#6]")
    assert _invariant_lambda_calls(nested) == 1


def test_invariant_lambda_fires_on_live_plan(spark):
    """End-to-end: a real executed plan with the pitfall flags, and
    its let-bound twin is clean (r12 verdict ask #7)."""
    from pyspark.sql import functions as F

    from kinesis_s3_data_shipper_spark.operators.dedup import let
    from scripts.audit_plans import audit_query

    df = spark.createDataFrame([("a b c d",)], "text string")
    bad = df.select(F.expr(
        "transform(sequence(1, size(split(text, ' '))),"
        " i -> split(text, ' ')[i - 1]) AS toks"))
    assert audit_query(bad)["invariant_lambda_calls"] >= 1
    good = df.select(F.expr(let(
        "split(text, ' ')", "toks",
        "transform(sequence(1, size(toks)), i -> toks[i - 1])")
        + " AS toks"))
    assert audit_query(good)["invariant_lambda_calls"] == 0


def test_cache_dedup_key_two_consumers_one_key(spark):
    """r12 advice: the physical-scan cache-dedup key assumes Spark
    reprints a cached relation's BUILD subtree byte-identically (post
    id-normalization of the header) under every consumer.  Pin it:
    two consumers of ONE persisted relation must dedup to one
    physical scan; a Spark upgrade that re-aliases ids inside the
    reprinted subtree per consumer breaks this test before it can
    false-positive the gate."""
    import os

    from pyspark.sql import functions as F

    from scripts.audit_plans import audit_query

    path = os.path.join("/tmp", "audit_cache_pin.parquet")
    spark.range(100).select(F.col("id"), (F.col("id") % 7).alias("k")) \
        .write.mode("overwrite").parquet(path)
    base = (spark.read.parquet(path)
            .groupBy("k").agg(F.sum("id").alias("s")).cache())

    def consumers(n):
        out = base.select("k", "s")
        for i in range(1, n):
            out = out.unionByName(
                base.select("k", (F.col("s") * (i + 1)).alias("s")))
        return out

    try:
        consumers(2).count()  # materialize so consumers reprint
        c2, c3 = audit_query(consumers(2)), audit_query(consumers(3))
        phys2 = c2["per_source_physical"].get("audit_cache_pin", 0)
        phys3 = c3["per_source_physical"].get("audit_cache_pin", 0)
        text2 = c2["per_source"].get("audit_cache_pin", 0)
        text3 = c3["per_source"].get("audit_cache_pin", 0)
        # The pinned invariant: the PHYSICAL count keys the build
        # subtree once however many consumers reprint it (AQE's
        # current+initial sections make the absolute value 2 here,
        # which is fine — it's constant), while the textual count
        # grows with consumers.
        assert phys2 == phys3, (c2, c3)
        assert text3 > text2, (c2, c3)
    finally:
        base.unpersist()


def test_join_counts_follow_the_size_rule(spark):
    """The audit's ``joins`` record counts physical join nodes: a small
    side broadcasts, and with the threshold off the same join
    sort-merges."""
    from scripts.audit_plans import audit_query

    big = spark.range(1000).selectExpr("id % 10 as k", "id")
    small = spark.range(10).selectExpr("id as k")
    assert audit_query(big.join(small, "k"))["joins"] == {
        "BroadcastHashJoin": 1, "BroadcastNestedLoopJoin": 0,
        "SortMergeJoin": 0, "ShuffledHashJoin": 0}
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joins = audit_query(big.join(small, "k"))["joins"]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    assert joins["SortMergeJoin"] == 1 and joins["BroadcastHashJoin"] == 0
