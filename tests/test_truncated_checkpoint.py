"""The iterative-checkpoint stats firewall (operators/checkpoint.py).

``Dataset.localCheckpoint`` copies the origin plan's estimated
statistics into the new LogicalRDD, and join estimation MULTIPLIES
children's sizeInBytes — so a loop that checkpoints each round's
output (built from the previous round's checkpoints) compounds the
BigInt estimate exponentially in the round count, and the driver ends
up burning seconds-per-round on BigInteger arithmetic inside the stats
visitor (the round-9 Louvain finding: 98 s -> 10 s for 6 levels).
These tests pin the firewall: a chained truncated_checkpoint keeps a
BOUNDED size estimate where the plain localCheckpoint chain provably
explodes, the estimate it reports instead is the frame's measured size
(variable-width values included), and the wrapped frame still reads the
same persisted blocks.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kinesis_s3_data_shipper_spark.operators.checkpoint import (
    _logical_rdd_leaf, release_checkpoint, truncated_checkpoint)

from .conftest import persisted_since

ROUNDS = 4


def _one_round(cur):
    # Two self-joins per round — the louvain/cund shape whose size
    # estimate is the PRODUCT of three children.
    a = cur.select(F.col("k"), F.col("v").alias("va"))
    b = cur.select(F.col("k"), F.col("v").alias("vb"))
    return (cur.join(a, "k").join(b, "k")
            .select("k", (F.col("v") + F.col("va") + F.col("vb"))
                    .alias("v")))


def _size_bits(df) -> int:
    # py4j converts the scala BigInt to a Python int directly.
    return int(df._jdf.queryExecution().optimizedPlan().stats()
               .sizeInBytes()).bit_length()


def _size(df) -> int:
    return int(df._jdf.queryExecution().optimizedPlan().stats()
               .sizeInBytes())


def test_chained_truncated_checkpoints_keep_bounded_stats(spark):
    base = spark.range(50).selectExpr("id as k", "id as v")
    cur = truncated_checkpoint(base)
    for _ in range(ROUNDS):
        cur = truncated_checkpoint(_one_round(cur))
    # Long.MaxValue-scale default estimate: well under 128 bits.  The
    # unfirewalled chain triples-or-worse its bit-length per round
    # (asserted below), so a lapsed firewall fails this loudly.
    assert _size_bits(cur) < 128


def test_plain_localcheckpoint_chain_explodes_without_firewall(spark):
    """The hazard is real in THIS Spark version: the raw chain's
    estimate grows superlinearly per round.  If a Spark upgrade fixes
    stat inheritance, this test starts failing — then the firewall
    (and this pair of tests) can be retired."""
    base = spark.range(50).selectExpr("id as k", "id as v")
    cur = base.localCheckpoint(eager=True)
    bits = []
    for _ in range(3):
        cur = _one_round(cur).localCheckpoint(eager=True)
        bits.append(_size_bits(cur))
    assert bits[-1] > 2 * bits[0] and bits[-1] > 200, bits


def test_wrapped_frame_reads_the_same_blocks(spark):
    base = spark.range(100).selectExpr("id as k", "id as v")
    w = truncated_checkpoint(base)
    assert w.count() == 100
    assert sorted(r.k for r in w.collect()) == list(range(100))
    release_checkpoint(w)


def test_checkpoint_reports_measured_size_and_broadcasts_unhinted(spark):
    """A 50-row join product whose inherited estimate is above the
    broadcast threshold reports, once checkpointed, a size within 2x
    of its materialized bytes, and a large frame joined against it
    plans a BroadcastHashJoin with no hint.  The fallback (the plain
    checkpoint, inherited estimate) fails both checks, so this also
    catches the wrap degrading on a new Spark version."""
    threshold = (spark._jsparkSession.sessionState().conf()
                 .autoBroadcastJoinThreshold())
    joined = _one_round(spark.range(50).selectExpr("id as k", "id as v"))
    plain = joined.localCheckpoint(eager=True)
    assert _size(plain) > threshold >= 2**20
    ckpt = truncated_checkpoint(joined)
    # Materialized as UnsafeRows: an 8-byte null bitset word plus one
    # 8-byte slot per long column.
    materialized = ckpt.count() * (8 + 8 * len(ckpt.columns))
    size = _size(ckpt)
    assert materialized / 2 <= size <= 2 * materialized, (size,
                                                          materialized)
    large = spark.range(10**9).selectExpr("id % 50 as k", "id as z")

    def plan(right):
        return (large.join(right, "k")._jdf.queryExecution()
                .executedPlan().toString())

    assert "BroadcastHashJoin" in plan(ckpt)
    assert "BroadcastHashJoin" not in plan(plain)
    release_checkpoint(ckpt)
    release_checkpoint(plain)


def test_variable_width_checkpoint_reports_measured_bytes(spark):
    """A string or array has no fixed width (Spark's default counts a
    string as 20 bytes and an array as one element), so a row-count
    size would under-report these frames 25-50x.  The checkpoint sums
    their value bytes while it writes them and reports a size between
    those bytes and twice them.  At a 10 KB threshold the 50 KB string
    frame must not broadcast; sized by default widths (50 rows x 36 B)
    it would."""
    strings = truncated_checkpoint(spark.range(50).selectExpr(
        "id as k", "repeat('x', 1000) as s"))
    floats = truncated_checkpoint(spark.range(50).selectExpr(
        "id as k", "array_repeat(cast(id as float), 256) as a"))
    for ckpt, value_bytes in ((strings, 50 * 1000), (floats, 50 * 256 * 4)):
        assert value_bytes <= _size(ckpt) <= 2 * value_bytes, (
            _size(ckpt), value_bytes)
    large = spark.range(10**9).selectExpr("id % 50 as k", "id as z")
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024))
    try:
        plan = (large.join(strings, "k")._jdf.queryExecution()
                .executedPlan().toString())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    assert "BroadcastHashJoin" not in plan
    release_checkpoint(strings)
    release_checkpoint(floats)


def test_struct_checkpoint_reports_default_size(spark):
    """A struct is a nested type the checkpoint does not measure, so it
    reports Spark's default size, as the origin-free leaf would."""
    ckpt = truncated_checkpoint(spark.range(50).selectExpr(
        "id as k", "named_struct('s', repeat('x', 1000)) as st"))
    assert _size(ckpt) == (spark._jsparkSession.sessionState().conf()
                           .defaultSizeInBytes())
    release_checkpoint(ckpt)


def test_release_unwraps_unary_derivations(spark):
    """r09 advice (medium): every checkpoint-per-round loop tags a
    convergence column and releases ``ckpt.drop(tag)`` — a Project
    over the LogicalRDD.  The release must unwrap to the leaf and
    actually free the blocks (returns True), not silently no-op."""
    with persisted_since(spark) as left:
        ckpt = truncated_checkpoint(
            spark.range(40).selectExpr("id as k", "id as v",
                                       "id % 2 as _changed"))
        derived = ckpt.drop("_changed").select("k", "v")
        assert release_checkpoint(derived) is True
    assert not left, left


def test_release_refuses_multi_child_plans(spark):
    """A join of two checkpoints is not a unary chain over ONE leaf;
    releasing either would be a guess.  Must return False (and warn),
    never raise, never release."""
    a = truncated_checkpoint(spark.range(10).selectExpr("id as k"))
    b = truncated_checkpoint(spark.range(10).selectExpr("id as k"))
    assert release_checkpoint(a.join(b, "k")) is False
    # Nothing released: a's and b's RDDs are still persisted.  (Not a
    # map-size compare: other tests' RDDs leave the map whenever
    # Python's GC collects their py4j handles.)
    live = set(spark.sparkContext._jsc.getPersistentRDDs().keySet()
               .toArray())
    ids = {_logical_rdd_leaf(f._jdf.queryExecution().analyzed()).rdd().id()
           for f in (a, b)}
    assert ids <= live, (ids, live)
    release_checkpoint(a)
    release_checkpoint(b)


def test_observe_metric_fires_during_checkpoint_materialization(spark):
    """r13 optimization pin: the graph fixpoint loops fuse their
    convergence aggregate into the per-round checkpoint via
    ``observe()`` — one job per round instead of two.  That relies on
    ``localCheckpoint(eager=True)`` counting as the action that
    populates the Observation (for the plain AND the DISK_ONLY
    storage-level path).  A Spark upgrade that stops delivering
    metrics for the checkpoint action must fail HERE, not stall a
    fixpoint loop waiting on ``obs.get``."""
    from pyspark.sql import Observation
    from pyspark.storagelevel import StorageLevel

    for level in (None, StorageLevel.DISK_ONLY):
        obs = Observation()
        df = (spark.range(100)
              .selectExpr("id as k", "id % 7 as gain")
              .observe(obs, F.sum("gain").alias("total_gain"),
                       F.count(F.when(F.col("k") % 2 == 0, 1))
                       .alias("n_changed")))
        ckpt = (truncated_checkpoint(df) if level is None
                else truncated_checkpoint(df, level))
        got = obs.get
        assert got["total_gain"] == sum(i % 7 for i in range(100))
        assert got["n_changed"] == 50
        # The checkpointed frame is intact and readable afterwards.
        assert ckpt.count() == 100
        release_checkpoint(ckpt)
