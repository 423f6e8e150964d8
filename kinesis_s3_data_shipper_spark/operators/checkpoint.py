"""Lineage-truncating materialization for ITERATIVE dataflows.

Two primitives every checkpoint-per-round loop in this repo needs
(k-core / PageRank / Louvain fixpoints, min-label connected
components):

- :func:`truncated_checkpoint` — eager ``localCheckpoint`` that
  reports the checkpoint's OBSERVED row count times its row width.  ``Dataset.localCheckpoint``
  copies the origin plan's estimated statistics into the new
  LogicalRDD, and size-only join estimation MULTIPLIES children's
  ``sizeInBytes`` — so when a loop builds round N's checkpoints from
  round N-1's checkpoints, the BigInt estimate compounds
  exponentially in the round count (the Louvain fixpoint once spent
  ~70 s per level multiplying megabyte-long BigIntegers in the
  driver).  The origin estimate is therefore dropped, and the
  checkpoint instead reports the row count observed while it was
  written, times Spark's default row width for its schema.  For a
  fixed-width schema (numbers, booleans, dates, timestamps) that is
  the frame's size; ``autoBroadcastJoinThreshold`` and AQE then pick
  the join from it: a node-sized frame broadcasts while it is small
  and sort-merge joins once it is not, with no hint at the call site.
  A string, binary or nested column has no fixed width (Spark's
  default counts a string as 20 bytes and an array as one element),
  so such a frame reports Spark's default size instead and never
  broadcasts unhinted.

- :func:`release_checkpoint` — free a checkpointed frame's blocks
  once the loop has superseded it, so live storage stays O(1) rounds
  instead of O(rounds) (an 8-round peel otherwise parks ~17
  edge-scale block sets for the session lifetime).

Both reach through private APIs (the ``LogicalRDD`` constructor and
``classic.Dataset.ofRows``) and degrade gracefully: a Spark release
that moves the internals falls back to the plain checkpoint / skips
the release — correctness is never affected, only join choice, deep-
loop driver time and disk residency.  ``tests/test_truncated_
checkpoint.py`` fails the suite if the reported size ever degrades to
the fallback's inherited estimate on the running Spark version.

The re-wrapped leaf keeps the outputPartitioning and outputOrdering
that ``localCheckpoint`` recorded (under AQE usually none), and drops
the origin's constraints along with its statistics.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

log = logging.getLogger(__name__)

#: Column types whose Spark default width is their real width.
_FIXED_WIDTH = (T.NumericType, T.BooleanType, T.DateType, T.TimestampType,
                T.TimestampNTZType)


def truncated_checkpoint(df: DataFrame, storage_level=None) -> DataFrame:
    """Eager localCheckpoint that reports its observed row count times
    its row width, or Spark's default size for a variable-width schema
    (module doc)."""
    obs = Observation()
    ckpt = (df.observe(obs, F.count(F.lit(1)).alias("rows"))
            .localCheckpoint(eager=True, storageLevel=storage_level))
    try:
        spark = ckpt.sparkSession
        jvm, jss = spark._jvm, spark._jsparkSession
        leaf = ckpt._jdf.queryExecution().analyzed()
        none = jvm.scala.Option.empty()

        def wrap(stats):  # the checkpoint's RDD as a LogicalRDD
            return jvm.org.apache.spark.sql.classic.Dataset.ofRows(
                jss, jvm.org.apache.spark.sql.execution.LogicalRDD(
                    leaf.output(), leaf.rdd(), leaf.outputPartitioning(),
                    leaf.outputOrdering(), False, none, jss, stats, none))

        if not all(isinstance(f.dataType, _FIXED_WIDTH)
                   for f in ckpt.schema):
            return DataFrame(wrap(none), spark)
        # Spark sizes a limit(n) over a stats-free leaf as n × row width,
        # so its Statistics is the frame's size.  It stays a JVM object:
        # py4j returns a scala BigInt to Python as an int, so Statistics
        # cannot be built from Python.  Past Int.MaxValue rows the frame
        # reports that many, far above any broadcast threshold.
        stats = (wrap(none).limit(min(obs.get["rows"], 2**31 - 1))
                 .queryExecution().optimizedPlan().stats())
        return DataFrame(wrap(jvm.scala.Some(stats)), spark)
    except Exception as exc:  # private-API drift: fall back, but say so
        log.warning("truncated_checkpoint kept the inherited size "
                    "estimate (%s)", exc)
        return ckpt


def _logical_rdd_leaf(plan):
    """Descend through UNARY nodes (Project/Filter/...) to the
    LogicalRDD leaf, or None if the plan isn't a unary chain over one
    (a multi-child plan derives from several frames; releasing any one
    of them here would be a guess)."""
    while plan.getClass().getSimpleName() != "LogicalRDD":
        children = plan.children()
        if children.size() != 1:
            return None
        plan = children.apply(0)
    return plan


def release_checkpoint(df: DataFrame) -> bool:
    """Free a :func:`truncated_checkpoint` frame's blocks (module doc).
    Only call on frames no live result depends on: the checkpoint has
    no lineage, so its data is unrecoverable after release.

    Accepts the checkpoint frame itself OR a unary derivation of it
    (``ckpt.drop(col)`` is a Project over the LogicalRDD — the shape
    every loop that tags a convergence column produces).  Returns True
    iff blocks were actually released; a skipped release is WARN-logged
    so an O(rounds) block leak is visible, never silent.
    """
    try:
        leaf = _logical_rdd_leaf(df._jdf.queryExecution().analyzed())
        if leaf is None:
            log.warning(
                "release_checkpoint skipped: plan is not a unary chain "
                "over a LogicalRDD — blocks were NOT released")
            return False
        leaf.rdd().unpersist(False)
        return True
    except Exception as exc:  # private-API drift: skip, but say so
        log.warning("release_checkpoint skipped (%s) — blocks were "
                    "NOT released", exc)
        return False
