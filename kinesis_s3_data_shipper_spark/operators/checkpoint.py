"""The package's one eager materialization, and its release.

- :func:`truncated_checkpoint` — eager ``localCheckpoint`` that
  reports the size it measured while writing.  Every frame the package
  materializes goes through it (``tests/test_checkpoint_chokepoint.py``
  pins that), so what size a materialized frame reports is decided
  here and nowhere else.  ``Dataset.localCheckpoint`` alone copies the
  origin plan's estimated statistics into the new LogicalRDD: a
  |types| × 24-row aggregate of the corpus reports the corpus's size,
  and since size-only join estimation MULTIPLIES children's
  ``sizeInBytes``, a loop that builds round N's checkpoints from round
  N-1's compounds the BigInt estimate exponentially in the round count
  (the Louvain fixpoint once spent ~70 s per level multiplying
  megabyte-long BigIntegers in the driver).  The origin estimate is
  therefore dropped.  The ``observe()`` that rides on the write counts
  the rows and sums the bytes of every variable-width value:
  ``octet_length`` of a string or binary, element count × element
  width of an array or map of fixed-width elements (or of arrays of
  them); a null counts 0.  The frame reports
  ``max(rows × Spark's default row width, rows × UnsafeRow fixed
  region + measured bytes)`` — never below the plain row-count
  estimate, never below the bytes its values hold.
  ``autoBroadcastJoinThreshold`` and AQE then pick the join from it: a
  frame broadcasts while it is small and sort-merge joins once it is
  not, with no hint at the call site.  A column of any other nested
  type (a struct, an array of strings or structs) has no measure here,
  so such a frame reports Spark's default size and never broadcasts
  unhinted.

- :func:`release_checkpoint` — free a checkpointed frame's blocks
  once a loop has superseded it, so live storage stays O(1) rounds
  instead of O(rounds) (an 8-round peel otherwise parks ~17
  edge-scale block sets for the session lifetime).

- :func:`fixpoint` — the package's one iterate-to-convergence loop:
  each round is checkpointed, counted and released through it.

Both reach through private APIs (the ``LogicalRDD`` constructor,
``Limit`` statistics and ``classic.Dataset.ofRows``) and degrade
gracefully: a Spark release that moves the internals falls back to the
plain checkpoint / skips the release — correctness is never affected,
only join choice, deep-loop driver time and disk residency.
``tests/test_truncated_checkpoint.py`` fails the suite if the reported
size ever degrades to the fallback's inherited estimate on the running
Spark version.

The re-wrapped leaf keeps the outputPartitioning and outputOrdering
that ``localCheckpoint`` recorded (under AQE usually none), and drops
the origin's constraints along with its statistics.
"""

from __future__ import annotations

import logging

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

log = logging.getLogger(__name__)

#: Column types whose Spark default width is their real width.
_FIXED_WIDTH = (T.NumericType, T.BooleanType, T.DateType, T.TimestampType,
                T.TimestampNTZType)

#: Bytes one array element of a fixed-width type takes (8 otherwise).
_NARROW = {T.ByteType: 1, T.BooleanType: 1, T.ShortType: 2,
           T.IntegerType: 4, T.FloatType: 4, T.DateType: 4}


def _width(dtype) -> int:
    if isinstance(dtype, T.DecimalType) and dtype.precision > 18:
        return 16
    return _NARROW.get(type(dtype), 8)


def _bytes_of(dtype):
    """The bytes a value of ``dtype`` holds, as a function of its column
    (0 for null: ``size`` of a null is -1 or null, depending on ANSI
    mode), or None for a type this does not measure."""
    if isinstance(dtype, (T.StringType, T.BinaryType)):
        measure = F.octet_length
    elif isinstance(dtype, T.MapType):
        k, v = dtype.keyType, dtype.valueType
        if not (isinstance(k, _FIXED_WIDTH) and isinstance(v, _FIXED_WIDTH)):
            return None
        measure = lambda c: F.size(c) * (_width(k) + _width(v))  # noqa: E731
    elif not isinstance(dtype, T.ArrayType):
        return None
    elif isinstance(dtype.elementType, _FIXED_WIDTH):
        width = _width(dtype.elementType)
        measure = lambda c: F.size(c) * width  # noqa: E731
    elif (isinstance(dtype.elementType, T.ArrayType)
          and (inner := _bytes_of(dtype.elementType))):
        measure = lambda c: F.aggregate(  # noqa: E731
            c, F.lit(0), lambda acc, x: acc + inner(x))
    else:
        return None
    return lambda c: F.greatest(measure(c), F.lit(0))


def truncated_checkpoint(df: DataFrame, storage_level=None) -> DataFrame:
    """Eager localCheckpoint that reports its measured size (module
    doc)."""
    schema = df.schema
    variable = [(f.name, _bytes_of(f.dataType)) for f in schema
                if not isinstance(f.dataType, _FIXED_WIDTH)]
    measured = all(measure for _, measure in variable)
    if measured:
        obs = Observation()
        metrics = [F.count(F.lit(1)).alias("rows")]
        if variable:
            metrics.append(F.sum(sum(
                measure(F.col("`%s`" % name.replace("`", "``")))
                for name, measure in variable).cast("long")).alias("bytes"))
        df = df.observe(obs, *metrics)
    ckpt = df.localCheckpoint(eager=True, storageLevel=storage_level)
    try:
        spark = ckpt.sparkSession
        jss = spark._jsparkSession

        def jclass(name):  # by full name: no py4j round trip per package
            return JavaClass(name, spark._jvm._gateway_client)

        leaf = ckpt._jdf.queryExecution().analyzed()
        output, rdd = leaf.output(), leaf.rdd()
        part, order = leaf.outputPartitioning(), leaf.outputOrdering()
        none = jclass("scala.Option").empty()
        logical_rdd = jclass("org.apache.spark.sql.execution.LogicalRDD")

        def wrap(stats):  # the checkpoint's RDD as a LogicalRDD
            return logical_rdd(output, rdd, part, order, False, none, jss,
                               stats, none)

        stats = none
        if measured:
            got = obs.get
            rows = got["rows"]
            if variable:
                # UnsafeRow: a null-bit word per 64 columns and an
                # 8-byte slot per column, then the variable bytes.
                n = len(schema)
                size = rows * 8 * ((n + 63) // 64 + n) + (got["bytes"] or 0)
                width = 8 + leaf.schema().defaultSize()
                rows = max(rows, -(-size // width))
            # Spark sizes a limit(n) over a stats-free leaf as n × its
            # default row width, so that Statistics is the frame's
            # size.  It is built in the JVM: py4j returns a scala BigInt
            # to Python as an int, so Statistics cannot be built from
            # Python.  Past Int.MaxValue rows the frame reports that
            # many, far above any broadcast threshold.
            catalyst = "org.apache.spark.sql.catalyst."
            limit = jclass(catalyst + "plans.logical.Limit").apply(
                getattr(jclass(catalyst + "expressions.Literal$"),
                        "MODULE$").apply(min(rows, 2**31 - 1)),
                wrap(none))
            stats = jclass("scala.Some")(limit.stats())
        return DataFrame(jclass("org.apache.spark.sql.classic.Dataset")
                         .ofRows(jss, wrap(stats)), spark)
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


def fixpoint(state, step, *, rounds: int):
    """Iterate ``step`` from ``state`` until a round changes nothing,
    at most ``rounds`` times, and return the last state.

    ``state`` is a frame or a tuple of frames.  ``step(state)`` returns
    ``(next_state, n_changed, scratch)``: the next round's frames,
    materialized eagerly (:func:`truncated_checkpoint`) with the change
    count observed on the same write, so a round costs its checkpoint
    jobs and no separate convergence scan; and a tuple of the frames
    the round built only for itself.  Round N reads round N-1's blocks
    only, never a lineage chain re-deriving every earlier round.

    Every round releases ``scratch``.  On progress the old state's
    frames the new state does not hold are released, so live blocks
    stay O(1) rounds, not O(rounds).  On ``n_changed == 0`` the new
    frames are released instead and the state ``step`` was given is
    returned: a step that changes nothing is the identity, so a
    fixpoint reached before the cap is the state every later round
    would return, and an oracle that unrolls all ``rounds`` agrees.
    A step that knows it changed nothing may return its input state
    itself and skip building the next one.

    The loop stops only on a zero count.  Observed metrics are
    accumulator-backed, and a task retry can only inflate them, so a
    retry costs at most an extra round, never an early stop.
    """
    def frames(s):
        return s if isinstance(s, tuple) else (s,)

    for _ in range(rounds):
        nxt, n_changed, scratch = step(state)
        dead, live = (state, nxt) if n_changed else (nxt, state)
        for df in scratch + frames(dead):
            if not any(df is kept for kept in frames(live)):
                release_checkpoint(df)
        if not n_changed:
            return state
        state = nxt
    return state
