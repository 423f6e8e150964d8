"""Streaming jobs: the ingest pipeline and event-time analytics as
Structured Streaming queries.

The reference emulates a stream by re-running a batch program against
an S3 prefix with a hand-rolled seen-files log (SQLite, K:48-68,
210-216) and gets at-least-once with silent batch loss (SURVEY §3).
Structured Streaming's file source + checkpoint subsumes that state
machine natively: the checkpoint's seen-files log IS the reference's
`files` table, exactly-once per micro-batch epoch, `latestFirst=false`
preserving its oldest-first ordering (K:292), `maxFilesPerTrigger`
bounding a trigger the way `--humio-batch` bounded a POST. The ingest
query's ``foreachBatch`` body is the batch shipper's own ship step,
which has no shuffle.

Every query starts and drains in one place, :func:`_drain`, under a
run-once ``trigger(availableNow=True)`` over a checkpointed source.
Queries whose emissions the caller reads back build their sink in
:func:`_drain_emissions` (a memory table, or a checkpoint-recoverable
parquet directory); the ingest and incremental-merge queries hand
their own ``foreachBatch`` body to :func:`_drain`.

The stateful twins of the batch plans (CUSUM, rate limit,
MATCH_RECOGNIZE, Holt, change point) share one per-key fold,
:func:`_fold_per_key`: per-key state, versioned in the checkpoint and
updated once per micro-batch.  Each batch concatenates a key's rows,
sorts them by (ts, event_id), folds them into the state with the
twin's ``step``, and emits the new state; the drained result is each
key's last emission, found by the monotone row count ``seen``.  EXACT
batch parity requires the cross-batch fold order to equal the batch
plan's per-key (ts, event_id) order: the caller stages the landing dir
as ts-RANGE slices with increasing mtimes
(``plans/streaming.py::_stage_time_slices``) and the twins read it with
``maxFilesPerTrigger=1``, so batch k holds exactly the k-th time slice
and the concatenation of per-batch sorted folds IS the global order.
Each ``step`` performs the batch fold's IEEE double (or exact integer)
operations in the identical order on scalar Python values, so the
drained state matches the batch plan bit for bit before the shared
final rounding, which runs JVM-side.  With ``output_dir`` a restarted
query keeps folding its restored state over only the new files (see
:func:`_drain_emissions`).
"""

from __future__ import annotations

import copy
import datetime
import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.changepoint import best_split
from ..session import ensure_runtime_confs
from ..sources.kinesis import firehose_landing_source

#: The driver's events table has shipped as both TIMESTAMP(NANOS)
#: parquet (readable only as epoch-nanos LongType, `nanosAsLong`) and
#: plain TIMESTAMP(MICROS); streaming sources need an explicit schema,
#: so the DDL is picked per landing dir by sniffing one file's footer.
EVENTS_DDL_LONG = ("event_id LONG, ts LONG, user_id LONG,"
                   " event_type STRING, value DOUBLE, props STRING")
EVENTS_DDL_TS = ("event_id LONG, ts TIMESTAMP_NTZ, user_id LONG,"
                 " event_type STRING, value DOUBLE, props STRING")

NS_PER_HOUR = 3_600_000_000_000


def _events_ddl(events_dir: str) -> str:
    """Sniff one staged parquet footer and return the matching DDL."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(events_dir, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no *.parquet under {events_dir}")
    ts_type = pq.read_schema(files[0]).field("ts").type
    if pa.types.is_timestamp(ts_type) and ts_type.unit != "ns":
        return EVENTS_DDL_TS
    return EVENTS_DDL_LONG


def _event_time(df: DataFrame):
    """Event-time Column from `ts`, whichever physical form it has.

    The session time zone is pinned UTC, so the ntz→timestamp cast
    reads the naive value as a UTC instant; the long branch truncates
    nanos to micros exactly like the batch queries' `ts div 1000`.
    """
    if dict(df.dtypes)["ts"] in ("timestamp", "timestamp_ntz"):
        return F.col("ts").cast("timestamp")
    return F.timestamp_micros(F.expr("ts div 1000"))


def _sentinel_df(spark: SparkSession, events_dir: str,
                 rows: list[tuple[int, str]]) -> DataFrame:
    """Far-future sentinel rows matching the landing dir's schema."""
    ddl = _events_ddl(events_dir)
    ts_val = (datetime.datetime(2100, 1, 1) if ddl is EVENTS_DDL_TS
              else SENTINEL_TS_NS)
    data = [(event_id, ts_val, SENTINEL_USER, event_type, 0.0, "{}")
            for event_id, event_type in rows]
    return spark.createDataFrame(data, ddl)


def _events_stream(spark: SparkSession, events_dir: str,
                   max_files: int | None = None) -> DataFrame:
    ensure_runtime_confs(spark)
    reader = (spark.readStream.schema(_events_ddl(events_dir))
              .option("latestFirst", "false"))
    if max_files:
        reader = reader.option("maxFilesPerTrigger", str(max_files))
    return reader.parquet(events_dir)


#: State-store partition count pinned while a drain runs.  Spark sizes
#: a stateful operator's state-store count from
#: ``spark.sql.shuffle.partitions`` AT THE FIRST BATCH and records it
#: in the checkpoint; inheriting the session's CPU-count default (32
#: locally) gave every micro-batch 32 state-store tasks each paying a
#: per-task store open/commit/snapshot floor — measured 8.2 s -> 2.6 s
#: on the dedup twin's identical 200k-row drain going 32 -> 4.  State
#: partitioning is a STATE-VOLUME setting, not a CPU one: these bounded
#: fixtures hold <= ~100k state rows, so 8 partitions keep every task
#: meaningfully sized; a 100 TB deployment sizes this to keys-on-disk
#: (RocksDB store count), which is exactly why it must not silently
#: track CPU count.  CORRECTNESS is untouched: every stateful op here
#: groups by key, a key's rows land in one partition per batch at ANY
#: partition count, and the per-key fold order is enforced by the
#: explicit (ts, event_id) sort inside :func:`_fold_per_key` — so the
#: partition count can change parallelism and store-file counts, never
#: values (tests/test_state_partition_invariance.py).
#: The pin covers the whole drain, so batch jobs launched inside a
#: ``foreachBatch`` body run under it too: the incremental-merge sink's
#: groupBy and bucketed writes shuffle into this many partitions; the
#: ingest sink's ship step has no shuffle.
STATE_PARTITIONS = 8


def _drain(spark: SparkSession, writer):
    """Start a fully-configured DataStreamWriter and drain it to
    completion with ``spark.sql.shuffle.partitions`` pinned to
    :data:`STATE_PARTITIONS` (micro-batch planning happens inside
    ``awaitTermination``, so the pin must cover the whole drain, not
    just ``start()``).  Restores the session conf even on failure.
    Returns the finished StreamingQuery."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
    try:
        query = writer.start()
        query.awaitTermination()
        return query
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _drain_emissions(spark: SparkSession, out: DataFrame, mode: str, *,
                     checkpoint: str, query_name: str,
                     output_dir: str | None = None) -> DataFrame:
    """Drain ``out`` in output ``mode`` under ``availableNow`` and
    return every row it emitted.

    By default the rows go to the memory sink named ``query_name``
    (light, but Spark refuses to resume a memory-sink query from an
    existing checkpoint).  With ``output_dir`` each micro-batch is
    appended there as parquet instead, which IS checkpoint-recoverable:
    a stopped query restarted on the same checkpoint continues from its
    restored state over only the new files, and the directory keeps
    every emission across runs."""
    writer = (out.writeStream.outputMode(mode)
              .option("checkpointLocation", checkpoint)
              .trigger(availableNow=True))
    if output_dir is None:
        _drain(spark, writer.format("memory").queryName(query_name))
        return spark.table(query_name)
    _drain(spark, writer.foreachBatch(
        lambda batch_df, _epoch:
        batch_df.write.mode("append").parquet(output_dir)))
    return spark.read.parquet(output_dir)


def _fold_per_key(stream: DataFrame, key: str, state_ddl: str, init: tuple,
                  step, *, checkpoint: str, query_name: str,
                  output_dir: str | None = None) -> DataFrame:
    """Fold ``stream`` per ``key`` into state of type ``state_ddl``
    (starting at ``init``) with ``step(state, pdf) -> state`` on each
    batch's (ts, event_id)-sorted rows, drain it, and return each key's
    last state as (key, seen, *state).  The contract is in the module
    doc."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    names = ["seen"] + [f.split()[0] for f in state_ddl.split(",")]
    ddl = f"seen LONG, {state_ddl}"

    def update(k, pdfs, state):
        pdf = pd.concat(list(pdfs), ignore_index=True)
        # (ts, event_id) is unique, so lexsort gives sort_values' order
        # at about a quarter of its per-key cost.
        pdf = pdf.take(np.lexsort((pdf["event_id"], pdf["ts"])))
        seen, *acc = state.get if state.exists else (0, *init)
        row = (seen + len(pdf), *step(acc, pdf))
        state.update(row)
        # seen next to the key: pandas builds a frame fastest when
        # columns of one dtype are adjacent.
        yield pd.DataFrame([(*k, *row)], columns=[key, *names])

    out = stream.groupBy(key).applyInPandasWithState(
        update, outputStructType=f"{key} {dict(stream.dtypes)[key]}, {ddl}",
        stateStructType=ddl, outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout)
    emissions = _drain_emissions(stream.sparkSession, out, "update",
                                 checkpoint=checkpoint,
                                 query_name=query_name, output_dir=output_dir)
    return (emissions.groupBy(key)
            .agg(F.max_by(F.struct(*names), "seen").alias("s"))
            .select(key, "s.*"))


def streaming_hourly_counts(spark: SparkSession, events_dir: str, *,
                            checkpoint: str, query_name: str) -> DataFrame:
    """Event-time tumbling 1-hour aggregate with a watermark; complete
    mode into an in-memory table; returns the result when drained.

    Produces exactly the batch `events_hourly` buckets: F.window on a
    micros-truncated timestamp starts at the same integer hour bounds
    as the batch query's `ts div NS_PER_HOUR` arithmetic.
    """
    events = _events_stream(spark, events_dir)
    agg = (
        events.withColumn("event_time", _event_time(events))
        .withWatermark("event_time", "1 hour")
        .groupBy(F.window("event_time", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"),
             F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
              .alias("sum_value")))
    out = agg.select(
        F.unix_millis(F.col("window.start")).alias("hour_ms"),
        "event_type", "n", "sum_value")
    return _drain_emissions(spark, out, "complete",
                            checkpoint=checkpoint, query_name=query_name)


def streaming_sliding_counts(spark: SparkSession, events_dir: str, *,
                             checkpoint: str, query_name: str) -> DataFrame:
    """Event-time SLIDING (hopping) 1-hour window, 30-minute slide:
    every event lands in exactly two overlapping windows. Complete
    mode into a memory sink, drained with availableNow.

    The sliding window is the standard rate/trend surface (\"events per
    hour, refreshed every 30 min\"); state per key is windows-per-hop ×
    groups, bounded by the watermark exactly like the tumbling case —
    the overlap multiplies output rows, not retained state beyond the
    extra in-flight hop."""
    events = _events_stream(spark, events_dir)
    agg = (
        events.withColumn("event_time", _event_time(events))
        .withWatermark("event_time", "1 hour")
        .groupBy(F.window("event_time", "1 hour", "30 minutes"),
                 "event_type")
        .agg(F.count("*").alias("n"),
             F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
              .alias("sum_value")))
    out = agg.select(
        F.unix_millis(F.col("window.start")).alias("win_ms"),
        "event_type", "n", "sum_value")
    return _drain_emissions(spark, out, "complete",
                            checkpoint=checkpoint, query_name=query_name)


def streaming_dedup_counts(spark: SparkSession, events_dir: str, *,
                           checkpoint: str, query_name: str) -> DataFrame:
    """Streaming exact dedup on event_id within the watermark — the
    streaming twin of dedup_exact (dropDuplicatesWithinWatermark bounds
    state; RocksDB state store at scale). Counts per type AFTER dedup,
    so feeding duplicated input must reproduce single-copy counts."""
    events = _events_stream(spark, events_dir)
    deduped = (
        events.withColumn("event_time", _event_time(events))
        .withWatermark("event_time", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type").agg(F.count("*").alias("n")))
    return _drain_emissions(spark, deduped, "complete",
                            checkpoint=checkpoint, query_name=query_name)


#: Sentinel event time far past any test data (2100-01-01, epoch-nanos).
#: Appending one sentinel row advances the watermark past every real
#: session so append-mode emits ALL finalized session windows before
#: availableNow terminates (event-time state flushes on the trailing
#: no-data micro-batch).
SENTINEL_TS_NS = 4_102_444_800_000_000_000
SENTINEL_USER = -1


def streaming_session_windows(spark: SparkSession, events_dir: str, *,
                              checkpoint: str, query_name: str) -> DataFrame:
    """session_window gap-based sessions per user, append mode.

    Stages a sentinel far-future event (user_id = -1) into the landing
    dir so the watermark passes every real session; the sentinel's own
    session is filtered from the result. Semantics: an event extends a
    session while it lands strictly inside [start, last + 30 min) — a
    gap of exactly 30 minutes opens a NEW session (>= convention, vs
    the batch sessionize query's >)."""
    ensure_runtime_confs(spark)
    sentinel = _sentinel_df(spark, events_dir, [(-1, "sentinel")])
    sentinel.write.mode("append").parquet(events_dir)

    events = _events_stream(spark, events_dir)
    sessions = (
        events.withColumn("event_time", _event_time(events))
        .withWatermark("event_time", "0 seconds")
        .groupBy(F.session_window("event_time", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select("user_id", "n_events",
                F.unix_millis(F.col("session_window.start"))
                .alias("start_ms")))
    emitted = _drain_emissions(spark, sessions, "append",
                               checkpoint=checkpoint, query_name=query_name)
    return emitted.filter(F.col("user_id") != SENTINEL_USER)


def streaming_cusum_final(spark: SparkSession, events_dir: str, *,
                          checkpoint: str, query_name: str,
                          baseline: DataFrame, slack_mult: float,
                          output_dir: str | None = None) -> DataFrame:
    """Per-user one-sided CUSUM drift detector folded across
    micro-batches (:func:`_fold_per_key`) — the streaming counterpart
    of the batch ``events_cusum`` plan, and a recursion no built-in
    streaming aggregate can express (the max(0, ·) clamp is
    non-linear).

    The event stream is enriched with the per-user baseline ``(sv, n)``
    via a stream-STATIC join ahead of the fold (in production the
    baseline is yesterday's calibration table; here it is the batch
    aggregate over the same data so the drained result is
    hash-comparable to the batch oracle).  State per user is ``s``:
    s = max(0, s + (x - (sv/n)*mult)).  With ``output_dir`` the
    restart test (tests/test_stateful_streaming.py) resumes it.
    """
    enriched = _events_stream(spark, events_dir, max_files=1).join(
        baseline, "user_id")

    def step(state, pdf):
        (s,) = state
        for x, sv, n in zip(pdf["value"], pdf["sv"], pdf["n"]):
            s = max(0.0, s + (float(x) - (float(sv) / int(n)) * slack_mult))
        return (s,)

    final = _fold_per_key(enriched, "user_id", "s DOUBLE", (0.0,), step,
                          checkpoint=checkpoint, query_name=query_name,
                          output_dir=output_dir)
    return final.select("user_id", F.col("seen").alias("n_events"),
                        F.round("s", 6).alias("cusum_final"))


def streaming_late_data_counts(spark: SparkSession, events_dir: str, *,
                               checkpoint: str, query_name: str) -> DataFrame:
    """Hourly counts in APPEND mode with real late-data semantics.

    The landing dir must hold the on-time file (older mtime) and the
    late file (newer mtime); maxFilesPerTrigger=1 makes them separate
    micro-batches in mtime order. After batch 1 the watermark advances
    to max(event_time) - delay, so batch 2's late rows — all in
    already-finalized windows — are DROPPED, and append mode emits
    exactly the windows whose end <= final watermark. This is the
    eviction/drop behavior that bounds aggregation state at scale;
    complete-mode queries (streaming_hourly) never discard state.
    """
    events = _events_stream(spark, events_dir, max_files=1)
    agg = (
        events.withColumn("event_time", _event_time(events))
        .withWatermark("event_time", "2 hours")
        .groupBy(F.window("event_time", "1 hour"), "event_type")
        .agg(F.count("*").alias("n")))
    out = agg.select(
        F.unix_millis(F.col("window.start")).alias("hour_ms"),
        "event_type", "n")
    return _drain_emissions(spark, out, "append",
                            checkpoint=checkpoint, query_name=query_name)


def _click_purchase_lags(spark: SparkSession, events_dir: str,
                         how: str) -> DataFrame:
    """Clicks joined to same-user purchases landing within
    [click, click + 30 minutes], both sides watermarked 1 hour, as
    (user_id, click_id, purchase_id, lag_ms)."""
    def side(event_type: str, id_alias: str, time_alias: str,
             user_alias: str) -> DataFrame:
        stream = _events_stream(spark, events_dir)
        return (stream
                .filter(F.col("event_type") == event_type)
                .select(F.col("event_id").alias(id_alias),
                        F.col("user_id").alias(user_alias),
                        _event_time(stream).alias(time_alias))
                .withWatermark(time_alias, "1 hour"))

    clicks = side("click", "click_id", "click_time", "user_id")
    purchases = side("purchase", "purchase_id", "purchase_time", "p_user")
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_time") >= F.col("click_time"))
        & (F.col("purchase_time")
           <= F.col("click_time") + F.expr("INTERVAL 30 minutes")),
        how)
    return joined.select(
        "user_id", "click_id", "purchase_id",
        (F.unix_millis("purchase_time") - F.unix_millis("click_time"))
        .alias("lag_ms"))


def streaming_left_outer_join(spark: SparkSession, events_dir: str, *,
                              checkpoint: str, query_name: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every click emits — with
    its matching same-user purchases inside [click, click + 30 min],
    or ONCE with nulls when the watermark proves no match can arrive.

    The null-extension side is the hard part of streaming outer joins:
    an unmatched click can only be emitted when event time has provably
    passed click_time + interval + watermark delay, so the output is
    driven by watermark progress, not batch boundaries. Two far-future
    sentinel rows (one per event_type, user -1, filtered from the
    result) push the final watermark past every real click's horizon,
    making availableNow drain the complete, deterministic outer result
    that the batch LEFT JOIN oracle computes. State stays bounded to
    watermark + interval on both sides — the same eviction contract as
    the inner interval join."""
    ensure_runtime_confs(spark)
    sentinels = _sentinel_df(spark, events_dir,
                             [(-2, "click"), (-3, "purchase")])
    sentinels.write.mode("append").parquet(events_dir)
    out = _click_purchase_lags(spark, events_dir, "leftOuter")
    emitted = _drain_emissions(spark, out, "append",
                               checkpoint=checkpoint, query_name=query_name)
    return emitted.filter(F.col("user_id") != SENTINEL_USER)


def streaming_ingest(spark: SparkSession, landing_dir: str, *,
                     checkpoint: str, out_dir: str, opts=None) -> None:
    """The shipper's ``--stream`` mode: :func:`shipper.ship` run on each
    micro-batch epoch of the Firehose landing source, under the
    shipper's parsed flags ``opts`` (default: events only) with
    ``out_dir`` as ``--output``. The checkpoint replaces the SQLite
    seen-files table (O4/O19), and each epoch overwrites its own
    ``_epoch`` partition, so exactly-once input gives exactly-once
    output, fixing the reference's lost/duplicated-batch flaw."""
    from ..shipper import build_parser, ship
    opts = build_parser().parse_args(
        ["--input", landing_dir, "--output", out_dir],
        namespace=copy.copy(opts))
    _drain(spark, firehose_landing_source(spark, landing_dir).writeStream
           .foreachBatch(lambda batch_df, epoch_id:
                         ship(batch_df, opts, epoch_id))
           .option("checkpointLocation", checkpoint)
           .trigger(availableNow=True))


def streaming_enriched_counts(spark: SparkSession, events_dir: str,
                              customer_path: str, *, checkpoint: str,
                              query_name: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joins the static
    customer dimension (re-read each micro-batch — the standard
    streaming enrichment pattern), then aggregates per
    (segment, event_type). Stateless join + stateful agg; at scale the
    static side is a slowly-changing parquet/Delta dim that grows with
    the corpus, so the join strategy is left to the planner's size
    estimate rather than forced to a broadcast."""
    events = _events_stream(spark, events_dir)
    dim = (spark.read.parquet(customer_path)
           .select(F.col("c_custkey").alias("user_id"), "c_mktsegment"))
    enriched = (
        events.join(dim, "user_id")
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count("*").alias("n"),
             F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
              .alias("sum_value")))
    return _drain_emissions(spark, enriched, "complete",
                            checkpoint=checkpoint, query_name=query_name)


def streaming_interval_join(spark: SparkSession, events_dir: str, *,
                            checkpoint: str, query_name: str) -> DataFrame:
    """Stream-stream inner join with an event-time interval condition:
    each click joins the purchases of the same user landing within
    [click, click + 30 min]. BOTH sides are watermarked and the range
    rides the join condition, so Spark bounds each side's join state
    to watermark + interval — the canonical funnel/attribution join at
    scale (vs buffering either stream forever). Inner join => matches
    emit as found; availableNow drains the full fixture
    deterministically."""
    out = _click_purchase_lags(spark, events_dir, "inner")
    return _drain_emissions(spark, out, "append",
                            checkpoint=checkpoint, query_name=query_name)


#: Bucket count for the incrementally-merged aggregate table. At 100 TB
#: key cardinality this would be ~1024 (the touched-bucket arithmetic
#: is identical, only dir counts change).
MERGE_BUCKETS = 64


def _bucket_versions(table_dir: str, *,
                     below: int | None = None) -> dict[int, int]:
    """{bucket: newest version} across ``table_dir/b=<k>/v=<n>`` dirs,
    optionally only versions STRICTLY below ``below``.

    The ``below`` ceiling is what makes a RETRIED epoch idempotent: a
    batch that crashed after writing ``v=<batch_id>`` but before its
    checkpoint offset committed re-runs with the same batch_id, and
    must rebuild from the state it originally read (v < batch_id) —
    never from the half-published version it wrote itself (reading
    v=batch_id while overwriting it would also double-apply the delta).
    """
    out: dict[int, int] = {}
    if not os.path.isdir(table_dir):
        return out
    for bdir in os.listdir(table_dir):
        if not bdir.startswith("b="):
            continue
        versions = [int(d.split("=", 1)[1])
                    for d in os.listdir(os.path.join(table_dir, bdir))
                    if d.startswith("v=")]
        if below is not None:
            versions = [v for v in versions if v < below]
        if versions:
            out[int(bdir.split("=", 1)[1])] = max(versions)
    return out


def _read_buckets(spark: SparkSession, table_dir: str,
                  vers: dict[int, int]) -> DataFrame | None:
    """The table state at the given per-bucket versions (None if empty).
    basePath keeps the b=/v= partition columns in the schema."""
    if not vers:
        return None
    paths = [f"{table_dir}/b={b}/v={v}" for b, v in sorted(vers.items())]
    return (spark.read.option("basePath", table_dir).parquet(*paths)
            .select("user_id", "n", "sum_micros"))


def merge_delta_into_bucketed_table(spark: SparkSession, delta: DataFrame,
                                    batch_id: int, table_dir: str) -> None:
    """MERGE one epoch's per-user delta ``(user_id, d_n, d_sum)`` into
    the bucketed versioned table — the foreachBatch body, exposed so
    tests can replay an epoch directly (retry simulation).

    Scale shape: the table is hash-bucketed by user_id (pmod
    :data:`MERGE_BUCKETS`), and an epoch rewrites ONLY the buckets its delta
    touches — cost O(|delta| x bucket-size) per epoch, not O(|table|)
    (the unbucketed full-outer rewrite pays a full-table shuffle for
    every small delta). Each touched bucket gets an immutable
    ``v=<batch_id>`` dir via dynamic partition overwrite; readers of
    superseded versions are never disturbed, and a retried epoch
    rewrites exactly its own (bucket, version) dirs from the
    strictly-older state it originally read (see _bucket_versions).
    """
    bucket = F.pmod(F.hash("user_id"), F.lit(MERGE_BUCKETS))
    delta = delta.withColumn("b", bucket).persist()
    touched = {r.b for r in delta.select("b").distinct().collect()}
    base_vers = {b: v for b, v in
                 _bucket_versions(table_dir, below=batch_id).items()
                 if b in touched}
    base = _read_buckets(spark, table_dir, base_vers)
    if base is None:
        merged = delta.select("user_id", "b",
                              F.col("d_n").alias("n"),
                              F.col("d_sum").alias("sum_micros"))
    else:
        merged = (base.join(delta, "user_id", "full_outer")
                  .select("user_id",
                          F.coalesce("b", bucket).alias("b"),
                          (F.coalesce("n", F.lit(0))
                           + F.coalesce("d_n", F.lit(0))).alias("n"),
                          (F.coalesce("sum_micros", F.lit(0))
                           + F.coalesce("d_sum", F.lit(0)))
                          .alias("sum_micros")))
    # Dynamic overwrite rewrites only the (b, v=batch_id) partitions
    # present in `merged` — exactly the touched buckets.
    (merged.withColumn("v", F.lit(batch_id))
     .write.mode("overwrite")
     .partitionBy("b", "v")
     .option("partitionOverwriteMode", "dynamic")
     .parquet(table_dir))
    delta.unpersist()


def read_bucketed_table(spark: SparkSession, table_dir: str) -> DataFrame:
    """Current state: each bucket at its newest version."""
    cur = _read_buckets(spark, table_dir, _bucket_versions(table_dir))
    if cur is None:
        return spark.createDataFrame(
            [], "user_id long, n long, sum_micros long")
    return cur


def streaming_incremental_merge(spark: SparkSession, events_dir: str, *,
                                table_dir: str, checkpoint: str,
                                query_name: str,
                                vacuum_keep: int | None = None) -> DataFrame:
    """foreachBatch incremental MERGE: maintain a materialized per-user
    (n, sum_micros) aggregate table across micro-batches — the
    streaming half of the warehouse story (plans/warehouse.py holds
    the batch MERGE dataflow). The exactly-once contract the
    reference's lost-batch window needed (K:259-263) comes from
    per-epoch idempotent versions; the 100 TB cost model comes from
    bucketing (see merge_delta_into_bucketed_table). Version
    housekeeping is `operators.maintenance.vacuum_versions` — keeps
    the newest `keep` versions per bucket (>= 2 so a retried epoch's
    strictly-older rebuild base survives), reclaims the rest.
    ``vacuum_keep`` runs that vacuum INSIDE every epoch, i.e.
    concurrently with the live stream — strictly more aggressive than
    the out-of-band production cadence, which is exactly what the
    keep>=2 retry-base test wants to stress
    (tests/test_stateful_streaming.py).

    Returns the final table state (latest version of every bucket).
    """
    events = _events_stream(spark, events_dir, max_files=1)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        delta = (batch_df
                 .select("user_id",
                         (F.col("value").cast("decimal(18,6)") * 1_000_000)
                         .cast("long").alias("vm"))
                 .groupBy("user_id")
                 .agg(F.count("*").alias("d_n"),
                      F.sum("vm").alias("d_sum")))
        merge_delta_into_bucketed_table(spark, delta, batch_id, table_dir)
        if vacuum_keep is not None:
            from ..operators.maintenance import vacuum_versions
            vacuum_versions(table_dir, keep=vacuum_keep)

    _drain(spark, events.writeStream.foreachBatch(merge_batch)
           .queryName(query_name)
           .option("checkpointLocation", checkpoint)
           .trigger(availableNow=True))
    return read_bucketed_table(spark, table_dir)


def streaming_rate_limit_final(spark: SparkSession, events_dir: str, *,
                               checkpoint: str, query_name: str,
                               cap_units: int, cost_units: int,
                               output_dir: str | None = None) -> DataFrame:
    """Per-user token-bucket admission control folded across
    micro-batches (:func:`_fold_per_key`) — the streaming counterpart
    of the batch ``events_rate_limit`` plan, and (like the CUSUM twin)
    a recursion no built-in streaming aggregate expresses: the level
    update min(cap, level + dt) - cost*admit has BOTH a clamp and a
    branch on the clamped value.

    This is the op an ingestion edge actually runs online: admit or
    throttle each arriving event per key, with the bucket level as
    state.  State per user is (level, admitted, last_ts); refill is the
    raw nanosecond delta since the previous event (1 token =
    ``cost_units`` ns of refill), carried ACROSS the batch boundary by
    last_ts, so the whole state machine is EXACT integer arithmetic:
    Python ints here, BIGINTs in the JVM/DuckDB folds.  With
    ``output_dir`` the restart test resumes it."""
    def step(state, pdf):
        level, admitted, last_ts = state
        for t in pdf["ts"]:
            t = int(t)
            dt = cap_units if last_ts is None else t - last_ts
            level = min(cap_units, level + dt)
            if level >= cost_units:
                admitted += 1
                level -= cost_units
            last_ts = t
        return level, admitted, last_ts

    final = _fold_per_key(
        _events_stream(spark, events_dir, max_files=1), "user_id",
        "level LONG, admitted LONG, last_ts LONG", (0, 0, None), step,
        checkpoint=checkpoint, query_name=query_name, output_dir=output_dir)
    return final.select("user_id", F.col("seen").alias("n_events"),
                        F.col("admitted").alias("n_admitted"),
                        (F.col("seen") - F.col("admitted"))
                        .alias("n_rejected"),
                        F.col("level").alias("level_final_units"))


def streaming_match_recognize_final(spark: SparkSession,
                                    events_dir: str, *,
                                    checkpoint: str,
                                    query_name: str) -> DataFrame:
    """Per-user MATCH_RECOGNIZE (pattern CLICK VIEW+ PURCHASE, skip
    past last row) folded across micro-batches (:func:`_fold_per_key`)
    — the streaming counterpart of the batch ``events_match_recognize``
    plan, i.e. Flink's streaming MATCH_RECOGNIZE re-expressed on
    Spark's stateful API.  The FSM is the batch plan's transition table
    verbatim, with (matches, fsm) as int64 state.  A half-open match
    (fsm != 0) carries across the batch boundary by construction — the
    property batch re-runs get for free and naive per-batch matching
    silently breaks."""
    codes = {"click": 1, "view": 2, "purchase": 3}

    def step(state, pdf):
        matches, fsm = state
        for et in pdf["event_type"]:
            x = codes.get(et, 0)
            if x == 1:
                fsm = 1
            elif x == 2 and fsm in (1, 2):
                fsm = 2
            elif x == 3 and fsm == 2:
                matches += 1
                fsm = 0
            else:
                fsm = 0
        return matches, fsm

    final = _fold_per_key(
        _events_stream(spark, events_dir, max_files=1), "user_id",
        "matches LONG, fsm LONG", (0, 0), step,
        checkpoint=checkpoint, query_name=query_name)
    return final.select("user_id", F.col("seen").alias("n_events"),
                        F.col("matches").alias("n_matches"),
                        F.col("fsm").alias("final_state"))


def streaming_holt_final(spark: SparkSession, events_dir: str, *,
                         checkpoint: str, query_name: str) -> DataFrame:
    """Per-user Holt linear-trend smoothing folded across micro-batches
    (:func:`_fold_per_key`) — the streaming counterpart of the batch
    ``events_holt_step`` plan (the forecasting SERVING path: each batch
    refreshes the one-step-ahead forecast per entity), and the
    FLOAT-state twin.

    State per user is (x1, l, b): Holt initializes l0 = x1,
    b0 = x2 - x1, so the first observation must be HELD (l null) until
    the second arrives — across a batch boundary if necessary, the
    float analogue of the half-open MATCH_RECOGNIZE match.  From the
    third observation on, l' = 0.5*x + 0.5*(l+b),
    b' = 0.25*(l'-l) + 0.75*b — the batch plan's in-row fold and the
    oracle's recursive CTE term for term (dyadic coefficients: exact
    binary multiplies).  The batch plan's n >= 4 floor is applied on
    the DRAINED state (a stream can't know a user's final count
    mid-flight)."""
    def step(state, pdf):
        x1, l, b = state
        for v in pdf["value"]:
            x = float(v)
            if x1 is None:
                x1 = x
            elif l is None:
                l, b = x1, x - x1
            else:
                l2 = 0.5 * x + 0.5 * (l + b)
                b = 0.25 * (l2 - l) + 0.75 * b
                l = l2
        return x1, l, b

    final = _fold_per_key(
        _events_stream(spark, events_dir, max_files=1), "user_id",
        "x1 DOUBLE, l DOUBLE, b DOUBLE", (None, None, None), step,
        checkpoint=checkpoint, query_name=query_name)
    return (final.filter(F.col("seen") >= 4)
            .select("user_id", F.col("seen").alias("n_events"),
                    F.round("l", 6).alias("level_final"),
                    F.round("b", 6).alias("trend_final"),
                    F.round(F.col("l") + F.col("b"), 6)
                    .alias("forecast_next")))


def streaming_changepoint_final(spark: SparkSession, events_dir: str, *,
                                checkpoint: str, query_name: str,
                                output_dir: str | None = None,
                                window_hours: int | None = None
                                ) -> DataFrame:
    """Per-type ONLINE binary-segmentation change-point detection — the
    streaming counterpart of the batch ``events_changepoint_binary``
    plan: each micro-batch folds its events into a per-type
    (hour -> count) histogram kept as state (:func:`_fold_per_key`),
    and the drained histograms are scored once by the batch plan's own
    :func:`~..functions.changepoint.best_split`.

    STATE BOUNDEDNESS — the honest version: unlike the O(1)-per-key
    CUSUM/rate-limit/Holt twins, the state here is the histogram,
    O(elapsed stream HOURS) per type — time-bounded, not row-bounded
    (one int64 pair per hour: ~140 KB per type-year).  That is
    inherent to the statistic: the split argmax needs every prefix
    sum, so no fixed-size sufficient statistic exists.  A production
    deployment bounds it with a sliding window of W hours (detecting
    only in-window shifts); the full-horizon twin keeps everything so
    the drained state can hash-match the batch oracle.  SCALE.md
    records the argument.

    ``window_hours=W`` is that production cap made checkable
    (``streaming_changepoint_windowed``): after each fold the state
    drops hours <= (per-type max hour - W), so the histogram is at
    most W entries per type.  The trim is EXACT under any arrival
    order, not just the staged one: the per-type max is monotone
    across batches, so any hour ever trimmed satisfies
    hr <= max_seen - W <= final_max - W — outside the final window
    too — and hours inside the final window can never be trimmed.
    The drained state therefore equals the batch histogram filtered
    to hr > final_max - W, which is exactly the windowed oracle.

    Hourly counts are exact integers and ADDITION COMMUTES, so batch
    slicing cannot change the histogram; the L >= 2 floor applies on
    the drained state (a stream can't know the final hour count
    mid-flight).
    """
    def step(state, pdf):
        counts = dict(zip(*state))
        for hr, c in (pdf["ts"] // NS_PER_HOUR).value_counts().items():
            counts[int(hr)] = counts.get(int(hr), 0) + int(c)
        if window_hours is not None:
            cutoff = max(counts) - window_hours
            counts = {h: c for h, c in counts.items() if h > cutoff}
        hrs = sorted(counts)
        return hrs, [counts[h] for h in hrs]

    final = _fold_per_key(
        _events_stream(spark, events_dir, max_files=1), "event_type",
        "hrs ARRAY<LONG>, ns ARRAY<LONG>", ([], []), step,
        checkpoint=checkpoint, query_name=query_name, output_dir=output_dir)
    return (final.filter(F.size("hrs") >= 2)
            .select("event_type", best_split().alias("c"))
            .select("event_type", "c.*"))
