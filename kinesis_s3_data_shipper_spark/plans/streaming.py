"""Streaming plans — each runs a REAL Structured Streaming query (file
source → watermark → stateful op → memory sink, drained with
availableNow) and is oracle-checked against batch SQL over the same
events table: streaming/batch parity is itself the assertion.

- `streaming_hourly`: tumbling event-time window aggregate.
- `streaming_dedup`: the landing dir holds the events file TWICE;
  dropDuplicatesWithinWatermark on event_id must collapse the copies
  back to the single-copy counts the oracle computes.
- `streaming_sessions`: session_window gap sessions, complete mode.
"""

from __future__ import annotations

import glob
import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..functions.decimal_safe import sql_dsum
from ..streaming.jobs import (streaming_dedup_counts, streaming_hourly_counts,
                              streaming_session_windows)
from ..session import staging_dir
from .base import register
from .events import (CHANGEPOINT_ORACLE, CHANGEPOINT_WINDOW_HOURS,
                     CHANGEPOINT_WINDOWED_ORACLE, CUSUM_ORACLE,
                     HOLT_ORACLE, MATCH_RECOGNIZE_ORACLE,
                     RATE_LIMIT_ORACLE)

NS_PER_HOUR = 3_600_000_000_000


def _stage_landing(sf_dir: str, copies: int = 1) -> tuple[str, str]:
    """Stage the events table into a fresh landing dir (the file source
    wants a flat directory); return (landing, checkpoint). Handles both
    table layouts: one events.parquet file, or an events/ directory of
    part-files (each part symlinks in flat — the streaming source then
    sees one file per part per copy)."""
    from ..sources.tables import table_path
    events_path = table_path(sf_dir, "events")
    if os.path.isdir(events_path):
        parts = sorted(glob.glob(os.path.join(events_path, "*.parquet")))
    else:
        parts = [events_path]
    work = staging_dir("ksds_stream_")
    landing = os.path.join(work, "landing")
    os.makedirs(landing)
    for i in range(copies):
        for j, part in enumerate(parts):
            # Symlink, not copy: the file source only reads, and at
            # sf0.1 the copy is pure staging overhead per query call.
            os.symlink(part,
                       os.path.join(landing, f"events_{i}_{j}.parquet"))
    return landing, os.path.join(work, "ckpt")


@register("streaming_hourly", oracle=f"""
SELECT (epoch_ns(ts) // {NS_PER_HOUR}) * 3600000 AS hour_ms,
       event_type,
       COUNT(*) AS n,
       {sql_dsum('value', 'sum_value')}
FROM events GROUP BY 1, 2
""", doc="Structured Streaming tumbling-window aggregate over the events "
         "table (file source + watermark + availableNow), checked against "
         "the batch-SQL oracle — exact streaming/batch parity.")
def streaming_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    landing, checkpoint = _stage_landing(sf_dir)
    name = f"hourly_{uuid.uuid4().hex[:8]}"
    return streaming_hourly_counts(spark, landing, checkpoint=checkpoint,
                                   query_name=name)


@register("streaming_sliding", oracle="""
SELECT (((epoch_ns(ts) // 1000000) // 1800000) - hops.k) * 1800000
         AS win_ms,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) hops
GROUP BY 1, 2
""", doc="Structured Streaming SLIDING window (1-hour window, 30-min "
         "slide): every event belongs to exactly two overlapping "
         "windows, so the oracle replays each event into both hops "
         "(start = floor(ms/slide)*slide - k*slide, k in {0,1}) and "
         "must reproduce the streaming counts and decimal-safe sums "
         "exactly. Covers the hopping-window surface the tumbling "
         "streaming_hourly query cannot express.")
def streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import streaming_sliding_counts
    landing, checkpoint = _stage_landing(sf_dir)
    name = f"slide_{uuid.uuid4().hex[:8]}"
    return streaming_sliding_counts(spark, landing, checkpoint=checkpoint,
                                    query_name=name)


@register("streaming_dedup", oracle="""
SELECT event_type, COUNT(*) AS n
FROM events GROUP BY event_type
""", doc="Streaming exact dedup: the landing dir holds the events file "
         "TWICE; dropDuplicatesWithinWatermark(event_id) must collapse "
         "the duplicate copy so counts equal the single-copy oracle — "
         "the streaming twin of the reference's seen-keys dedupe "
         "(kinesis-to-humio.py:210-216) at event granularity.")
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    landing, checkpoint = _stage_landing(sf_dir, copies=2)
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    return streaming_dedup_counts(spark, landing, checkpoint=checkpoint,
                                  query_name=name)


@register("streaming_sessions", oracle="""
WITH flagged AS (
  SELECT user_id, epoch_ns(ts) AS ts_ns,
         CASE WHEN epoch_ns(ts) - lag(epoch_ns(ts)) OVER w >= 1800000000000
              OR lag(epoch_ns(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sessions AS (
  SELECT user_id, ts_ns,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_ns
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS sid
  FROM flagged
)
SELECT user_id, COUNT(*) AS n_events,
       MIN(ts_ns) // 1000000 AS start_ms
FROM sessions GROUP BY user_id, sid
""", doc="session_window (30-min gap) streaming sessions vs a batch "
         "gaps-and-islands oracle. session_window merges an event iff it "
         "lands strictly inside [start, last+gap) — i.e. a gap >= 30 min "
         "opens a session — so the oracle flags is_new on >=, unlike the "
         "batch sessionize query's > convention.")
def streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    landing, checkpoint = _stage_landing(sf_dir)
    name = f"sess_{uuid.uuid4().hex[:8]}"
    return streaming_session_windows(spark, landing, checkpoint=checkpoint,
                                     query_name=name)


def _stage_split_landing(sf_dir: str) -> tuple[str, str]:
    """Three-file landing fixture for watermark late-data drop, picked
    up oldest-mtime-first, one file per micro-batch:

    1. on-time: every event after the first hour;
    2. sentinel: one far-future row (user -1, the streaming_sessions
       trick) that advances the watermark past every real window;
    3. late: the first hour's rows — by now below the watermark.

    The sentinel batch sits between on-time and late because the
    late-row filter uses the PREVIOUS batch's watermark (Spark's
    two-watermark policy, SPARK-24634): a file arriving one batch
    after the data that out-times it is NOT yet dropped; two batches
    after, it is."""
    import time

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from ..streaming.jobs import SENTINEL_TS_NS, SENTINEL_USER

    work = staging_dir("ksds_late_")
    landing = os.path.join(work, "landing")
    os.makedirs(landing)
    from ..sources.tables import table_path
    # pyarrow reads a part-file directory as one dataset too.
    t = pq.read_table(table_path(sf_dir, "events"))
    # `ts` physical type varies by driver data generation (int64 ns /
    # timestamp[ns] / timestamp[us]); normalize the int64 view to ns.
    ts_type = t.schema.field("ts").type
    per_unit = {"s": 10**9, "ms": 10**6, "us": 10**3, "ns": 1}
    scale = per_unit[ts_type.unit] if pa.types.is_timestamp(ts_type) else 1
    ns = pc.multiply(pc.cast(t["ts"], "int64"), scale)
    cutoff = (pc.min(ns).as_py() // NS_PER_HOUR + 1) * NS_PER_HOUR
    on_time = pc.greater_equal(ns, cutoff)
    sentinel = pa.table(
        {"event_id": [-1], "ts": [SENTINEL_TS_NS // scale],
         "user_id": [SENTINEL_USER],
         "event_type": ["sentinel"], "value": [0.0], "props": ["{}"]}
    ).cast(t.schema)
    paths = [os.path.join(landing, f) for f in
             ("a_ontime.parquet", "b_sentinel.parquet", "c_late.parquet")]
    pq.write_table(t.filter(on_time), paths[0])
    pq.write_table(sentinel, paths[1])
    pq.write_table(t.filter(pc.invert(on_time)), paths[2])
    now = time.time()
    for i, p in enumerate(paths):
        os.utime(p, (now - 240 + i * 120, now - 240 + i * 120))
    return landing, os.path.join(work, "ckpt")


@register("streaming_late_data", oracle=f"""
WITH e AS (
  SELECT epoch_ns(ts) AS ns, event_type FROM events
), c AS (
  SELECT ((MIN(ns) // {NS_PER_HOUR}) + 1) * {NS_PER_HOUR} AS cutoff FROM e
)
SELECT (ns // {NS_PER_HOUR}) * 3600000 AS hour_ms, event_type,
       COUNT(*) AS n
FROM e, c WHERE ns >= cutoff
GROUP BY 1, 2
""", doc="Watermark late-data semantics, oracle-checked: the first "
         "hour's rows arrive two micro-batches after the rest of the "
         "stream (and a sentinel) advanced the 2-hour watermark, so "
         "they are DROPPED, while append mode emits every finalized "
         "on-time window — the oracle is the hourly counts over the "
         "on-time rows only. The sentinel's own window never "
         "finalizes, so it self-excludes. This is the state-eviction "
         "contract that keeps streaming aggregation memory bounded at "
         "scale; the fixture also pins Spark's two-watermark policy "
         "(late filter = previous batch's watermark).")
def streaming_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import streaming_late_data_counts
    landing, checkpoint = _stage_split_landing(sf_dir)
    name = f"late_{uuid.uuid4().hex[:8]}"
    return streaming_late_data_counts(spark, landing, checkpoint=checkpoint,
                                      query_name=name)


@register("streaming_enrich", oracle="""
SELECT c_mktsegment, event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1, 2
""", doc="Stream-static enrichment: the events stream joins the static "
         "customer dimension (re-read per micro-batch) and "
         "aggregates per (segment, type) — checked against the batch "
         "join oracle. The streaming twin of the reference's per-event "
         "enrichment projection (kinesis-to-humio.py:144-148).")
def streaming_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import table_path
    from ..streaming.jobs import streaming_enriched_counts
    landing, checkpoint = _stage_landing(sf_dir)
    name = f"enrich_{uuid.uuid4().hex[:8]}"
    return streaming_enriched_counts(
        spark, landing, table_path(sf_dir, "customer"),
        checkpoint=checkpoint, query_name=name)


@register("streaming_interval_join", oracle="""
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
       (epoch_ns(p.ts) // 1000000) - (epoch_ns(c.ts) // 1000000)
         AS lag_ms
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND (epoch_ns(p.ts) // 1000) BETWEEN (epoch_ns(c.ts) // 1000)
     AND (epoch_ns(c.ts) // 1000) + 1800000000
""", doc="Stream-stream interval join (funnel/attribution): clicks "
         "join same-user purchases within 30 minutes, both sides "
         "watermarked so join state stays bounded. Checked against "
         "the equivalent batch interval join — exact pair parity at "
         "micros precision.")
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import streaming_interval_join as run
    landing, checkpoint = _stage_landing(sf_dir)
    name = f"sjoin_{uuid.uuid4().hex[:8]}"
    return run(spark, landing, checkpoint=checkpoint, query_name=name)


@register("streaming_outer_join", oracle="""
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
       (epoch_ns(p.ts) // 1000000) - (epoch_ns(c.ts) // 1000000)
         AS lag_ms
FROM (SELECT * FROM events WHERE event_type = 'click') c
LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND (epoch_ns(p.ts) // 1000) BETWEEN (epoch_ns(c.ts) // 1000)
     AND (epoch_ns(c.ts) // 1000) + 1800000000
""", doc="Stream-stream LEFT OUTER interval join: clicks emit matched "
         "purchase pairs as they arrive, and unmatched clicks emit "
         "exactly once with nulls — but only after the watermark "
         "proves no in-window purchase can still arrive, which is the "
         "semantics that lets Spark EVICT outer-join state instead of "
         "buffering the stream forever. Far-future sentinel rows on "
         "both sides (filtered from the result) drive the final "
         "watermark past every real click's horizon, so availableNow "
         "drains the complete outer result and the batch LEFT JOIN "
         "oracle matches exactly, nulls included.")
def streaming_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import streaming_left_outer_join as run
    landing, checkpoint = _stage_landing(sf_dir)
    name = f"sojoin_{uuid.uuid4().hex[:8]}"
    return run(spark, landing, checkpoint=checkpoint, query_name=name)


@register("streaming_merge", oracle="""
SELECT user_id, CAST(2 * COUNT(*) AS BIGINT) AS n,
       CAST(2 * SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000
                         AS BIGINT)) AS BIGINT) AS sum_micros
FROM events GROUP BY user_id
""", doc="foreachBatch incremental MERGE into a bucketed, versioned "
         "aggregate table (streaming/jobs.py::streaming_incremental_"
         "merge): the landing dir holds the events table TWICE, "
         "maxFilesPerTrigger=1 forces one micro-batch per copy, and "
         "each epoch merges its per-user delta into ONLY the hash "
         "buckets it touches (pmod-64 of user_id), writing immutable "
         "per-(bucket, epoch) version dirs — O(|delta| x bucket-size) "
         "per epoch, never a full-table rewrite, with retry "
         "idempotence from the strictly-below-epoch version read. The "
         "final table state must equal exactly 2x the single-copy "
         "batch aggregate, which is what the oracle computes. Exact "
         "integer micros arithmetic on both sides (the engine-wide "
         "decimal-safe SUM convention).")
def streaming_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import streaming_incremental_merge
    landing, checkpoint = _stage_landing(sf_dir, copies=2)
    work = os.path.dirname(landing)
    name = f"smerge_{uuid.uuid4().hex[:8]}"
    return streaming_incremental_merge(
        spark, landing, table_dir=os.path.join(work, "table"),
        checkpoint=checkpoint, query_name=name)


@register("streaming_topk", oracle=f"""
WITH agg AS (
  SELECT (epoch_ns(ts) // {NS_PER_HOUR}) * 3600000 AS hour_ms,
         event_type, COUNT(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT hour_ms, event_type, n, rank FROM (
  SELECT hour_ms, event_type, n,
         row_number() OVER (PARTITION BY hour_ms
                            ORDER BY n DESC, event_type) AS rank
  FROM agg
) WHERE rank <= 3
""", doc="Streaming top-k: the per-hour top-3 event types over the "
         "CONTINUOUSLY MAINTAINED tumbling aggregate — the pattern a "
         "real-time leaderboard uses. Structured Streaming cannot "
         "rank inside the stateful agg (no window-over-aggregate in "
         "a streaming plan), so the rank runs on the drained state "
         "(the serving-layer read over the memory/Delta sink the "
         "stream maintains): stream keeps the (hour, type) counts "
         "incremental and small, the rank touches only "
         "|hours|x|types| aggregate rows, never events. Oracle: the "
         "identical rank over the batch hourly aggregate — "
         "streaming/batch parity through BOTH layers.")
def streaming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F
    landing, checkpoint = _stage_landing(sf_dir)
    name = f"topk_{uuid.uuid4().hex[:8]}"
    agg = streaming_hourly_counts(spark, landing, checkpoint=checkpoint,
                                  query_name=name)
    w = W.partitionBy("hour_ms").orderBy(F.desc("n"), "event_type")
    return (agg.select("hour_ms", "event_type", "n",
                       F.row_number().over(w).cast("long").alias("rank"))
            .filter(F.col("rank") <= 3))


def _stage_time_slices(spark: SparkSession, sf_dir: str,
                       n_slices: int = 2) -> tuple[str, str]:
    """Stage the events table as ``n_slices`` ts-RANGE slice files
    with strictly increasing mtimes: with ``maxFilesPerTrigger=1``
    (and ``latestFirst=false``) micro-batch k then holds exactly the
    k-th time slice, so order-sensitive stateful operators see events
    in global time order across batches — the staging contract
    ``streaming_cusum`` documents. Slice boundaries are pure integer
    arithmetic on (min, max) ts: deterministic, and rows with equal
    ts can never straddle a boundary.

    Default ``n_slices`` is 2 (r14, was 3): the twins' correctness
    property — per-user state folding ACROSS a micro-batch boundary,
    bit-exactly continuing the batch plan's global (ts, event_id)
    order — is fully exercised by ONE boundary; a second boundary
    re-proved the same property at the cost of one more drain batch
    per twin (~1.1 s addBatch floor at sf0.1 for 6 registered twins)
    and one more staged slice write.  Values are slice-count-
    invariant by the same argument as the state-partition pin (the
    in-group sort orders each batch, slices are disjoint ts ranges
    consumed oldest-first), which the oracle hash gate re-attests;
    tests that specifically want deeper batch chains pass
    ``n_slices=3`` explicitly."""
    from pyspark.sql import functions as F

    from ..sources.tables import load_table
    ev = load_table(spark, sf_dir, "events")  # ts → epoch-nanos long
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    span = int(hi) - int(lo) + 1
    work = staging_dir("ksds_stream_")
    landing = os.path.join(work, "landing")
    os.makedirs(landing)

    # r13 (optimization round): the slice writes are independent
    # single-task jobs (each a filtered scan + coalesce(1) encode), so
    # they run CONCURRENTLY from a small driver thread pool (guide
    # §2.6 overlap-independent-jobs) instead of serially — the staged
    # bytes, boundaries, and per-slice file contents are byte-for-byte
    # what the serial loop produced; only the wall time changes
    # (measured ~0.9 s -> ~0.4 s at sf0.1, paid once per stateful
    # twin).  mtimes are stamped AFTER all writes land, in slice
    # order, so the maxFilesPerTrigger=1 ordering contract is
    # untouched by write-completion order.
    def _write_slice(i: int) -> str:
        a = int(lo) + span * i // n_slices
        b = int(lo) + span * (i + 1) // n_slices
        slice_dir = os.path.join(work, f"slice_{i}")
        (ev.filter((F.col("ts") >= a) & (F.col("ts") < b))
         .coalesce(1).write.mode("overwrite").parquet(slice_dir))
        part = glob.glob(os.path.join(slice_dir, "part-*.parquet"))[0]
        dest = os.path.join(landing, f"slice_{i}.parquet")
        os.rename(part, dest)
        return dest

    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=n_slices) as pool:
        dests = list(pool.map(_write_slice, range(n_slices)))
    for i, dest in enumerate(dests):
        os.utime(dest, (1_000_000 + i, 1_000_000 + i))
    return landing, os.path.join(work, "ckpt")


@register("streaming_cusum", oracle=CUSUM_ORACLE,
          doc="STATEFUL-STREAMING CUSUM through the oracle gate (the "
              "other custom stateful ops are pytest-only): the per-"
              "user one-sided drift statistic maintained across "
              "micro-batches in explicit applyInPandasWithState group "
              "state — s = max(0, s + (x - mu*(1+k))) folded batch by "
              "batch, with the baseline mean joined in from a STATIC "
              "calibration aggregate (stream-static join "
              "ahead of the stateful op). The landing dir is staged "
              "as ts-range slices with increasing mtimes + "
              "maxFilesPerTrigger=1, so the cross-batch fold order "
              "equals the batch plan's global (ts, event_id) sort and "
              "the drained state hash-matches the SAME oracle as "
              "events_cusum — streaming/batch parity for a non-linear "
              "recursion no built-in streaming aggregate expresses. "
              "State per user is one (s, seen) pair; the memory-sink "
              "read keeps max_by(seen), the final emission.")
def streaming_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..plans.events import _CUSUM_SLACK
    from ..sources.tables import load_table
    from ..streaming.jobs import streaming_cusum_final
    landing, checkpoint = _stage_time_slices(sf_dir=sf_dir, spark=spark)
    ev = load_table(spark, sf_dir, "events")
    baseline = (ev.groupBy("user_id")
                .agg(F.count("*").cast("long").alias("n"),
                     F.sum(F.col("value").cast("decimal(20,6)"))
                     .cast("double").alias("sv"))
                .filter(F.col("n") >= 4))
    name = f"cusum_{uuid.uuid4().hex[:8]}"
    return streaming_cusum_final(spark, landing, checkpoint=checkpoint,
                                 query_name=name, baseline=baseline,
                                 slack_mult=1.0 + _CUSUM_SLACK)


@register("streaming_rate_limit", oracle=RATE_LIMIT_ORACLE,
          doc="STATEFUL-STREAMING token-bucket admission control "
              "through the oracle gate — the ONLINE form of "
              "events_rate_limit, sharing its oracle text exactly as "
              "streaming_cusum shares events_cusum's: per-user bucket "
              "level maintained across micro-batches in explicit "
              "applyInPandasWithState group state (level, admitted, "
              "last_ts, seen — four int64s), refill = the raw ns "
              "delta since the previous event carried ACROSS the "
              "batch boundary via last_ts. The recursion min(cap, "
              "level + dt) - cost*admit clamps AND branches, so no "
              "built-in streaming aggregate expresses it. The landing "
              "dir is staged as ts-range slices with increasing "
              "mtimes + maxFilesPerTrigger=1 so the cross-batch fold "
              "order equals the batch plan's per-user (ts, event_id) "
              "sort, and the whole state machine is exact integer "
              "arithmetic on both engines — the drained state "
              "hash-matches the SAME oracle as the batch plan: "
              "streaming/batch parity, bit-for-bit, no floats.")
def streaming_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.events import _TB_CAP_UNITS, _TB_REFILL_NS
    from ..streaming.jobs import streaming_rate_limit_final
    landing, checkpoint = _stage_time_slices(sf_dir=sf_dir, spark=spark)
    name = f"ratelimit_{uuid.uuid4().hex[:8]}"
    return streaming_rate_limit_final(
        spark, landing, checkpoint=checkpoint, query_name=name,
        cap_units=_TB_CAP_UNITS, cost_units=_TB_REFILL_NS)


@register("streaming_match_recognize", oracle=MATCH_RECOGNIZE_ORACLE,
          doc="STATEFUL-STREAMING MATCH_RECOGNIZE through the oracle "
              "gate — Flink's streaming row-pattern matching "
              "re-expressed on applyInPandasWithState, the ONLINE "
              "form of events_match_recognize sharing its oracle "
              "text exactly as streaming_cusum shares events_cusum's: "
              "the CLICK VIEW+ PURCHASE automaton's (matches, state, "
              "seen) kept as three int64s of per-user group state, "
              "the transition table verbatim from the batch plan.  "
              "The landing dir is staged as ts-range slices with "
              "increasing mtimes + maxFilesPerTrigger=1 so the "
              "cross-batch fold order equals the batch plan's "
              "per-user (ts, event_id) sort — and a HALF-OPEN match "
              "carries across the batch boundary by construction, "
              "the correctness property naive per-batch pattern "
              "matching silently loses.  Exact integer state machine; "
              "drained state hash-matches the batch oracle "
              "bit-for-bit: streaming/batch parity.")
def streaming_match_recognize(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    from ..streaming.jobs import streaming_match_recognize_final
    landing, checkpoint = _stage_time_slices(sf_dir=sf_dir, spark=spark)
    name = f"matchrec_{uuid.uuid4().hex[:8]}"
    return streaming_match_recognize_final(
        spark, landing, checkpoint=checkpoint, query_name=name)


@register("streaming_holt", oracle=HOLT_ORACLE,
          doc="STATEFUL-STREAMING Holt linear-trend smoothing through "
              "the oracle gate — the ONLINE forecast-serving form of "
              "events_holt_step, sharing its oracle text exactly as "
              "the CUSUM/rate-limit/MATCH_RECOGNIZE twins share "
              "theirs, and the first FLOAT-state twin: per-user "
              "(x1, l, b, seen) group state where the first "
              "observation is HELD until the second initializes "
              "l0 = x1, b0 = x2 - x1 — across a batch boundary if "
              "needed, the float analogue of the half-open "
              "MATCH_RECOGNIZE match.  The update l' = 0.5x + "
              "0.5(l+b), b' = 0.25(l'-l) + 0.75b is the batch fold's "
              "IEEE expression tree verbatim (dyadic coefficients, "
              "Python floats ARE IEEE doubles), so the drained state "
              "is bit-identical to the batch plan's and round(6) "
              "hash-matches the shared recursive-CTE oracle.  Landing "
              "dir staged as ts-range slices with increasing mtimes + "
              "maxFilesPerTrigger=1 (the streaming_cusum contract); "
              "the n >= 4 floor applies on the drained state, since a "
              "stream cannot know final per-user counts mid-flight.")
def streaming_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import streaming_holt_final
    landing, checkpoint = _stage_time_slices(sf_dir=sf_dir, spark=spark)
    name = f"holt_{uuid.uuid4().hex[:8]}"
    return streaming_holt_final(spark, landing, checkpoint=checkpoint,
                                query_name=name)


@register("streaming_changepoint", oracle=CHANGEPOINT_ORACLE,
          doc="STATEFUL-STREAMING binary-segmentation change-point "
              "detection through the oracle gate — the ONLINE form of "
              "events_changepoint_binary (the last batch-only state "
              "machine), sharing its oracle text exactly as the "
              "CUSUM/rate-limit/MATCH_RECOGNIZE/Holt twins share "
              "theirs: per-type (hour -> count) histogram kept as "
              "ARRAY group state across micro-batches, the drained "
              "histograms scored once by the batch plan's own gain "
              "and earliest-k argmax Column function "
              "(functions/changepoint.py).  Hourly counts are exact "
              "integers and addition commutes, so slicing cannot perturb the "
              "histogram and the drained state hash-matches the batch "
              "oracle bit-for-bit.  State is O(stream HOURS) per type "
              "— time-bounded, not row-bounded, and inherently so "
              "(every prefix sum feeds the argmax: no fixed-size "
              "sufficient statistic exists); a production deployment "
              "caps it with a sliding detection window — the "
              "boundedness argument streaming_changepoint_final and "
              "SCALE.md record.")
def streaming_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import streaming_changepoint_final
    landing, checkpoint = _stage_time_slices(sf_dir=sf_dir, spark=spark)
    name = f"chgpt_{uuid.uuid4().hex[:8]}"
    return streaming_changepoint_final(spark, landing,
                                       checkpoint=checkpoint,
                                       query_name=name)


@register("streaming_changepoint_windowed",
          oracle=CHANGEPOINT_WINDOWED_ORACLE,
          doc="The PRODUCTION-CAPPED change-point twin (r09 verdict "
              "ask #4): identical online binary-segmentation state "
              "machine as streaming_changepoint, but the per-type "
              "(hour -> count) histogram state is a SLIDING window — "
              "after each fold, hours <= (per-type max hour - "
              f"{CHANGEPOINT_WINDOW_HOURS}) are dropped, bounding "
              "state at W int64 pairs per type instead of O(stream "
              "hours).  The trim is exact under any arrival order "
              "(per-type max is monotone, so trimmed hours are "
              "outside the FINAL window too — streaming/jobs.py "
              "proves it), so the drained state hash-matches the "
              "batch oracle filtered to the trailing W hours per "
              "type: the SCALE.md boundedness argument turned into a "
              "checked query.  Detection scope narrows to in-window "
              "shifts — the documented production tradeoff.")
def streaming_changepoint_windowed(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    from ..streaming.jobs import streaming_changepoint_final
    landing, checkpoint = _stage_time_slices(sf_dir=sf_dir, spark=spark)
    name = f"chgptw_{uuid.uuid4().hex[:8]}"
    return streaming_changepoint_final(
        spark, landing, checkpoint=checkpoint, query_name=name,
        window_hours=CHANGEPOINT_WINDOW_HOURS)
