"""Event-table plans: JSON extraction, event-time windowing, lag/lead,
sessionization, as-of join, pivot.

These exercise the reference's semantic core — the reference flattens
CloudWatch logEvents carrying epoch-millis event time and opaque JSON
payloads (kinesis-to-humio.py:143-148) — over the driver's `events`
table, whose `ts` is parquet TIMESTAMP(NANOS) read as epoch-nanos
LongType (sources.tables). All time arithmetic stays in exact integer
nanos so results are engine-reproducible; outputs use epoch-ms longs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.changepoint import best_split
from ..functions.decimal_safe import sql_dsum, dsum
from ..operators.asof import asof_join
from ..operators.checkpoint import truncated_checkpoint
from ..operators.sessionize import sessionize
from ..sources.tables import load_table
from .base import register

NS_PER_HOUR = 3_600_000_000_000
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register("json_extract_agg", oracle="""
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
FROM events GROUP BY event_type
""", doc="Schema-on-read JSON extraction (the reference parses JSON blocks "
         "at K:131; here from_json with an explicit schema → Catalyst "
         "prunes to the one field used).")
def json_extract_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.from_json("props", "k INT").getField("k")
    return (ev.select("event_type", k.alias("k"))
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.sum("k").alias("sum_k"),
                 F.min("k").alias("min_k"),
                 F.max("k").alias("max_k")))


@register("events_hourly", oracle=f"""
SELECT (epoch_ns(ts) // {NS_PER_HOUR}) * 3600000 AS hour_ms,
       event_type,
       COUNT(*) AS n,
       {sql_dsum('value', 'sum_value')},
       COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY 1, 2
""", doc="Event-time tumbling 1-hour window aggregate (flagship). Exact "
         "integer bucketing on epoch-nanos; the streaming variant in "
         "plans.streaming produces the identical result via F.window.")
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # Exact integer bucketing (`div`), never double division: epoch-nanos
    # exceed 2^53 and would lose precision through a double.
    hour_ms = F.expr(f"(ts div {NS_PER_HOUR}) * 3600000")
    return (ev.groupBy(hour_ms.alias("hour_ms"), "event_type")
            .agg(F.count("*").alias("n"),
                 dsum("value", "sum_value"),
                 F.countDistinct("user_id").alias("n_users")))


@register("window_lag_lead", oracle="""
SELECT event_id, user_id, epoch_ns(ts) AS ts_ns,
       lag(epoch_ns(ts))  OVER w AS prev_ts_ns,
       epoch_ns(ts) - lag(epoch_ns(ts)) OVER w AS gap_ns,
       lead(event_type)   OVER w AS next_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""", doc="lag/lead over per-user event-time order (unique event_id tiebreak). "
         "ts is truncated to microsecond precision on the Spark side because "
         "DuckDB reads TIMESTAMP_NS parquet as microsecond TIMESTAMP — the "
         "truncation makes both engines' epoch_ns identical.")
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (load_table(spark, sf_dir, "events")
          .withColumn("ts_us", F.expr("(ts div 1000) * 1000")))
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    return ev.select(
        "event_id", "user_id", F.col("ts_us").alias("ts_ns"),
        F.lag("ts_us").over(w).alias("prev_ts_ns"),
        (F.col("ts_us") - F.lag("ts_us").over(w)).alias("gap_ns"),
        F.lead("event_type").over(w).alias("next_type"))


@register("sessionize", oracle="""
WITH flagged AS (
  SELECT user_id, epoch_ns(ts) AS ts_ns,
         CASE WHEN epoch_ns(ts) - lag(epoch_ns(ts)) OVER w > 1800000000000
              OR lag(epoch_ns(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, ts_ns,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_ns
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       COUNT(*) AS n_events,
       MIN(ts_ns) // 1000000 AS start_ms,
       MAX(ts_ns) // 1000000 AS end_ms
FROM sessions GROUP BY user_id, session_id
""", doc="Sessionization: 30-min inactivity gap → lag + cumulative-sum "
         "session ids → per-session stats (batch twin of streaming "
         "session_window). ts truncated to micros (DuckDB parquet "
         "TIMESTAMP_NS limit — see window_lag_lead).")
def sessionize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (load_table(spark, sf_dir, "events")
          .withColumn("ts_us", F.expr("(ts div 1000) * 1000")))
    return sessionize(ev, user_col="user_id", ts_col="ts_us",
                      tiebreak_col="event_id",
                      gap_ns=30 * 60 * 1_000_000_000)


@register("asof_join", oracle="""
SELECT p.event_id, p.user_id,
       epoch_ns(p.ts) AS ts_ns,
       epoch_ns(s.ts) AS signup_ts_ns
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
  ON p.user_id = s.user_id AND p.ts > s.ts
""", doc="As-of join: each purchase matched to the user's most recent "
         "strictly-earlier signup. Spark lacks a native as-of join; "
         "operators.asof composes it from union + running last_value — "
         "one shuffle on the key, no per-row Python.")
def asof_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts truncated to micros (DuckDB parquet TIMESTAMP_NS limit).
    ev = (load_table(spark, sf_dir, "events")
          .withColumn("ts", F.expr("(ts div 1000) * 1000")))
    purchases = ev.filter(F.col("event_type") == "purchase")
    signups = ev.filter(F.col("event_type") == "signup")
    joined = asof_join(purchases, signups, on="user_id", ts_col="ts",
                       strict=True, right_value_cols=("ts",),
                       right_alias="signup")
    return joined.select(
        "event_id", "user_id",
        F.col("ts").alias("ts_ns"),
        F.col("signup_ts").alias("signup_ts_ns"))


@register("window_range_frame", oracle="""
SELECT event_id, user_id, ts_us,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
            PARTITION BY user_id ORDER BY ts_us
            RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
         AS DOUBLE) AS rolling_1h_value,
       COUNT(*) OVER (
            PARTITION BY user_id ORDER BY ts_us
            RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
         AS rolling_1h_n
FROM (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events)
""", doc="RANGE window frame: per-user rolling 1-hour sum/count over "
         "event time — value-based frames (RANGE), not row counts, on "
         "exact integer micros. The rows-frame twin is "
         "window_running_sum.")
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (load_table(spark, sf_dir, "events")
          .select("event_id", "user_id",
                  F.expr("ts div 1000").alias("ts_us"),
                  F.col("value").cast("decimal(18,6)").alias("_v")))
    w = (W.partitionBy("user_id").orderBy("ts_us")
         .rangeBetween(-3_600_000_000, W.currentRow))
    return ev.select(
        "event_id", "user_id", "ts_us",
        F.sum("_v").over(w).cast("double").alias("rolling_1h_value"),
        F.count("*").over(w).alias("rolling_1h_n"))


@register("pivot_event_counts", oracle="""
SELECT user_id,
       COUNT(*) FILTER (WHERE event_type = 'click')    AS click,
       COUNT(*) FILTER (WHERE event_type = 'error')    AS error,
       COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       COUNT(*) FILTER (WHERE event_type = 'signup')   AS signup,
       COUNT(*) FILTER (WHERE event_type = 'view')     AS view
FROM events GROUP BY user_id
""", doc="Pivot event_type → per-user count columns (explicit value list "
         "so the plan needs no extra distinct pass).")
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (ev.groupBy("user_id")
            .pivot("event_type", list(EVENT_TYPES))
            .agg(F.count(F.lit(1)))
            .na.fill(0, list(EVENT_TYPES)))


@register("scalar_json_map", oracle="""
SELECT event_id,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k_value,
       len(json_keys(props)) AS n_keys
FROM events
WHERE CAST(json_extract(props, '$.k') AS BIGINT) % 7 = 0
""", doc="Semi-structured JSON access: extract a typed field from the "
         "props JSON column and count its keys, filtering on the "
         "extracted value — all JVM-side (get_json_object / from_json "
         "to MapType), no Python. The pattern for schema-on-read "
         "attribute bags like the reference's opaque event attributes "
         "(kinesis-to-humio.py:148).")
def scalar_json_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (ev.select(
        "event_id", k.alias("k_value"),
        F.size(F.map_keys(F.from_json("props", "map<string,string>")))
         .cast("long").alias("n_keys"))
        .filter(F.col("k_value") % 7 == 0))


@register("scalar_variant_json", oracle="""
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,
       MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
""", doc="Spark 4 VariantType path for semi-structured data: "
         "parse_json encodes props into the binary variant format "
         "once, variant_get extracts a typed field with path "
         "semantics — the open-schema storage layout (shredded "
         "variant at rest) a 100 TB attribute bag wants, vs the "
         "per-access string re-parse of get_json_object. The oracle "
         "extracts the same field via DuckDB's JSON path.")
def scalar_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "long")
    return (ev.select("event_type", k.alias("k"))
            .groupBy("event_type")
            .agg(F.count("*").alias("n"), F.sum("k").alias("sum_k"),
                 F.min("k").alias("min_k"), F.max("k").alias("max_k")))


@register("events_gap_fill", oracle="""
WITH hourly AS (
  SELECT user_id, epoch_ns(ts) // 3600000000000 AS hr,
         COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_v
  FROM events GROUP BY 1, 2
), spine AS (
  SELECT user_id, unnest(range(min(hr), max(hr) + 1)) AS hr
  FROM hourly GROUP BY user_id
)
SELECT s.user_id, s.hr * 3600000 AS hour_ms,
       COALESCE(h.n, 0) AS n,
       last_value(h.sum_v IGNORE NULLS)
         OVER (PARTITION BY s.user_id ORDER BY s.hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_v
FROM spine s LEFT JOIN hourly h ON s.user_id = h.user_id AND s.hr = h.hr
""", doc="Time-series densification: per-user hourly spine generated "
         "with sequence+explode between each user's own min and max "
         "hour, left-joined to the hourly aggregate, gaps forward-"
         "filled with last(ignorenulls) — the resample/ffill shape. "
         "Spine size is bounded per user (own activity span, never a "
         "global calendar), the explode is narrow, and the fill "
         "window shares the per-user partitioning.")
def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = (ev.select("user_id",
                        F.expr("ts div 3600000000000").alias("hr"),
                        F.col("value").cast("decimal(18,6)").alias("v"))
              .groupBy("user_id", "hr")
              .agg(F.count("*").alias("n"),
                   F.sum("v").cast("double").alias("sum_v")))
    spine = (hourly.groupBy("user_id")
             .agg(F.min("hr").alias("lo"), F.max("hr").alias("hi"))
             .select("user_id",
                     F.explode(F.sequence("lo", "hi")).alias("hr")))
    w = (W.partitionBy("user_id").orderBy("hr")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    return (spine.join(hourly, ["user_id", "hr"], "left")
            .select("user_id", (F.col("hr") * 3600000).alias("hour_ms"),
                    F.coalesce("n", F.lit(0)).alias("n"),
                    F.last("sum_v", ignorenulls=True).over(w)
                     .alias("filled_v")))


@register("agg_histogram", oracle="""
SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(bin * 25.0 AS DOUBLE) AS bin_lo
FROM (
  SELECT event_type,
         CAST(least(floor(value / 25.0), 19) AS BIGINT) AS bin
  FROM events
)
GROUP BY event_type, bin
""", doc="Equi-width histogram: 20 fixed bins of width 25 over the "
         "value measure, per event type, overflow clamped into the "
         "top bin. Fixed literal bounds make it ONE pass (a data-"
         "driven min/max would need a second scan or a two-pass "
         "plan); floor on the same IEEE double divide is engine-"
         "reproducible. The profile op behind any numeric-column "
         "dashboard at scale: shuffle volume = types x bins.")
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bin_ = F.least(F.floor(F.col("value") / 25.0), F.lit(19)).cast("long")
    return (ev.select("event_type", bin_.alias("bin"))
            .groupBy("event_type", "bin")
            .agg(F.count("*").alias("n"))
            .select("event_type", "bin", "n",
                    (F.col("bin") * 25.0).cast("double").alias("bin_lo")))


@register("events_anomaly_zscore", oracle="""
WITH s AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(value AS DECIMAL(20,6))
                  * CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sxx
  FROM events GROUP BY 1
)
SELECT event_id, e.event_type, value,
       (value - sx / n)
         / sqrt((sxx - sx * sx / n) / (n - 1)) AS zscore
FROM events e JOIN s ON e.event_type = s.event_type
WHERE abs((value - sx / n)
          / sqrt((sxx - sx * sx / n) / (n - 1))) > 2.5
""", doc="Z-score anomaly flags: per-type mean/std derived from exact "
         "decimal moment sums (order-free — see agg_corr_covar), the "
         "tiny stats table broadcast back onto the stream, rows with "
         "|z| > 2.5 surfaced. The outlier-detection shape: stats agg "
         "shuffles only group cardinality; the scoring pass is scan-"
         "side with no second shuffle.")
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    vw = F.col("value").cast("decimal(20,6)")
    vn = F.col("value").cast("decimal(18,6)")
    s = (ev.groupBy(F.col("event_type").alias("s_type"))
         .agg(F.count("*").alias("n"),
              F.sum(vw).cast("double").alias("sx"),
              F.sum(vw * vn).cast("double").alias("sxx")))
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    z = ((F.col("value") - sx / n)
         / F.sqrt((sxx - sx * sx / n) / (n - 1)))
    # s is one row per event type (EVENT_TYPES); Spark sizes a grouped
    # aggregate at its input's size.
    return (ev.join(F.broadcast(s), ev.event_type == F.col("s_type"))
            .select("event_id", "event_type", "value", z.alias("zscore"))
            .filter(F.abs("zscore") > 2.5))



@register("events_path_transitions", oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
), pairs AS (
  SELECT event_type AS from_type, next_type AS to_type,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
)
SELECT from_type, to_type, n,
       ROUND(CAST(n AS DOUBLE)
             / SUM(n) OVER (PARTITION BY from_type), 6) AS p
FROM pairs
""", doc="User-journey transition matrix (first-order Markov model of "
         "event paths): for every consecutive event pair within a "
         "user's timeline, the count and conditional probability "
         "P(next | current) — the product-analytics view behind "
         "'where do users go after X' and the input to path-level "
         "funnel mining. Scale shape: ONE shuffle on user_id powers "
         "the lead() (the same partitioning sessionize/funnel "
         "reuse), the pair count is map-side combined to at most "
         "|types|^2 rows, and the probability normalization windows "
         "over that tiny aggregate, not the events. Ordering ties "
         "break on event_id — the engine-neutral unique key.")
def events_path_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select("user_id", "event_type",
                    F.lead("event_type").over(w).alias("next_type"))
    pairs = (seq.filter(F.col("next_type").isNotNull())
             .groupBy(F.col("event_type").alias("from_type"),
                      F.col("next_type").alias("to_type"))
             .agg(F.count("*").alias("n")))
    wn = W.partitionBy("from_type")
    return pairs.select(
        "from_type", "to_type", "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wn), 6)
         .alias("p"))


@register("events_session_attribution", oracle="""
WITH flagged AS (
  SELECT user_id, event_id, event_type, epoch_ns(ts) AS ts_ns,
         CASE WHEN epoch_ns(ts) - lag(epoch_ns(ts)) OVER w > 1800000000000
              OR lag(epoch_ns(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, event_type, ts_ns,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id,
         event_id
  FROM flagged
), per_session AS (
  SELECT user_id, session_id,
         first(event_type ORDER BY ts_ns, event_id) AS first_touch,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS converted
  FROM sessions GROUP BY user_id, session_id
)
SELECT first_touch, CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(converted) AS BIGINT) AS n_converted,
       ROUND(CAST(SUM(converted) AS DOUBLE) / COUNT(*), 6)
         AS conversion_rate
FROM per_session GROUP BY first_touch
""", doc="First-touch session attribution: sessionize (30-min gap — "
         "the same lag+cumsum dataflow as `sessionize`, keeping event "
         "rows), take each session's FIRST event type as the "
         "acquisition touch, flag sessions containing a purchase, "
         "and report conversion rate by first touch — the standard "
         "marketing-attribution rollup. Scale shape: every window "
         "rides ONE user_id shuffle (gap flag, session cumsum, and "
         "the per-session first/max reduce on (user, session) are "
         "co-partitioned), and the final attribution agg is "
         "|event_types| rows. ts truncated to micros for the oracle "
         "(DuckDB parquet TIMESTAMP_NS limit), ties broken on "
         "event_id everywhere.")
def events_session_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (load_table(spark, sf_dir, "events")
          .withColumn("ts_us", F.expr("(ts div 1000) * 1000")))
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap = F.col("ts_us") - F.lag("ts_us").over(w)
    flagged = ev.select(
        "user_id", "event_id", "event_type", "ts_us",
        F.when(gap > 30 * 60 * 1_000_000_000, 1)
         .when(gap.isNull(), 1).otherwise(0).alias("_is_new"))
    w_run = (W.partitionBy("user_id").orderBy("ts_us", "event_id")
             .rowsBetween(W.unboundedPreceding, W.currentRow))
    sess = flagged.select(
        "user_id", "event_id", "event_type", "ts_us",
        F.sum("_is_new").over(w_run).alias("session_id"))
    w_first = (W.partitionBy("user_id", "session_id")
               .orderBy("ts_us", "event_id"))
    per_session = (sess
                   .withColumn("_ft", F.first("event_type").over(w_first))
                   .groupBy("user_id", "session_id")
                   .agg(F.min("_ft").alias("first_touch"),
                        F.max(F.when(F.col("event_type") == "purchase", 1)
                              .otherwise(0)).alias("converted")))
    return (per_session.groupBy("first_touch")
            .agg(F.count("*").alias("n_sessions"),
                 F.sum("converted").cast("long").alias("n_converted"),
                 F.round(F.sum("converted").cast("double") / F.count("*"),
                         6).alias("conversion_rate")))


#: Pattern-scan geometry: window length 8, query pattern = the up-ramp
#: 1..8 (trend motif). Pattern moment sums are exact integers both
#: engines embed as literals: sq = 36, sqq = 204.
_SCAN_M = 8
_SCAN_SQ = 36.0
_SCAN_SQQ = 204.0


@register("events_pattern_scan", oracle=f"""
WITH s AS (
  SELECT user_id, list(value ORDER BY ts, event_id) AS vals
  FROM events GROUP BY user_id HAVING COUNT(*) >= {_SCAN_M}
), pos AS (
  SELECT user_id, vals,
         unnest(range(0, len(vals) - {_SCAN_M} + 1)) AS p
  FROM s
), st AS (
  SELECT user_id, CAST(p AS BIGINT) AS p,
    list_reduce(list_transform(vals[p+1:p+{_SCAN_M}],
      x -> CAST(x AS DOUBLE)), (a, v) -> a + v) AS sx,
    list_reduce(list_transform(vals[p+1:p+{_SCAN_M}],
      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v) AS sxx,
    list_reduce(list_transform(list_zip(vals[p+1:p+{_SCAN_M}],
      [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0]),
      z -> CAST(z[1] AS DOUBLE) * z[2]), (a, v) -> a + v) AS sxy
  FROM pos
), corr AS (
  SELECT user_id, p,
         ROUND(({_SCAN_M} * sxy - sx * {_SCAN_SQ!r})
               / (sqrt({_SCAN_M} * sxx - sx * sx)
                  * sqrt({_SCAN_M} * {_SCAN_SQQ!r}
                         - {_SCAN_SQ!r} * {_SCAN_SQ!r})), 6) AS c
  FROM st WHERE {_SCAN_M} * sxx - sx * sx > 0
)
SELECT user_id, p AS best_pos, c AS best_corr FROM (
  SELECT user_id, p, c,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY c DESC, p) AS rn
  FROM corr
) WHERE rn = 1
""", doc="Per-entity subsequence pattern scan — the UCR-suite / "
         "matrix-profile family (cf. 'Time Series Similarity Search "
         "for Streaming Data in Distributed Systems', EDBT 2019) "
         "Spark-first: each user's event-value series is collected "
         "into ONE row (ordered by ts, event_id), every length-8 "
         "window is scored against a literal up-ramp motif by "
         "z-normalized correlation (the closed moment-sum form — "
         "the pattern's own moments are exact integer literals), and "
         "the best-matching offset per user wins (rounded-corr "
         "ordering, position tiebreak). Scale shape: ONE shuffle (the "
         "per-user collect); the window explode and all folds are "
         "array higher-order functions INSIDE the row — per-entity "
         "series scan with no cross-row traffic, which is how "
         "millions of short per-entity series scan on 1000 "
         "executors. Zero-variance windows are excluded by the "
         "identical exact predicate on both engines.")
def events_pattern_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    m = _SCAN_M
    s = (ev.groupBy("user_id")
         .agg(F.expr("array_sort(collect_list(struct(ts, event_id, value)))")
              .alias("evs"))
         .filter(F.size("evs") >= m)
         .select("user_id",
                 F.expr("transform(evs, e -> e.value)").alias("vals")))
    pos = s.select(
        "user_id", "vals",
        F.explode(F.expr(f"sequence(0, size(vals) - {m})")).alias("p"))
    st = pos.select(
        "user_id", F.col("p").cast("long").alias("p"),
        F.expr(f"aggregate(slice(vals, p + 1, {m}), CAST(0 AS DOUBLE),"
               f" (a, x) -> a + CAST(x AS DOUBLE))").alias("sx"),
        F.expr(f"aggregate(slice(vals, p + 1, {m}), CAST(0 AS DOUBLE),"
               f" (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")
         .alias("sxx"),
        F.expr(f"aggregate(zip_with(slice(vals, p + 1, {m}),"
               f" array(1.0D, 2.0D, 3.0D, 4.0D, 5.0D, 6.0D, 7.0D, 8.0D),"
               f" (x, q) -> CAST(x AS DOUBLE) * q), CAST(0 AS DOUBLE),"
               f" (a, v) -> a + v)").alias("sxy"))
    corr = (st.filter(F.lit(m) * F.col("sxx")
                      - F.col("sx") * F.col("sx") > 0)
            .select("user_id", "p",
                    F.round((F.lit(float(m)) * F.col("sxy")
                             - F.col("sx") * F.lit(_SCAN_SQ))
                            / (F.sqrt(F.lit(float(m)) * F.col("sxx")
                                      - F.col("sx") * F.col("sx"))
                               * F.sqrt(F.lit(float(m) * _SCAN_SQQ
                                              - _SCAN_SQ * _SCAN_SQ))),
                            6).alias("c")))
    w = W.partitionBy("user_id").orderBy(F.desc("c"), "p")
    return (corr.select("user_id", "p", "c",
                        F.row_number().over(w).alias("rn"))
            .filter(F.col("rn") == 1)
            .select("user_id", F.col("p").alias("best_pos"),
                    F.col("c").alias("best_corr")))


#: CUSUM slack (k) as a fraction of the per-user mean: detects upward
#: level shifts larger than 50% of the baseline mean.
_CUSUM_SLACK = 0.5

#: Shared by the batch plan below AND the streaming stateful
#: counterpart (plans/streaming.py::streaming_cusum): the two must
#: produce the identical result, so they must share one oracle text.
CUSUM_ORACLE = f"""
WITH s AS (
  SELECT user_id, list(value ORDER BY ts, event_id) AS vals,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sv
  FROM events GROUP BY user_id HAVING COUNT(*) >= 4
), c AS (
  SELECT user_id, n,
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
                        list_transform(vals, x -> CAST(x AS DOUBLE)
                                       - (sv / n) * {1.0 + _CUSUM_SLACK!r})),
           (acc, v) -> greatest(CAST(0.0 AS DOUBLE), acc + v)) AS s_last
  FROM s
)
SELECT user_id, n AS n_events, ROUND(s_last, 6) AS cusum_final
FROM c
"""


@register("events_cusum", oracle=CUSUM_ORACLE,
    doc="CUSUM drift detection per entity: the one-sided cumulative-"
         "sum recursion S_i = max(0, S_(i-1) + (x_i - mu*(1+k))) over "
         "each user's event-value series — the classic sequential "
         "change detector, and a recursion NO window frame can "
         "express (the clamp makes it non-linear; contrast "
         "recursive_ewma_monthly's linear recursion, which needed "
         "WITH RECURSIVE). Expressed instead as a sequential HOF "
         "fold INSIDE the row after a per-user collect — the same "
         "one-shuffle per-entity-series shape as events_pattern_scan "
         "— with the baseline mean from an exact decimal sum and "
         "identical left-fold order on both engines. Reported: the "
         "final CUSUM statistic (>0 = the series ends above its "
         "drift budget).")
def events_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    mult = 1.0 + _CUSUM_SLACK
    s = (ev.groupBy("user_id")
         .agg(F.expr("array_sort(collect_list(struct(ts, event_id, value)))")
              .alias("evs"),
              F.count("*").cast("long").alias("n"),
              F.sum(F.col("value").cast("decimal(20,6)")).cast("double")
               .alias("sv"))
         .filter(F.col("n") >= 4)
         .select("user_id", "n", "sv",
                 F.expr("transform(evs, e -> e.value)").alias("vals")))
    fold = F.expr(
        f"aggregate(transform(vals, x -> CAST(x AS DOUBLE)"
        f" - (sv / n) * CAST({mult!r} AS DOUBLE)),"
        f" CAST(0.0 AS DOUBLE),"
        f" (acc, v) -> greatest(CAST(0.0 AS DOUBLE), acc + v))")
    return s.select("user_id", F.col("n").alias("n_events"),
                    F.round(fold, 6).alias("cusum_final"))


@register("events_mad_outliers", oracle="""
WITH s AS (
  SELECT user_id, list(value) AS vals,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY user_id HAVING COUNT(*) >= 5
), m AS (
  SELECT user_id, n, vals,
         list_sort(vals)[CAST(ceil(n / 2.0) AS INTEGER)] AS med
  FROM s
), d AS (
  SELECT user_id, n, vals, med,
         list_sort(list_transform(vals, x -> abs(x - med)))
           [CAST(ceil(n / 2.0) AS INTEGER)] AS mad
  FROM m
)
SELECT user_id, n AS n_events,
       ROUND(med, 6) AS median,
       ROUND(mad, 6) AS mad,
       CAST(len(list_filter(vals, x -> abs(x - med) > 3 * mad))
            AS BIGINT) AS n_outliers
FROM d
""", doc="Robust per-entity outlier detection via median/MAD — the "
         "z-score's heavy-tail-safe sibling (a single extreme value "
         "shifts mean and stddev but not median or MAD). Median and "
         "MAD use the exact discrete ceil(n/2) pick (the "
         "agg_quantiles convention) on the sorted in-row arrays, so "
         "both engines select an ACTUAL data value and the 3xMAD "
         "comparisons are identical IEEE arithmetic — no "
         "interpolation, no float-accumulation drift. Scale shape: "
         "the same one-shuffle per-entity-series collect as "
         "events_cusum/pattern_scan; all sorting and filtering "
         "happens inside the row via array HOFs (per-user series "
         "are bounded; a production variant swaps in "
         "percentile_approx for unbounded series, same query "
         "shape).")
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = (ev.groupBy("user_id")
         .agg(F.collect_list("value").alias("vals"),
              F.count("*").cast("long").alias("n"))
         .filter(F.col("n") >= 5))
    pick = "CAST(ceil(n / 2.0) AS INT)"
    med = F.expr(f"element_at(array_sort(vals), {pick})")
    m = s.withColumn("med", med)
    mad = F.expr("element_at(array_sort(transform(vals,"
                 f" x -> abs(x - med))), {pick})")
    d = m.withColumn("mad", mad)
    n_out = F.expr("CAST(size(filter(vals,"
                   " x -> abs(x - med) > 3 * mad)) AS BIGINT)")
    return d.select("user_id", F.col("n").alias("n_events"),
                    F.round("med", 6).alias("median"),
                    F.round("mad", 6).alias("mad"),
                    n_out.alias("n_outliers"))


@register("asof_join_forward", oracle="""
SELECT s.event_id, s.user_id,
       epoch_ns(s.ts) AS ts_ns,
       (SELECT MIN(epoch_ns(p.ts)) FROM events p
        WHERE p.event_type = 'purchase' AND p.user_id = s.user_id
          AND p.ts >= s.ts) AS next_purchase_ns
FROM events s WHERE s.event_type = 'signup'
""", doc="FORWARD as-of join: each signup matched to the user's "
         "nearest at-or-after purchase — pandas merge_asof"
         "(direction='forward'), the other half of the PIT-join "
         "family ('time to first purchase after signup'). Spark has "
         "no native as-of in either direction; the forward variant "
         "runs the engine's backward union + running-last_value "
         "machinery over NEGATED integer timestamps (an exact "
         "total-order flip), so it inherits the same cost model: ONE "
         "shuffle on the key, a within-partition sort, no per-row "
         "Python, NULL where no future match exists. The oracle is "
         "the obviously-correct correlated MIN over future rows.")
def asof_join_forward_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join_forward
    # ts truncated to micros (DuckDB parquet TIMESTAMP_NS limit).
    ev = (load_table(spark, sf_dir, "events")
          .withColumn("ts", F.expr("(ts div 1000) * 1000")))
    signups = ev.filter(F.col("event_type") == "signup")
    purchases = ev.filter(F.col("event_type") == "purchase")
    joined = asof_join_forward(signups, purchases, on="user_id",
                               ts_col="ts", strict=False,
                               right_value_cols=("ts",),
                               right_alias="next_purchase")
    return joined.select(
        "event_id", "user_id",
        F.col("ts").alias("ts_ns"),
        F.col("next_purchase_ts").alias("next_purchase_ns"))


@register("asof_join_nearest", oracle="""
WITH s AS (
  SELECT event_id, user_id, epoch_ns(ts) AS ts_ns FROM events
  WHERE event_type = 'signup'
), p AS (
  SELECT user_id, epoch_ns(ts) AS pts FROM events
  WHERE event_type = 'purchase'
), m AS (
  SELECT s.event_id, s.user_id, s.ts_ns,
         (SELECT MAX(p.pts) FROM p
          WHERE p.user_id = s.user_id AND p.pts <= s.ts_ns) AS prev_ns,
         (SELECT MIN(p.pts) FROM p
          WHERE p.user_id = s.user_id AND p.pts >= s.ts_ns) AS next_ns
  FROM s
)
SELECT event_id, user_id, ts_ns,
       CASE WHEN prev_ns IS NULL THEN next_ns
            WHEN next_ns IS NULL THEN prev_ns
            WHEN ts_ns - prev_ns <= next_ns - ts_ns THEN prev_ns
            ELSE next_ns END AS nearest_purchase_ns,
       CASE WHEN prev_ns IS NULL AND next_ns IS NULL THEN NULL
            WHEN next_ns IS NULL THEN 'backward'
            WHEN prev_ns IS NULL THEN 'forward'
            WHEN ts_ns - prev_ns <= next_ns - ts_ns THEN 'backward'
            ELSE 'forward' END AS direction
FROM m
""", doc="NEAREST as-of join (pandas merge_asof direction='nearest'): "
         "each signup matched to the user's closest purchase in "
         "EITHER time direction, ties to the earlier (backward) side "
         "— the PIT-family member for 'closest reading to this label "
         "timestamp' feature extraction where before/after doesn't "
         "matter but distance does. ONE pass, not two composed "
         "as-ofs: union the sides, sort each user partition once by "
         "(ts, side), then two frames over the SAME sort — running "
         "last(right ts) over the preceding frame (backward arm, "
         "at-or-equal) and first(right ts) over the following frame "
         "(forward arm, strictly-after) — and a row-local CASE on "
         "the two deltas. An equal-ts match lands in the backward "
         "arm with delta 0, which the tie rule picks anyway, so the "
         "asymmetric frames reproduce the oracle's symmetric spec "
         "exactly. Cost: ONE user_id shuffle + one in-partition "
         "sort, both frames in one Window operator — no self-join, "
         "no second exchange (the two-asof compose would join two "
         "corpus-sized outputs back on event_id). The oracle states "
         "the spec as correlated MAX-before/MIN-after.")
def asof_join_nearest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (load_table(spark, sf_dir, "events")
          .withColumn("ts", F.expr("(ts div 1000) * 1000")))
    s = (ev.filter(F.col("event_type") == "signup")
         .select("event_id", "user_id", "ts",
                 F.lit(1).alias("_is_left")))
    p = (ev.filter(F.col("event_type") == "purchase")
         .select(F.lit(None).cast("long").alias("event_id"), "user_id",
                 "ts", F.lit(0).alias("_is_left")))
    u = s.unionByName(p)
    # At equal ts the purchase (side 0) sorts BEFORE the signup, so
    # the preceding frame sees it (at-or-equal backward) and the
    # following frame does not (strictly-after forward).
    base = W.partitionBy("user_id").orderBy("ts", "_is_left")
    wprev = base.rowsBetween(W.unboundedPreceding, W.currentRow)
    wnext = base.rowsBetween(W.currentRow, W.unboundedFollowing)
    right_ts = F.when(F.col("_is_left") == 0, F.col("ts"))
    j = (u.withColumn("prev_ns",
                      F.last(right_ts, ignorenulls=True).over(wprev))
         .withColumn("next_ns",
                     F.first(right_ts, ignorenulls=True).over(wnext))
         .filter(F.col("_is_left") == 1))
    prev_closer = (F.col("ts") - F.col("prev_ns")
                   <= F.col("next_ns") - F.col("ts"))
    return j.select(
        "event_id", "user_id", F.col("ts").alias("ts_ns"),
        F.when(F.col("prev_ns").isNull(), F.col("next_ns"))
         .when(F.col("next_ns").isNull(), F.col("prev_ns"))
         .when(prev_closer, F.col("prev_ns"))
         .otherwise(F.col("next_ns")).alias("nearest_purchase_ns"),
        F.when(F.col("prev_ns").isNull() & F.col("next_ns").isNull(),
               F.lit(None).cast("string"))
         .when(F.col("next_ns").isNull(), F.lit("backward"))
         .when(F.col("prev_ns").isNull(), F.lit("forward"))
         .when(prev_closer, F.lit("backward"))
         .otherwise(F.lit("forward")).alias("direction"))


@register("asof_join_tolerance", oracle="""
WITH p AS (
  SELECT event_id, user_id, epoch_ns(ts) AS ts_ns FROM events
  WHERE event_type = 'purchase'
), s AS (
  SELECT user_id, epoch_ns(ts) AS sts FROM events
  WHERE event_type = 'signup'
), m AS (
  SELECT p.event_id, p.user_id, p.ts_ns,
         (SELECT MAX(s.sts) FROM s
          WHERE s.user_id = p.user_id AND s.sts < p.ts_ns) AS sts
  FROM p
)
SELECT event_id, user_id, ts_ns,
       CASE WHEN ts_ns - sts <= 86400000000000 * 30 THEN sts END
         AS signup_ts_ns,
       (sts IS NOT NULL
        AND ts_ns - sts > 86400000000000 * 30) AS match_expired
FROM m
""", doc="As-of join with TOLERANCE (pandas merge_asof's tolerance "
         "parameter): each purchase matched to the most recent "
         "strictly-earlier signup ONLY IF it is at most 30 days "
         "stale — older matches are nulled and flagged, the "
         "max-staleness rule every PIT feature store enforces so a "
         "model never trains on a feature value that would have been "
         "expired at serving time. Completes the as-of family "
         "(backward / forward / nearest / tolerance). The staleness "
         "gate is a ROW-LOCAL post-filter on the matched timestamp "
         "delta, so the plan is byte-identical to the backward as-of "
         "— union + per-key running last_value, ONE user_id shuffle "
         "— plus one projection; tolerance adds zero exchanges at "
         "any scale. The oracle states the spec as correlated "
         "MAX-before + the same expiry CASE.")
def asof_join_tolerance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (load_table(spark, sf_dir, "events")
          .withColumn("ts", F.expr("(ts div 1000) * 1000")))
    purchases = ev.filter(F.col("event_type") == "purchase")
    signups = ev.filter(F.col("event_type") == "signup")
    joined = asof_join(purchases, signups, on="user_id", ts_col="ts",
                       strict=True, right_value_cols=("ts",),
                       right_alias="signup")
    tol = 86400000000000 * 30
    stale = F.col("ts") - F.col("signup_ts") > tol
    return joined.select(
        "event_id", "user_id",
        F.col("ts").alias("ts_ns"),
        F.when(~stale, F.col("signup_ts")).alias("signup_ts_ns"),
        (F.col("signup_ts").isNotNull() & stale).alias("match_expired"))


@register("events_sliding_distinct", oracle="""
WITH ud AS (
  SELECT DISTINCT user_id,
         CAST(epoch_ns(ts) // 86400000000000 AS BIGINT) AS day
  FROM events
), span AS (
  SELECT MIN(day) AS dmin, MAX(day) AS dmax FROM ud
), contrib AS (
  SELECT DISTINCT ud.user_id, ud.day + o.off AS wday
  FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS off) o
)
SELECT CAST(c.wday AS BIGINT) AS day,
       CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS users_7d
FROM contrib c CROSS JOIN span
WHERE c.wday <= span.dmax
GROUP BY c.wday
""", doc="Sliding-window COUNT DISTINCT (trailing-7-day active "
         "users, per day) — the metric that breaks naive plans at "
         "scale because distinct over OVERLAPPING windows can't "
         "map-side combine and a per-day self-join of the event log "
         "is quadratic in the window. The standard bounded rewrite: "
         "dedupe to (user, active-day) pairs first (one exact "
         "distinct, corpus -> activity matrix), then each pair "
         "CONTRIBUTES to exactly W=7 window-days via a small-range "
         "explode, dedupe (user, window-day), and count per day — "
         "total shuffle volume W x |activity pairs|, independent of "
         "raw event count, and every stage partial-aggregates. "
         "Days past the observed horizon are clipped; early days "
         "aggregate the partial (ramp-up) window like every "
         "trailing metric. The production variant swaps the exact "
         "distinct for HLL partials (agg_sketch_merge_hll) in the "
         "same dataflow when W x pairs outgrows the cluster.")
def events_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ud = (ev.select("user_id",
                    F.expr("CAST(ts div 86400000000000 AS BIGINT)")
                    .alias("day"))
          .distinct())
    span = ud.agg(F.max("day").alias("dmax"))
    contrib = (ud.select(
        "user_id",
        F.explode(F.expr("sequence(day, day + 6)")).alias("wday"))
        .distinct())
    return (contrib.crossJoin(span)
            .filter(F.col("wday") <= F.col("dmax"))
            .groupBy(F.col("wday").cast("long").alias("day"))
            .agg(F.countDistinct("user_id").cast("long")
                 .alias("users_7d")))


@register("events_interpolate_linear", oracle="""
WITH hourly AS (
  SELECT user_id, epoch_ns(ts) // 3600000000000 AS hr,
         COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_v
  FROM events GROUP BY 1, 2
), spine AS (
  SELECT user_id, unnest(range(min(hr), max(hr) + 1)) AS hr
  FROM hourly GROUP BY user_id
), j AS (
  SELECT s.user_id, s.hr, COALESCE(h.n, 0) AS n, h.sum_v,
         last_value(h.sum_v IGNORE NULLS) OVER w_prev AS prev_v,
         last_value(CASE WHEN h.sum_v IS NOT NULL THEN s.hr END
                    IGNORE NULLS) OVER w_prev AS prev_hr,
         first_value(h.sum_v IGNORE NULLS) OVER w_next AS next_v,
         first_value(CASE WHEN h.sum_v IS NOT NULL THEN s.hr END
                     IGNORE NULLS) OVER w_next AS next_hr
  FROM spine s LEFT JOIN hourly h
    ON s.user_id = h.user_id AND s.hr = h.hr
  WINDOW
    w_prev AS (PARTITION BY s.user_id ORDER BY s.hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    w_next AS (PARTITION BY s.user_id ORDER BY s.hr
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, hr * 3600000 AS hour_ms, CAST(n AS BIGINT) AS n,
       CASE WHEN sum_v IS NOT NULL THEN sum_v
            WHEN prev_v IS NULL THEN next_v
            WHEN next_v IS NULL THEN prev_v
            ELSE prev_v + (next_v - prev_v) * (hr - prev_hr)
                          / (next_hr - prev_hr) END AS v,
       CASE WHEN sum_v IS NOT NULL THEN 'obs'
            WHEN prev_v IS NULL THEN 'bfill'
            WHEN next_v IS NULL THEN 'ffill'
            ELSE 'interp' END AS src
FROM j
""", doc="Linear interpolation over the densified per-user hourly "
         "spine — pandas resample().interpolate('linear'), the "
         "other half of the resampler pair next to events_gap_fill's "
         "LOCF: gap hours get prev + (next-prev)·(t-t_prev)/"
         "(t_next-t_prev) between the nearest observed neighbors, "
         "edges fall back to bfill/ffill, and every row carries its "
         "provenance tag (obs/interp/ffill/bfill — the column a "
         "training pipeline filters or weights on). Both neighbor "
         "scans are frames over the SAME per-user spine sort (the "
         "asof_join_nearest two-frame trick), so the whole plan is "
         "the hourly map-side-combined agg + the bounded per-user "
         "spine explode + ONE user_id shuffle with two window "
         "frames — no self-join of the spine to the observations. "
         "The interpolation arithmetic is a fixed expression tree "
         "evaluated once per row ((next-prev)·Δt first, then the "
         "divide, then the add), so IEEE-754 makes both engines "
         "bit-identical.")
def events_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = (ev.groupBy("user_id",
                         F.expr("ts div 3600000000000").alias("hr"))
              .agg(F.count("*").alias("n"),
                   F.sum(F.col("value").cast("decimal(18,6)"))
                   .cast("double").alias("sum_v")))
    spine = (hourly.groupBy("user_id")
             .agg(F.min("hr").alias("h0"), F.max("hr").alias("h1"))
             .select("user_id",
                     F.explode(F.expr("sequence(h0, h1)")).alias("hr")))
    j = spine.join(hourly, ["user_id", "hr"], "left")
    wp = (W.partitionBy("user_id").orderBy("hr")
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    wn = (W.partitionBy("user_id").orderBy("hr")
          .rowsBetween(W.currentRow, W.unboundedFollowing))
    obs_hr = F.when(F.col("sum_v").isNotNull(), F.col("hr"))
    j = (j.withColumn("prev_v", F.last("sum_v", ignorenulls=True).over(wp))
         .withColumn("prev_hr", F.last(obs_hr, ignorenulls=True).over(wp))
         .withColumn("next_v", F.first("sum_v", ignorenulls=True).over(wn))
         .withColumn("next_hr",
                     F.first(obs_hr, ignorenulls=True).over(wn)))
    interp = (F.col("prev_v")
              + (F.col("next_v") - F.col("prev_v"))
              * (F.col("hr") - F.col("prev_hr"))
              / (F.col("next_hr") - F.col("prev_hr")))
    return j.select(
        "user_id", (F.col("hr") * 3600000).alias("hour_ms"),
        F.coalesce("n", F.lit(0)).cast("long").alias("n"),
        F.when(F.col("sum_v").isNotNull(), F.col("sum_v"))
         .when(F.col("prev_v").isNull(), F.col("next_v"))
         .when(F.col("next_v").isNull(), F.col("prev_v"))
         .otherwise(interp).alias("v"),
        F.when(F.col("sum_v").isNotNull(), F.lit("obs"))
         .when(F.col("prev_v").isNull(), F.lit("bfill"))
         .when(F.col("next_v").isNull(), F.lit("ffill"))
         .otherwise(F.lit("interp")).alias("src"))


@register("events_hourly_autocorr", oracle="""
WITH hourly AS (
  SELECT event_type, epoch_ns(ts) // 3600000000000 AS hr,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
), pairs AS (
  SELECT event_type, n,
         lag(n) OVER (PARTITION BY event_type ORDER BY hr) AS pn,
         lag(hr) OVER (PARTITION BY event_type ORDER BY hr) AS ph,
         hr
  FROM hourly
), c AS (
  SELECT event_type,
         CAST(COUNT(*) AS DOUBLE) AS k,
         CAST(CAST(SUM(pn) AS BIGINT) AS DOUBLE) AS sx,
         CAST(CAST(SUM(n) AS BIGINT) AS DOUBLE) AS sy,
         CAST(CAST(SUM(pn * pn) AS BIGINT) AS DOUBLE) AS sxx,
         CAST(CAST(SUM(n * n) AS BIGINT) AS DOUBLE) AS syy,
         CAST(CAST(SUM(pn * n) AS BIGINT) AS DOUBLE) AS sxy
  FROM pairs WHERE ph = hr - 1
  GROUP BY event_type
)
SELECT event_type, CAST(k AS BIGINT) AS k,
       sy / k AS mean_n,
       (k * sxy - sx * sy)
         / (sqrt(k * sxx - sx * sx) * sqrt(k * syy - sy * sy))
         AS autocorr_lag1
FROM c
""", doc="Lag-1 autocorrelation of the hourly event-rate series per "
         "type — the time-series burstiness diagnostic (white noise "
         "~0, sticky load ~1) that decides whether a rate forecast "
         "needs an AR term: hourly counts from ONE map-side-combined "
         "agg, consecutive-hour pairs via lag() over the tiny "
         "|types|x|hours| aggregate (gap hours drop out via the "
         "ph = hr-1 guard rather than polluting the lag), Pearson r "
         "from six order-free integer moment sums exactly like "
         "agg_corr_covar — the counts are integers, so every sum is "
         "exact and the only float ops are the final fixed "
         "expression tree (two sqrts, one divide), IEEE-identical "
         "in both engines. Scale shape: the corpus-sized work is "
         "the ONE hourly pre-agg; everything after runs on the "
         "aggregate, and the window partitions by type — never a "
         "global sort.")
def events_hourly_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = (ev.groupBy("event_type",
                         F.expr("ts div 3600000000000").alias("hr"))
              .agg(F.count("*").alias("n")))
    w = W.partitionBy("event_type").orderBy("hr")
    pairs = (hourly
             .withColumn("pn", F.lag("n").over(w))
             .withColumn("ph", F.lag("hr").over(w))
             .filter(F.col("ph") == F.col("hr") - 1))
    c = (pairs.groupBy("event_type")
         .agg(F.count("*").cast("double").alias("k"),
              F.sum("pn").cast("double").alias("sx"),
              F.sum("n").cast("double").alias("sy"),
              F.sum(F.col("pn") * F.col("pn")).cast("double")
              .alias("sxx"),
              F.sum(F.col("n") * F.col("n")).cast("double")
              .alias("syy"),
              F.sum(F.col("pn") * F.col("n")).cast("double")
              .alias("sxy")))
    k, sx, sy = F.col("k"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return c.select(
        "event_type", k.cast("long").alias("k"),
        (sy / k).alias("mean_n"),
        ((k * sxy - sx * sy)
         / (F.sqrt(k * sxx - sx * sx) * F.sqrt(k * syy - sy * sy)))
        .alias("autocorr_lag1"))


#: Token-bucket parameters shared by the batch plan below and (like
#: CUSUM_ORACLE) by any streaming twin: one token refills every 6
#: hours of event time, the bucket holds 2 tokens, every event costs
#: one.  Levels are measured in integer NANOSECONDS-OF-REFILL (1 token
#: = _TB_REFILL_NS), so the whole recursion is exact int64 arithmetic.
_TB_REFILL_NS = 6 * NS_PER_HOUR      # 1 token per 6 h
_TB_CAP_UNITS = 2 * _TB_REFILL_NS    # bucket capacity: 2 tokens
#: Packing modulus: acc = admitted * _TB_M + level.  level < cap <
#: 1e14 = _TB_M; admitted < 9.2e4 keeps acc inside int64 — widen to
#: DECIMAL if a key ever legitimately admits more (docstring note).
_TB_M = 100_000_000_000_000

RATE_LIMIT_ORACLE = f"""
WITH s AS (
  SELECT user_id,
         list(epoch_ns(ts) ORDER BY ts, event_id) AS tss,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY user_id
), d AS (
  SELECT user_id, n,
         list_transform(tss, (t, i) -> CASE WHEN i = 1
             THEN CAST({_TB_CAP_UNITS} AS BIGINT)
             ELSE t - tss[i - 1] END) AS dts
  FROM s
), f AS (
  SELECT user_id, n,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT), dts),
           (acc, dt) -> CASE
             WHEN least(CAST({_TB_CAP_UNITS} AS BIGINT),
                        acc % {_TB_M} + dt) >= {_TB_REFILL_NS}
             THEN (acc // {_TB_M} + 1) * {_TB_M}
                  + least(CAST({_TB_CAP_UNITS} AS BIGINT),
                          acc % {_TB_M} + dt) - {_TB_REFILL_NS}
             ELSE (acc // {_TB_M}) * {_TB_M}
                  + least(CAST({_TB_CAP_UNITS} AS BIGINT),
                          acc % {_TB_M} + dt)
           END) AS acc
  FROM d
)
SELECT user_id, n AS n_events,
       acc // {_TB_M} AS n_admitted,
       n - acc // {_TB_M} AS n_rejected,
       acc % {_TB_M} AS level_final_units
FROM f
"""


@register("events_rate_limit", oracle=RATE_LIMIT_ORACLE,
    doc="Token-bucket rate limiting replayed over the event log — the "
        "API-quota / request-throttling governor every ingestion edge "
        "runs (and the admission-control audit: which users WOULD "
        "have been throttled under a 1-token-per-6h, burst-2 "
        "policy?).  The recursion level_i = min(cap, level_(i-1) + "
        "r*dt) - cost*admit_i is doubly non-linear (a clamp AND a "
        "branch on the clamped value), beyond any window frame and "
        "beyond CUSUM's single clamp — expressed as the same "
        "one-shuffle per-entity pattern as events_cusum: per-user "
        "collect sorted by (ts, event_id), inter-arrival deltas via "
        "an indexed transform, then a sequential in-row fold.  The "
        "entire state machine runs in int64: levels are measured in "
        "nanoseconds-of-refill (1 token = 6h of ns), so refill = the "
        "raw ns delta, and the fold packs (admitted, level) into ONE "
        "bigint accumulator (admitted*1e14 + level; level < 4.4e13, "
        "admitted < 9.2e4 before overflow — widen the modulus to "
        "DECIMAL for hotter keys).  No float enters the plan; the "
        "result is bit-exact on both engines.  Scale shape: ONE "
        "user_id shuffle carrying (ts, event_id) pairs; the fold is "
        "O(per-user events) inside the row, state O(1) per user — "
        "the same cost as the streaming stateful twin would pay.")
def events_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = (ev.groupBy("user_id")
         .agg(F.expr("array_sort(collect_list(struct(ts, event_id)))")
              .alias("evs"),
              F.count("*").cast("long").alias("n_events"))
         .select("user_id", "n_events",
                 F.expr("transform(evs, e -> e.ts)").alias("tss")))
    cap, m, cost = _TB_CAP_UNITS, _TB_M, _TB_REFILL_NS
    refill = (f"least(CAST({cap} AS BIGINT), acc % {m}L + dt)")
    fold = F.expr(
        f"aggregate("
        f"  transform(tss, (t, i) -> IF(i = 0, CAST({cap} AS BIGINT),"
        f"                             t - element_at(tss, i))),"
        f"  CAST(0 AS BIGINT),"
        f"  (acc, dt) -> IF({refill} >= {cost}L,"
        f"    (acc div {m}L + 1L) * {m}L + {refill} - {cost}L,"
        f"    (acc div {m}L) * {m}L + {refill}))")
    return (s.select("user_id", "n_events", fold.alias("acc"))
            .select("user_id", "n_events",
                    F.expr(f"acc div {m}L").alias("n_admitted"),
                    F.expr(f"n_events - acc div {m}L").alias("n_rejected"),
                    F.expr(f"acc % {m}L").alias("level_final_units")))


#: Shared by the batch plan below and its stateful-streaming twin
#: (plans/streaming.py::streaming_changepoint) — the twins' contract:
#: one oracle text, two engines' worth of execution strategies.
CHANGEPOINT_ORACLE = """
WITH hourly AS (
  SELECT event_type, epoch_ns(ts) // 3600000000000 AS hr,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), s AS (
  SELECT event_type,
         list(hr ORDER BY hr) AS hrs,
         list(n ORDER BY hr) AS ns,
         CAST(COUNT(*) AS BIGINT) AS L,
         CAST(SUM(n) AS BIGINT) AS S
  FROM hourly GROUP BY event_type HAVING COUNT(*) >= 2
), cands AS (
  SELECT event_type, hrs, ns, L, S,
         list_transform(range(1, CAST(L AS INTEGER)), k -> struct_pack(
           g := CAST(list_sum(ns[1:k]) AS DOUBLE)
                  * list_sum(ns[1:k]) / k
                + CAST(S - list_sum(ns[1:k]) AS DOUBLE)
                  * (S - list_sum(ns[1:k])) / (L - k)
                - CAST(S AS DOUBLE) * S / L,
           k := CAST(k AS BIGINT),
           sk := CAST(list_sum(ns[1:k]) AS BIGINT))) AS cl
  FROM s
), best AS (
  SELECT event_type, hrs, L, S,
         list_reduce(
           list_prepend(struct_pack(g := CAST(-1e308 AS DOUBLE),
                                    k := CAST(0 AS BIGINT),
                                    sk := CAST(0 AS BIGINT)), cl),
           (a, b) -> CASE WHEN b.g > a.g THEN b ELSE a END) AS b
  FROM cands
)
SELECT event_type, L AS n_hours,
       hrs[CAST(b.k AS INTEGER)] AS split_hr,
       b.k AS left_len,
       ROUND(CAST(b.sk AS DOUBLE) / b.k, 6) AS left_mean,
       ROUND(CAST(S - b.sk AS DOUBLE) / (L - b.k), 6) AS right_mean,
       ROUND(b.g, 6) AS gain
FROM best
"""


#: The production state cap (streaming_changepoint_windowed): detect
#: only within the trailing W hours PER TYPE.  Derived from
#: CHANGEPOINT_ORACLE by renaming its hourly CTE and inserting one
#: window-filter CTE, so the scoring tail (slice sums, IEEE gain tree,
#: earliest-k argmax) stays IDENTICAL by construction — the twins'
#: one-oracle-text contract, kept under derivation.
CHANGEPOINT_WINDOW_HOURS = 168

CHANGEPOINT_WINDOWED_ORACLE = CHANGEPOINT_ORACLE.replace(
    "WITH hourly AS (", "WITH hourly_all AS (", 1).replace(
    "), s AS (", f"""), hourly AS (
  SELECT event_type, hr, n FROM hourly_all
  QUALIFY hr > MAX(hr) OVER (PARTITION BY event_type)
               - {CHANGEPOINT_WINDOW_HOURS}
), s AS (""", 1)


@register("events_changepoint_binary", oracle=CHANGEPOINT_ORACLE,
    doc="Single change-point detection by binary segmentation over "
         "each type's hourly-rate series — the first split of the "
         "classic binary-segmentation / CUSUM-localization family "
         "(find WHERE the level shifted, where events_cusum answers "
         "WHETHER it drifted): the split k* maximizes the "
         "between-segment SSE reduction S_k^2/k + (S-S_k)^2/(L-k) - "
         "S^2/L, evaluated for every prefix from EXACT integer "
         "prefix sums and argmaxed with earliest-k tie-break by ONE "
         "in-row struct fold (functions/changepoint.py, shared with "
         "the streaming twins) — "
         "gains are doubles built from exact int64 sums through one "
         "fixed expression tree, IEEE-identical on both engines. "
         "Scale shape: the corpus-sized work is the ONE map-side-"
         "combined hourly pre-agg (|types|x|hours| out); the series "
         "collect and the O(L) running-sum scoring run on the tiny "
         "aggregate inside the row (L = distinct hours, bounded by "
         "the time span, not the row count).")
def events_changepoint_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = (ev.groupBy("event_type",
                         F.expr("ts div 3600000000000").alias("hr"))
              .agg(F.count("*").cast("long").alias("n")))
    s = (hourly.groupBy("event_type")
         .agg(F.expr("array_sort(collect_list(struct(hr, n)))").alias("a"))
         .filter(F.size("a") >= 2)
         .select("event_type",
                 F.expr("transform(a, x -> x.hr)").alias("hrs"),
                 F.expr("transform(a, x -> x.n)").alias("ns")))
    return (s.select("event_type", best_split().alias("c"))
            .select("event_type", "c.*"))


HOLT_ORACLE = """
WITH RECURSIVE rows_i AS (
  SELECT user_id, CAST(value AS DOUBLE) AS x,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS i,
         CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
  FROM events
), keep AS (
  SELECT * FROM rows_i WHERE n >= 4
), hs AS (
  SELECT a.user_id, a.n, CAST(2 AS BIGINT) AS i,
         a1.x AS l, a.x - a1.x AS b
  FROM keep a JOIN keep a1
    ON a.user_id = a1.user_id AND a.i = 2 AND a1.i = 1
  UNION ALL
  SELECT h.user_id, h.n, r.i,
         0.5 * r.x + 0.5 * (h.l + h.b) AS l,
         0.25 * ((0.5 * r.x + 0.5 * (h.l + h.b)) - h.l)
           + 0.75 * h.b AS b
  FROM hs h JOIN keep r
    ON r.user_id = h.user_id AND r.i = h.i + 1
)
SELECT user_id, n AS n_events,
       ROUND(l, 6) AS level_final,
       ROUND(b, 6) AS trend_final,
       ROUND(l + b, 6) AS forecast_next
FROM hs WHERE i = n
"""


@register("events_holt_step", oracle=HOLT_ORACLE,
    doc="Holt's linear-trend exponential smoothing per entity — the "
         "two-recursion load forecaster (level AND trend, where "
         "recursive_ewma_monthly is the single-recursion mean): "
         "l' = alpha*x + (1-alpha)(l+b), b' = beta*(l'-l) + "
         "(1-beta)*b with DYADIC coefficients (alpha=1/2, beta=1/4 — "
         "exact binary-float multiplies), initialized l0=x1, "
         "b0=x2-x1. TWO coupled recursions cannot ride any window "
         "frame or even WITH RECURSIVE conveniently per group, so "
         "this is the events_cusum shape with a STRUCT accumulator: "
         "per-user collect sorted by (ts, event_id), then a "
         "sequential in-row fold whose accumulator carries (l, b); the "
         "oracle replays it as a WITH RECURSIVE row recursion with "
         "the IDENTICAL IEEE expression tree (a DuckDB struct-"
         "accumulator list_reduce is NOT usable here: its lambda "
         "assigns struct fields sequentially in place, so the b "
         "expression would see the already-updated l), "
         "hash-checked after round(6). Output: final level/trend and "
         "the one-step-ahead forecast l+b. Scale shape: ONE user_id "
         "shuffle; fold O(per-user events) in-row; state O(1)/user — "
         "and the streaming twin would carry the same two doubles in "
         "group state.")
def events_holt_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = (ev.groupBy("user_id")
         .agg(F.expr("array_sort(collect_list(struct(ts, event_id, value)))")
              .alias("evs"),
              F.count("*").cast("long").alias("n"))
         .filter(F.col("n") >= 4)
         .select("user_id", "n",
                 F.expr("transform(evs, e -> e.value)").alias("vals")))
    fold = F.expr(
        "aggregate("
        "  transform(slice(vals, 3, size(vals) - 2),"
        "            x -> named_struct('l', CAST(x AS DOUBLE),"
        "                              'b', CAST(0 AS DOUBLE))),"
        "  named_struct('l', CAST(element_at(vals, 1) AS DOUBLE),"
        "               'b', CAST(element_at(vals, 2) AS DOUBLE)"
        "                    - CAST(element_at(vals, 1) AS DOUBLE)),"
        "  (a, e) -> named_struct("
        "    'l', 0.5D * e.l + 0.5D * (a.l + a.b),"
        "    'b', 0.25D * ((0.5D * e.l + 0.5D * (a.l + a.b)) - a.l)"
        "         + 0.75D * a.b))")
    return (s.select("user_id", F.col("n").alias("n_events"),
                     fold.alias("st"))
            .select("user_id", "n_events",
                    F.round(F.col("st.l"), 6).alias("level_final"),
                    F.round(F.col("st.b"), 6).alias("trend_final"),
                    F.round(F.expr("st.l + st.b"), 6)
                    .alias("forecast_next")))


#: MATCH_RECOGNIZE FSM packing: acc = matches * 10 + state, with
#: state in {0 idle, 1 seen-click, 2 in-views}.  matches < |user's
#: events| (~1e4 at any tested sf) keeps acc far inside int64.
_MR_M = 10

MATCH_RECOGNIZE_ORACLE = f"""
WITH seq AS (
  SELECT user_id,
         list(CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2
              WHEN 'purchase' THEN 3 ELSE 0 END
              ORDER BY ts, event_id) AS codes,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY user_id
), f AS (
  SELECT user_id, n,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT), codes),
           (acc, x) -> CASE
             WHEN x = 1 THEN (acc // {_MR_M}) * {_MR_M} + 1
             WHEN x = 2 AND acc % {_MR_M} IN (1, 2)
               THEN (acc // {_MR_M}) * {_MR_M} + 2
             WHEN x = 3 AND acc % {_MR_M} = 2
               THEN (acc // {_MR_M} + 1) * {_MR_M}
             ELSE (acc // {_MR_M}) * {_MR_M}
           END) AS acc
  FROM seq
)
SELECT user_id, n AS n_events,
       acc // {_MR_M} AS n_matches,
       acc % {_MR_M} AS final_state
FROM f
"""


@register("events_match_recognize", oracle=MATCH_RECOGNIZE_ORACLE,
    doc="SQL-standard MATCH_RECOGNIZE row-pattern matching (SQL:2016, "
        "shipped by Flink/Trino/Oracle; Spark has no built-in) for the "
        "pattern CLICK VIEW+ PURCHASE with AFTER MATCH SKIP PAST LAST "
        "ROW, run as a deterministic finite-state machine folded over "
        "each user's time-ordered event sequence — the general form "
        "of the funnel queries (events_funnel fixes step ORDER via "
        "per-step MINs; a regex over the event alphabet cannot be "
        "windowed).  States: idle --click--> armed --view--> "
        "in-views (views self-loop) --purchase--> MATCH & reset; a "
        "click anywhere re-anchors (latest-anchor semantics), any "
        "other symbol resets — every transition is explicit in the "
        "CASE, so the two engines run the same automaton.  The fold "
        "packs (matches, state) into one int64 (matches*10 + state): "
        "no float, bit-exact.  Scale shape: the events_cusum pattern "
        "— ONE user_id shuffle carrying (ts, event_id, 3-valued "
        "code), the FSM is O(per-user events) inside the row, O(1) "
        "state per user; generalizing the pattern = editing the CASE "
        "transition table, not the dataflow.")
def events_match_recognize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    code = ("CASE event_type WHEN 'click' THEN 1L WHEN 'view' THEN 2L "
            "WHEN 'purchase' THEN 3L ELSE 0L END")
    s = (ev.selectExpr("user_id", "ts", "event_id", f"{code} AS code")
         .groupBy("user_id")
         .agg(F.expr("array_sort(collect_list(struct(ts, event_id, code)))")
              .alias("evs"),
              F.count("*").cast("long").alias("n_events"))
         .select("user_id", "n_events",
                 F.expr("transform(evs, e -> e.code)").alias("codes")))
    m = _MR_M
    fold = F.expr(
        f"aggregate(codes, CAST(0 AS BIGINT), (acc, x) -> CASE"
        f"  WHEN x = 1L THEN (acc div {m}L) * {m}L + 1L"
        f"  WHEN x = 2L AND acc % {m}L IN (1L, 2L)"
        f"    THEN (acc div {m}L) * {m}L + 2L"
        f"  WHEN x = 3L AND acc % {m}L = 2L"
        f"    THEN (acc div {m}L + 1L) * {m}L"
        f"  ELSE (acc div {m}L) * {m}L END)")
    return (s.select("user_id", "n_events", fold.alias("acc"))
            .select("user_id", "n_events",
                    F.expr(f"acc div {m}L").alias("n_matches"),
                    F.expr(f"acc % {m}L").alias("final_state")))


@register("events_seasonal_decompose_ma", oracle=f"""
WITH hourly AS (
  SELECT event_type, epoch_ns(ts) // {NS_PER_HOUR} AS hr,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), ma AS (
  SELECT event_type, hr, n,
         CAST(SUM(n) OVER w AS BIGINT) AS trend_sum,
         CAST(COUNT(*) OVER w AS BIGINT) AS frame_n
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hr
               ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
), detr AS (
  SELECT event_type, hr % 24 AS hour_of_day,
         25 * n - trend_sum AS detr_num
  FROM ma WHERE frame_n = 25
)
SELECT event_type, hour_of_day,
       CAST(COUNT(*) AS BIGINT) AS n_windows,
       CAST(SUM(detr_num) AS BIGINT) AS seasonal_num,
       ROUND(CAST(SUM(detr_num) AS DOUBLE) / (25 * COUNT(*)), 6)
         AS seasonal
FROM detr GROUP BY event_type, hour_of_day
""", doc="Classical moving-average seasonal decomposition of the "
         "per-type hourly rate series (the decompose() every "
         "capacity-planning / anomaly-baseline pipeline runs before "
         "alerting on residuals): trend = centered 25-hour moving "
         "sum over the hourly counts, detrended value = 25*n - "
         "trend_sum kept as an EXACT INTEGER (the division by 25 is "
         "deferred to the final seasonal index, one double division "
         "rounded at 6dp), seasonal index per (type, hour-of-day) = "
         "mean detrended — the daily shape the rate series repeats.  "
         "Edge hours without a full centered frame are excluded by "
         "the frame COUNT (both engines evaluate the same ROWS "
         "frame, so exclusion is engine-identical).  Scale shape: "
         "the corpus term is the one map-side-combined hourly "
         "pre-agg (the events_changepoint/autocorr cost model); the "
         "MA window and the 24-key rollup run on the |types|x|hours| "
         "aggregate.")
def events_seasonal_decompose_ma(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = (ev.select("event_type",
                        F.expr(f"ts div {NS_PER_HOUR}").alias("hr"))
              .groupBy("event_type", "hr")
              .agg(F.count("*").cast("long").alias("n")))
    w = (W.partitionBy("event_type").orderBy("hr")
         .rowsBetween(-12, 12))
    ma = hourly.select(
        "event_type", "hr", "n",
        F.sum("n").over(w).cast("long").alias("trend_sum"),
        F.count("*").over(w).cast("long").alias("frame_n"))
    detr = (ma.filter(F.col("frame_n") == 25)
            .select("event_type",
                    F.expr("hr % 24").alias("hour_of_day"),
                    (25 * F.col("n") - F.col("trend_sum"))
                    .alias("detr_num")))
    return (detr.groupBy("event_type", "hour_of_day")
            .agg(F.count("*").cast("long").alias("n_windows"),
                 F.sum("detr_num").cast("long").alias("seasonal_num"),
                 F.round(F.sum("detr_num").cast("double")
                         / (25 * F.count("*")), 6).alias("seasonal")))


@register("events_outage_gaps", oracle=f"""
WITH g AS (
  SELECT event_type,
         epoch_ns(ts) - lag(epoch_ns(ts))
           OVER (PARTITION BY event_type
                 ORDER BY ts, event_id) AS gap_ns,
         epoch_ns(ts) // 1000000 AS gap_end_ms,
         lag(epoch_ns(ts)) OVER (PARTITION BY event_type
                                 ORDER BY ts, event_id) // 1000000
           AS gap_start_ms,
         event_id AS end_event_id
  FROM events
)
SELECT event_type, gap_start_ms, gap_end_ms,
       CAST(gap_ns AS BIGINT) AS gap_ns,
       CAST(gap_ns // 60000000000 AS BIGINT) AS gap_minutes
FROM g WHERE gap_ns IS NOT NULL
ORDER BY gap_ns DESC, event_type, end_event_id
LIMIT 20
""", doc="Outage / silence detection from inter-arrival gaps — the "
         "monitoring query behind every 'no data from source X' "
         "alert: per event type, the gap between consecutive events "
         "(ordered by (ts, event_id) — the engine's unique-tiebreak "
         "convention), top-20 longest gaps with their boundaries.  "
         "In production the threshold version streams (a "
         "flatMapGroupsWithState timeout); this batch form is the "
         "backfill/audit twin that quantifies historical silence.  "
         "Scale shape: ONE event_type shuffle for the lag window "
         "(the per-entity-series cost model), TakeOrdered bounds "
         "the result — no global sort, no join; at 100 TB the lag "
         "rides the same sort any sessionization already pays.")
def events_outage_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    g = ev.select(
        "event_type", "event_id",
        (F.col("ts") - F.lag("ts").over(w)).alias("gap_ns"),
        F.expr("ts div 1000000").alias("gap_end_ms"),
        F.expr("lag(ts) OVER (PARTITION BY event_type "
               "ORDER BY ts, event_id) div 1000000")
        .alias("gap_start_ms"))
    return (g.filter(F.col("gap_ns").isNotNull())
            .orderBy(F.desc("gap_ns"), "event_type", "event_id")
            .limit(20)
            .select("event_type", "gap_start_ms", "gap_end_ms",
                    F.col("gap_ns").cast("long").alias("gap_ns"),
                    F.expr("gap_ns div 60000000000").cast("long")
                    .alias("gap_minutes")))


@register("events_markov_stationary_step", oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS nxt
  FROM events
), c AS (
  SELECT event_type AS src, nxt AS dst, CAST(COUNT(*) AS BIGINT) AS c
  FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
), rowtot AS (
  SELECT src, CAST(SUM(c) AS BIGINT) AS c_src FROM c GROUP BY src
), msg AS (
  SELECT c.dst,
         (200000000 * c.c) // r.c_src AS units,
         c.src
  FROM c JOIN rowtot r ON c.src = r.src
)
SELECT dst AS event_type,
       CAST(SUM(units) AS BIGINT) AS inflow_units,
       CAST(COUNT(*) AS BIGINT) AS n_in_edges
FROM msg GROUP BY dst
""", doc="One power-iteration step toward the stationary distribution "
         "of the user-journey Markov chain (events_path_transitions' "
         "matrix, iterated — the PageRank-style fixpoint whose limit "
         "says where user sessions SETTLE): v' = v.P from the "
         "uniform start, in SCALED INTEGERS — each type starts with "
         "1e9/5 = 2e8 units and sends floor(units * c_ij / c_i) "
         "along each transition edge (the graph_pagerank_iter "
         "message-passing convention: integer div per edge, exact "
         "sums, no float accumulation anywhere).  Iterating = "
         "feeding inflow_units back as the next round's weights.  "
         "Scale shape: the corpus term is the one lead() pass on "
         "the user_id partitioning (reused by the whole journey "
         "family); the chain math runs on the <=|types|^2-row "
         "aggregate with the row totals joined back.")
def events_markov_stationary_step(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select("event_type",
                    F.lead("event_type").over(w).alias("nxt"))
    # Materialize the <=|types|^2-row aggregate once: both the
    # row-total branch and the message join read it, and without
    # this the totals branch re-runs the corpus lead() window
    # (the IVFPQ double-eval lesson; plan-pinned below).
    c = truncated_checkpoint(
        seq.filter(F.col("nxt").isNotNull())
        .groupBy(F.col("event_type").alias("src"),
                 F.col("nxt").alias("dst"))
        .agg(F.count("*").cast("long").alias("c")))
    rowtot = (c.groupBy("src")
              .agg(F.sum("c").cast("long").alias("c_src")))
    msg = (c.join(rowtot, "src")
           .select("dst", F.expr("(200000000 * c) div c_src")
                   .alias("units")))
    return (msg.groupBy(F.col("dst").alias("event_type"))
            .agg(F.sum("units").cast("long").alias("inflow_units"),
                 F.count("*").cast("long").alias("n_in_edges")))


@register("events_ab_lift_funnel", oracle="""
WITH tagged AS (
  SELECT user_id, user_id % 2 AS variant, event_type, ts, event_id
  FROM events
), steps AS (
  SELECT user_id, MAX(variant) AS variant,
         MIN(CASE WHEN event_type = 'click' THEN epoch_ns(ts) END)
           AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) END)
           AS t_purchase
  FROM tagged GROUP BY user_id
), conv AS (
  SELECT variant,
         CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(CASE WHEN t_click IS NOT NULL
                       AND t_purchase > t_click
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_conv
  FROM steps GROUP BY variant
), wide AS (
  SELECT MAX(CASE WHEN variant = 0 THEN n_users END) AS n0,
         MAX(CASE WHEN variant = 0 THEN n_conv END) AS c0,
         MAX(CASE WHEN variant = 1 THEN n_users END) AS n1,
         MAX(CASE WHEN variant = 1 THEN n_conv END) AS c1
  FROM conv
)
SELECT n0, c0, n1, c1,
       (1000 * c0) // n0 AS rate0_milli,
       (1000 * c1) // n1 AS rate1_milli,
       ROUND((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
             / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (1.0 / n0 + 1.0 / n1)), 6) AS z_score
FROM wide
""", doc="A/B experiment readout over the conversion funnel — the "
         "two-proportion z-test every growth team runs: users split "
         "into variants by a deterministic key hash (user_id % 2 — "
         "the assignment IS replayable, rand() buckets are not), "
         "per-variant click->purchase conversion (purchase strictly "
         "after first click, the events_funnel ordering), rates in "
         "integer per-mille, and the pooled two-proportion z-score "
         "as one fixed double tree (sqrt-only, the agg_ttest_welch "
         "convention) rounded at 6dp.  Scale shape: ONE user_id "
         "shuffle for the per-user step MINs (the funnel cost "
         "model), then a 2-row variant rollup pivoted in a 1-row "
         "aggregate — the statistics run on 4 integers however "
         "large the corpus.")
def events_ab_lift_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    steps = (ev.select("user_id",
                       F.expr("user_id % 2").alias("variant"),
                       "event_type", "ts")
             .groupBy("user_id")
             .agg(F.max("variant").alias("variant"),
                  F.min(F.when(F.col("event_type") == "click",
                               F.col("ts"))).alias("t_click"),
                  F.min(F.when(F.col("event_type") == "purchase",
                               F.col("ts"))).alias("t_purchase")))
    conv = (steps.groupBy("variant")
            .agg(F.count("*").cast("long").alias("n_users"),
                 F.sum(F.when(F.col("t_click").isNotNull()
                              & (F.col("t_purchase") > F.col("t_click")),
                              1).otherwise(0)).cast("long")
                 .alias("n_conv")))
    wide = conv.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n_users")))
        .alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("n_conv")))
        .alias("c0"),
        F.max(F.when(F.col("variant") == 1, F.col("n_users")))
        .alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("n_conv")))
        .alias("c1"))
    return wide.selectExpr(
        "n0", "c0", "n1", "c1",
        "(1000 * c0) div n0 AS rate0_milli",
        "(1000 * c1) div n1 AS rate1_milli",
        "ROUND((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)"
        " / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))"
        " * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))"
        " * (1.0D / n0 + 1.0D / n1)), 6) AS z_score")


@register("events_gap_percentiles", oracle=f"""
WITH g AS (
  SELECT event_type,
         (epoch_ns(ts) - lag(epoch_ns(ts))
            OVER (PARTITION BY event_type ORDER BY ts, event_id))
           // 1000000000 AS gap_s
  FROM events
), c AS (
  SELECT event_type, gap_s, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM g WHERE gap_s IS NOT NULL GROUP BY event_type, gap_s
), cum AS (
  SELECT event_type, gap_s, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY gap_s)
           AS below_eq,
         SUM(cnt) OVER (PARTITION BY event_type) AS total
  FROM c
)
SELECT event_type,
       CAST(MIN(CASE WHEN 100 * below_eq >= 50 * total
                THEN gap_s END) AS BIGINT) AS p50_s,
       CAST(MIN(CASE WHEN 100 * below_eq >= 90 * total
                THEN gap_s END) AS BIGINT) AS p90_s,
       CAST(MIN(CASE WHEN 100 * below_eq >= 99 * total
                THEN gap_s END) AS BIGINT) AS p99_s,
       CAST(MAX(gap_s) AS BIGINT) AS max_s,
       CAST(MIN(total) AS BIGINT) AS n_gaps
FROM cum GROUP BY event_type
""", doc="Exact inter-arrival-time percentiles per event type — the "
         "latency-SLO readout (p50/p90/p99 waiting time) computed "
         "EXACTLY, not sketched: gaps from the per-type lag pass "
         "(the outage-gaps machinery), quantized to whole seconds, "
         "then the profile_key_skew count-of-counts rewrite — "
         "percentile ranks resolve on the DISTINCT-GAP-VALUE table "
         "(bounded by the second grid, never |events| rows in a "
         "window), discrete pick via the integer cross-product "
         "compare 100*cum >= q*total (no float rank math).  Scale "
         "shape: one event_type shuffle for the lag, one map-side-"
         "combined (type, gap_s) count, cumulative windows over "
         "distinct VALUES only — the same query over a billion "
         "events windows over at most ~86400 x |types| rows.")
def events_gap_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    g = ev.select(
        "event_type",
        F.expr("(ts - lag(ts) OVER (PARTITION BY event_type "
               "ORDER BY ts, event_id)) div 1000000000").alias("gap_s"))
    c = (g.filter(F.col("gap_s").isNotNull())
         .groupBy("event_type", "gap_s")
         .agg(F.count("*").cast("long").alias("cnt")))
    wc = W.partitionBy("event_type").orderBy("gap_s")
    wt = W.partitionBy("event_type")
    cum = c.select("event_type", "gap_s", "cnt",
                   F.sum("cnt").over(wc).alias("below_eq"),
                   F.sum("cnt").over(wt).alias("total"))

    def pick(q: int, alias: str):
        return F.min(F.when(100 * F.col("below_eq")
                            >= q * F.col("total"),
                            F.col("gap_s"))).cast("long").alias(alias)

    return (cum.groupBy("event_type")
            .agg(pick(50, "p50_s"), pick(90, "p90_s"),
                 pick(99, "p99_s"),
                 F.max("gap_s").cast("long").alias("max_s"),
                 F.min("total").cast("long").alias("n_gaps")))
