"""Warehouse-maintenance plans: MERGE upsert and SCD2 history.

Two operators every warehouse feeding a training pipeline runs daily,
expressed as pure DataFrame plans (no table-format dependency — the
same dataflow a Delta/Iceberg MERGE compiles to):

- MERGE (upsert): full-outer join of target and source on the key,
  then a per-row action (update / insert / keep). One shuffle on the
  merge key; at scale the small-delta side broadcast-joins instead.
- SCD2 (slowly-changing dimension, type 2): change events become
  validity intervals [valid_from, valid_to) via lead() over the
  per-key event sequence. One shuffle on the dimension key; the
  window sort is within-partition.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.decimal_safe import (dsum, fixed2_str, sql_dsum,
                                      sql_fixed2_str)
from ..functions.values import values_df
from ..operators.checkpoint import truncated_checkpoint
from ..sources.tables import load_table
from ..session import staging_dir
from .base import register


@register("merge_upsert_customers", oracle=f"""
WITH tgt AS (
  SELECT c_custkey AS custkey, c_acctbal FROM customer
  WHERE c_nationkey < 20
), src AS (
  SELECT o_custkey, {sql_dsum("o_totalprice", "delta")}
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
    AND o_orderdate < TIMESTAMP '1996-01-01'
  GROUP BY o_custkey
)
SELECT COALESCE(custkey, o_custkey) AS custkey,
       CASE WHEN custkey IS NULL THEN 'insert'
            WHEN o_custkey IS NULL THEN 'keep'
            ELSE 'update' END AS merge_action,
       CASE WHEN custkey IS NULL THEN delta
            WHEN o_custkey IS NULL THEN c_acctbal
            ELSE c_acctbal + delta END AS new_acctbal
FROM tgt FULL JOIN src ON custkey = o_custkey
""", doc="MERGE semantics (the dataflow a Delta/Iceberg MERGE INTO "
         "compiles to): target = customers of nations 0-19, source = "
         "1995 order-revenue deltas per customer. Matched rows update "
         "the balance, source-only rows insert, target-only rows keep. "
         "Full-outer join on the key is the general plan; when the "
         "delta side is small (the daily case) it broadcast-joins. "
         "Delta sums are decimal-exact so both engines agree bit-wise.")
def merge_upsert_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    tgt = (cust.filter(F.col("c_nationkey") < 20)
           .select(F.col("c_custkey").alias("custkey"), "c_acctbal"))
    src = (orders
           .filter((F.col("o_orderdate")
                    >= F.lit("1995-01-01").cast("timestamp"))
                   & (F.col("o_orderdate")
                      < F.lit("1996-01-01").cast("timestamp")))
           .groupBy("o_custkey")
           .agg(dsum("o_totalprice", "delta")))
    m = tgt.join(src, tgt["custkey"] == src["o_custkey"], "full_outer")
    action = (F.when(F.col("custkey").isNull(), "insert")
              .when(F.col("o_custkey").isNull(), "keep")
              .otherwise("update"))
    new_bal = (F.when(F.col("custkey").isNull(), F.col("delta"))
               .when(F.col("o_custkey").isNull(), F.col("c_acctbal"))
               .otherwise(F.col("c_acctbal") + F.col("delta")))
    return m.select(
        F.coalesce("custkey", "o_custkey").alias("custkey"),
        action.alias("merge_action"),
        new_bal.alias("new_acctbal"))


@register("scd2_priority_history", oracle="""
SELECT o_custkey AS custkey, o_orderpriority AS priority,
       strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
       COALESCE(strftime(lead(o_orderdate) OVER w, '%Y-%m-%d'),
                '9999-12-31') AS valid_to,
       lead(o_orderdate) OVER w IS NULL AS is_current
FROM orders
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey)
""", doc="SCD2 dimension history: each customer's order-priority "
         "stream becomes versioned rows with [valid_from, valid_to) "
         "validity and an is_current flag — lead() over the per-key "
         "event sequence, the standard type-2 slowly-changing-"
         "dimension build. One shuffle on the dimension key; ordering "
         "is tiebroken by the unique order key so same-day changes "
         "version deterministically.")
def scd2_priority_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    return orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("valid_from"),
        F.coalesce(F.date_format(nxt, "yyyy-MM-dd"),
                   F.lit("9999-12-31")).alias("valid_to"),
        nxt.isNull().alias("is_current"))


@register("diff_snapshots", oracle=f"""
WITH snap_a AS (
  SELECT o_orderkey AS okey, o_orderstatus,
         {sql_fixed2_str("o_totalprice")} AS price_str
  FROM orders WHERE o_orderkey % 97 <> 0
), snap_b AS (
  SELECT o_orderkey AS okey, o_orderstatus,
         {sql_fixed2_str("CASE WHEN o_orderkey % 13 = 0 "
                         "THEN o_totalprice + 5.0 "
                         "ELSE o_totalprice END")} AS price_str
  FROM orders WHERE o_orderkey % 89 <> 0
), diff AS (
  SELECT COALESCE(a.okey, b.okey) AS o_orderkey,
         CASE WHEN a.okey IS NULL THEN 'added'
              WHEN b.okey IS NULL THEN 'removed'
              WHEN md5(concat(a.o_orderstatus, '|', a.price_str))
                   <> md5(concat(b.o_orderstatus, '|', b.price_str))
                THEN 'changed'
              ELSE 'unchanged' END AS diff_status,
         a.price_str AS old_price, b.price_str AS new_price
  FROM snap_a a FULL OUTER JOIN snap_b b ON a.okey = b.okey
)
SELECT o_orderkey, diff_status, old_price, new_price
FROM diff WHERE diff_status <> 'unchanged'
""", doc="Snapshot reconciliation (data-diff): which rows were added, "
         "removed, or changed between two versions of a table — the "
         "audit every warehouse runs after a backfill/migration, and "
         "what a training pipeline runs to answer 'what changed in "
         "the corpus since the last crawl'. The two snapshots here "
         "are deterministic views of `orders` (B drops keys "
         "divisible by 89, adds keys divisible by 97, reprices keys "
         "divisible by 13 by a flat +5.00 — the same IEEE add on "
         "both engines). Prices render through the shared "
         "fixed2_str/sql_fixed2_str path (round-2 then "
         "DECIMAL(38,2)→string — plain decimal notation at any "
         "magnitude in both engines), so the former |x| < 1e7 "
         "precondition on bare double→string casts is gone. "
         "Scale shape: ONE full-outer shuffle on "
         "the key, and the change test compares 16-byte md5 "
         "fingerprints of the non-key columns — at a real 100-column "
         "100 TB table the row fingerprint is computed in the scan "
         "projection and the exchange carries (key, digest), never "
         "the row; 'unchanged' rows (the overwhelming majority) are "
         "dropped before the result materializes.")
def diff_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("okey"), "o_orderstatus",
        fixed2_str("o_totalprice").alias("price_str"))
    snap_a = base.filter(F.col("okey") % 97 != 0)
    snap_b = orders.filter(F.col("o_orderkey") % 89 != 0).select(
        F.col("o_orderkey").alias("okey"), "o_orderstatus",
        fixed2_str(
            F.when(F.col("o_orderkey") % 13 == 0,
                   F.col("o_totalprice") + F.lit(5.0))
             .otherwise(F.col("o_totalprice"))).alias("price_str"))
    fp = lambda s, p: F.md5(F.concat(s, F.lit("|"), p))  # noqa: E731
    a = snap_a.select("okey", fp(F.col("o_orderstatus"),
                                 F.col("price_str")).alias("fp_a"),
                      F.col("price_str").alias("old_price"))
    b = snap_b.select(F.col("okey").alias("bkey"),
                      fp(F.col("o_orderstatus"),
                         F.col("price_str")).alias("fp_b"),
                      F.col("price_str").alias("new_price"))
    joined = a.join(b, a.okey == b.bkey, "full_outer")
    status = (F.when(F.col("okey").isNull(), "added")
              .when(F.col("bkey").isNull(), "removed")
              .when(F.col("fp_a") != F.col("fp_b"), "changed")
              .otherwise("unchanged"))
    return (joined.select(F.coalesce("okey", "bkey").alias("o_orderkey"),
                          status.alias("diff_status"),
                          "old_price", "new_price")
            .filter(F.col("diff_status") != "unchanged"))


#: Range-split geometry: 16 partitions -> 15 interior split points at
#: q = i/16, picked with the exact discrete-quantile convention
#: (1-based rn = ceil(q*n) — the probed DuckDB quantile_disc index).
_SPLIT_PARTS = 16


@register("compute_range_splits", oracle=f"""
WITH r AS (
  SELECT l_orderkey,
         row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS rn,
         COUNT(*) OVER () AS n
  FROM lineitem
), q AS (SELECT unnest(range(1, {_SPLIT_PARTS})) AS i)
SELECT CAST(q.i AS BIGINT) AS split_idx,
       MAX(CASE WHEN r.rn = CAST(ceil(CAST(q.i AS DOUBLE) * r.n
                                      / {_SPLIT_PARTS}) AS BIGINT)
                THEN r.l_orderkey END) AS split_key
FROM r CROSS JOIN q
GROUP BY q.i
""", doc="Range-partitioner boundary computation: the 15 interior "
         "split keys that divide lineitem's (l_orderkey) order into "
         "16 equal-row ranges — what Spark's RangePartitioner "
         "samples for on every global sort / range-clustered write, "
         "and what the compaction operator's range clustering "
         "consumes, computed EXACTLY with the same ceil(q*n) "
         "discrete-quantile pick agg_quantiles pins. The exact rank "
         "is DISTRIBUTED (operators/ranks.py): hash-sampled range "
         "boundaries -> pure-expression partition ids -> per-range "
         "offsets + a pid-PARTITIONED window — NO unpartitioned "
         "window anywhere, so no single task ever holds the total "
         "order (the round-4 weak finding, removed). The sampled "
         "production sibling is compute_range_splits_sampled; this "
         "exact query is its accuracy gate. The tiebreak column "
         "(l_linenumber) makes the global rank a total order, so "
         "both engines pick the same element even among duplicate "
         "keys.")
def compute_range_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from ..operators.ranks import attach_global_rank, auto_sample_mod
    from ..sources.tables import table_row_count
    li = (load_table(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_linenumber"))
    specs = [("l_orderkey", "asc"), ("l_linenumber", "asc")]
    # Boundary-sample modulus scales with n, read straight from the
    # parquet footer (no count() job) so the driver-held sample stays
    # ~num_parts*1k rows at any scale.
    mod = auto_sample_mod(table_row_count(sf_dir, "lineitem"), 32,
                          target_per_part=128)
    ranked, n = attach_global_rank(li, specs, rank_col="_rn",
                                   num_parts=32, sample_mod=mod,
                                   pid_unroll=True)
    targets = [(i, math.ceil(i * n / _SPLIT_PARTS))
               for i in range(1, _SPLIT_PARTS)]
    idx = values_df(spark, targets, "split_idx long, _rn long")
    return (ranked.join(idx, "_rn")
            .select("split_idx", F.col("l_orderkey").alias("split_key")))


#: Production sampled-splits gate: keep rows whose portable md5-derived
#: 60-bit uniform int is 0 mod 16 (~6.25%). The md5 convention matches
#: plans/sampling.py so the DuckDB oracle replays the identical sample
#: bit-for-bit. At 100 TB the mod scales with n (target sample ~
#: num_parts * 2^10 rows); at test sf a fixed 16 keeps every sf's
#: sample non-degenerate.
_SPLIT_SAMPLE_MOD = 16
_SPLIT_KEY_SPARK = ("concat(CAST(l_orderkey AS STRING), '-',"
                    " CAST(l_linenumber AS STRING))")
_SPLIT_KEY_DUCK = ("CAST(l_orderkey AS VARCHAR) || '-'"
                   " || CAST(l_linenumber AS VARCHAR)")
_SPLIT_GATE_SPARK = (f"pmod(CAST(conv(substring(md5({_SPLIT_KEY_SPARK}),"
                     f" 1, 15), 16, 10) AS BIGINT),"
                     f" {_SPLIT_SAMPLE_MOD}) = 0")
_SPLIT_GATE_DUCK = (f"(CAST('0x' || substr(md5({_SPLIT_KEY_DUCK}), 1, 15)"
                    f" AS BIGINT) % {_SPLIT_SAMPLE_MOD}) = 0")


@register("compute_range_splits_sampled", oracle=f"""
WITH s AS (
  SELECT l_orderkey, l_linenumber FROM lineitem
  WHERE {_SPLIT_GATE_DUCK}
), r AS (
  SELECT l_orderkey,
         row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS rn,
         COUNT(*) OVER () AS m
  FROM s
), q AS (SELECT unnest(range(1, {_SPLIT_PARTS})) AS i)
SELECT CAST(q.i AS BIGINT) AS split_idx,
       MAX(CASE WHEN r.rn = CAST(ceil(CAST(q.i AS DOUBLE) * r.m
                                      / {_SPLIT_PARTS}) AS BIGINT)
                THEN r.l_orderkey END) AS split_key
FROM r CROSS JOIN q
GROUP BY q.i
""", doc="PRODUCTION range-splits path (the round-4 weak-#1 fix): "
         "split keys from a deterministic ~6.25% hash sample instead "
         "of an exact global rank — exactly Spark RangePartitioner's "
         "sketch, but with a portable md5 gate (retry-stable, and "
         "the oracle replays the identical sample, so even the "
         "SAMPLED path is hash-verified, not just rows-checked). "
         "One scan-side filter; the sample's own quantiles run "
         "through the same distributed ranker (operators/ranks.py), "
         "so there is STILL no unpartitioned window — no single "
         "task ever holds even the sample's total order. Accuracy "
         "vs the exact path is pytest-gated (bounded rank "
         "deviation, tests/test_range_splits.py). At 100 TB the "
         "gate's modulus scales with n so the sample stays "
         "~num_parts*1k rows whatever the corpus.")
def compute_range_splits_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from ..operators.ranks import attach_global_rank, auto_sample_mod
    from ..sources.tables import table_row_count
    # Materialize the gated sample ONCE: the md5 gate costs a digest
    # per corpus row, so it must run in a single scan — every later
    # job (boundary sample, offsets, final ranks) reads the bounded
    # checkpointed sample instead of re-scanning and re-hashing the
    # corpus.
    li = truncated_checkpoint(
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber")
        .filter(F.expr(_SPLIT_GATE_SPARK)))
    specs = [("l_orderkey", "asc"), ("l_linenumber", "asc")]
    # Modulus sizing needs only n's order of magnitude: estimate the
    # sample's size as footer-count/gate-modulus — no count() job
    # (the EXACT sample count still comes from the ranker's own
    # offsets pass below, as before).
    est_n = max(1, table_row_count(sf_dir, "lineitem") // _SPLIT_SAMPLE_MOD)
    mod = auto_sample_mod(est_n, 8, target_per_part=128)
    ranked, m = attach_global_rank(li, specs, rank_col="_rn",
                                   num_parts=8, sample_mod=mod,
                                   pid_unroll=True)
    targets = [(i, math.ceil(i * m / _SPLIT_PARTS))
               for i in range(1, _SPLIT_PARTS)]
    idx = values_df(spark, targets, "split_idx long, _rn long")
    return (ranked.join(idx, "_rn")
            .select("split_idx", F.col("l_orderkey").alias("split_key")))


@register("pit_join_scd2", oracle=f"""
WITH dim AS (
  SELECT o_custkey AS custkey, o_orderpriority AS priority,
         strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
         COALESCE(strftime(lead(o_orderdate) OVER w, '%Y-%m-%d'),
                  '9999-12-31') AS valid_to
  FROM orders WHERE o_orderkey % 2 = 0
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
), fact AS (
  SELECT o_custkey AS custkey, o_totalprice,
         strftime(o_orderdate, '%Y-%m-%d') AS order_day
  FROM orders WHERE o_orderkey % 2 = 1
)
SELECT COALESCE(d.priority, 'none') AS pit_priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {sql_dsum('f.o_totalprice', 'revenue')}
FROM fact f LEFT JOIN dim d
  ON f.custkey = d.custkey
 AND f.order_day >= d.valid_from AND f.order_day < d.valid_to
GROUP BY COALESCE(d.priority, 'none')
""", doc="Point-in-time (PIT) join against the SCD2 dimension: each "
         "fact order is enriched with the priority version VALID AT "
         "its order date — the temporal-correctness join every "
         "feature store and ML training pipeline needs to avoid "
         "label leakage (joining today's dimension onto yesterday's "
         "facts). Dimension = SCD2 intervals built from even-keyed "
         "orders (lead() versioning, half-open [valid_from, "
         "valid_to) so every fact date matches AT MOST ONE version; "
         "zero-length same-day versions match nothing, on both "
         "engines); facts = odd-keyed orders; join = ONE equi-shuffle "
         "on the dimension key with the interval test as a residual "
         "(per-key version counts are small, so the residual scan is "
         "bounded — the standard PIT cost model). Facts predating "
         "the first version surface as 'none', left-join semantics. "
         "Dates compare as yyyy-MM-dd strings — identical "
         "lexicographic = chronological ordering on both engines.")
def pit_join_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("custkey").orderBy("o_orderdate", "o_orderkey")
    dim_src = (orders.filter(F.col("o_orderkey") % 2 == 0)
               .select(F.col("o_custkey").alias("custkey"),
                       F.col("o_orderpriority").alias("priority"),
                       "o_orderdate", "o_orderkey"))
    nxt = F.lead("o_orderdate").over(w)
    dim = dim_src.select(
        "custkey", "priority",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("valid_from"),
        F.coalesce(F.date_format(nxt, "yyyy-MM-dd"),
                   F.lit("9999-12-31")).alias("valid_to"))
    fact = (orders.filter(F.col("o_orderkey") % 2 == 1)
            .select(F.col("o_custkey").alias("fcustkey"), "o_totalprice",
                    F.date_format("o_orderdate", "yyyy-MM-dd")
                    .alias("order_day")))
    joined = fact.join(
        dim,
        (F.col("fcustkey") == F.col("custkey"))
        & (F.col("order_day") >= F.col("valid_from"))
        & (F.col("order_day") < F.col("valid_to")),
        "left")
    return (joined.groupBy(F.coalesce("priority", F.lit("none"))
                           .alias("pit_priority"))
            .agg(F.count("*").alias("n_orders"),
                 dsum("o_totalprice", "revenue")))


@register("maintenance_compact_roundtrip", oracle=f"""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       {sql_dsum('l_quantity', 'sum_qty')},
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
       CAST(0 AS BIGINT) AS n_range_overlaps
FROM lineitem GROUP BY l_returnflag
""", doc="OPTIMIZE round-trip through the oracle gate (exercises "
         "operators/maintenance.py end-to-end, previously pytest-"
         "only): lineitem is first scattered into a many-small-files "
         "layout (the state streaming sinks leave behind), then "
         "compacted with DETERMINISTIC range clustering on "
         "l_orderkey (sampled-boundary splits + probed partition "
         "tokens — the same run → same layout property a real "
         "OPTIMIZE audit trail needs), read back, and verified two "
         "ways at once: content (per-returnflag counts / exact-"
         "decimal quantity sums / distinct orders must equal the "
         "ORIGINAL table — compaction moves bytes, never changes "
         "them) and layout (n_range_overlaps counts output-file "
         "pairs whose [min,max] l_orderkey ranges intersect — range "
         "clustering guarantees 0, which is what makes file-level "
         "min/max pruning effective; the oracle pins that "
         "invariant). The per-file range check is a broadcast self-"
         "join over ≤ file-count rows — driver never holds data.")
def maintenance_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ..operators.maintenance import _dir_bytes, compact_parquet_dir
    # mkdtemp per invocation (not a path keyed on sf_dir alone): two
    # concurrent sessions on the same sf_dir must not race on one
    # staging dir — an overwrite-mode delete mid-query would corrupt
    # the other session's read. The scatter dir is removed as soon as
    # compaction has consumed it; the compacted dir must outlive the
    # call (the returned plan reads it lazily), so it stays until the
    # tempdir sweeper collects it.
    base = staging_dir("ksds_compact_")
    small = os.path.join(base, "small")
    compacted = os.path.join(base, "out")
    # Scatter: 16 small files, the pre-OPTIMIZE state.
    (load_table(spark, sf_dir, "lineitem")
     .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
     .repartition(16)
     .write.mode("overwrite").parquet(small))
    # Compact to ~4 range-clustered files, deterministic layout.
    compact_parquet_dir(spark, small, compacted,
                        target_file_bytes=max(1, _dir_bytes(small) // 4),
                        cluster_by=["l_orderkey"],
                        deterministic_splits=True)
    shutil.rmtree(small, ignore_errors=True)
    out = spark.read.parquet(compacted)
    ranges = (out.groupBy(F.input_file_name().alias("f"))
              .agg(F.min("l_orderkey").alias("lo"),
                   F.max("l_orderkey").alias("hi")))
    b = ranges.select(F.col("f").alias("f2"), F.col("lo").alias("lo2"),
                      F.col("hi").alias("hi2"))
    # ranges is one row per compacted file, about 4 (target_file_bytes
    # is a quarter of the input); Spark sizes it at the whole scan.
    overlaps = (ranges.join(F.broadcast(b), F.col("f") < F.col("f2"))
                .filter((F.col("lo") <= F.col("hi2"))
                        & (F.col("lo2") <= F.col("hi")))
                .agg(F.count("*").cast("long").alias("n_range_overlaps")))
    return (out.groupBy("l_returnflag")
            .agg(F.count("*").cast("long").alias("n_rows"),
                 dsum("l_quantity", "sum_qty"),
                 F.countDistinct("l_orderkey").cast("long")
                 .alias("n_orders"))
            .crossJoin(overlaps))


@register("warehouse_lifecycle", oracle="""
SELECT user_id,
       CAST(3 * COUNT(*) AS BIGINT) AS n,
       CAST(3 * SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000
                         AS BIGINT)) AS BIGINT) AS sum_micros,
       CAST(2 AS BIGINT) AS versions_per_bucket,
       CAST(0 AS BIGINT) AS n_range_overlaps
FROM events GROUP BY user_id
""", doc="The COMPOSED warehouse lifecycle under one hash gate — "
         "stream-MERGE, concurrent VACUUM, a crash-retried epoch, "
         "OPTIMIZE, read-back. streaming_merge / vacuum_versions / "
         "maintenance_compact_roundtrip each verify their own half; "
         "this query exercises their interaction seams end to end: "
         "(1) two stream epochs MERGE the events table into the "
         "bucketed versioned table with vacuum(keep=2) running INSIDE "
         "every epoch (housekeeping concurrent with the live stream); "
         "(2) a third epoch is published, vacuumed, then REPLAYED with "
         "the same batch id — the crash-before-checkpoint-commit "
         "retry — which must rebuild from the newest version strictly "
         "below itself, i.e. the retry base vacuum(keep=2) is "
         "contractually required to preserve (keep=1 would have "
         "deleted it and the hash would double-apply the delta); "
         "(3) a final vacuum must leave exactly 2 versions in every "
         "bucket (the versions_per_bucket column carries the measured "
         "max so the oracle literal 2 pins it); (4) the current state "
         "is compacted with deterministic range clustering on user_id "
         "and read back — content must be EXACTLY 3x the single-copy "
         "batch aggregate (exact integer micros, engine-wide decimal "
         "convention) and the n_range_overlaps column pins the "
         "disjoint-file-range layout invariant, both through the "
         "oracle. Scale shape: every epoch touches only its delta's "
         "buckets (O(|delta| x bucket-size), never a table rewrite), "
         "vacuum is a driver-side listing + unlink, compaction is one "
         "range shuffle of the aggregate state (|users| rows, not "
         "events).")
def warehouse_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import uuid

    from ..operators.maintenance import (_dir_bytes, compact_parquet_dir,
                                         vacuum_versions)
    from ..streaming.jobs import (_bucket_versions,
                                  merge_delta_into_bucketed_table,
                                  read_bucketed_table,
                                  streaming_incremental_merge)
    from .streaming import _stage_landing

    landing, checkpoint = _stage_landing(sf_dir, copies=2)
    work = os.path.dirname(landing)
    table_dir = os.path.join(work, "table")
    # (1) Two epochs (copies=2, one file per trigger), vacuum(keep=2)
    # inside every epoch — concurrent housekeeping.
    streaming_incremental_merge(
        spark, landing, table_dir=table_dir, checkpoint=checkpoint,
        query_name=f"lifecycle_{uuid.uuid4().hex[:8]}", vacuum_keep=2)
    # (2) One more epoch, published then RETRIED with the same batch
    # id after a vacuum — the crash-before-checkpoint-commit path.
    # The delta is the whole events table once more (same per-epoch
    # content the stream shipped), computed with the identical exact-
    # micros expression.
    ev = load_table(spark, sf_dir, "events")
    delta = (ev.select("user_id",
                       (F.col("value").cast("decimal(18,6)") * 1_000_000)
                       .cast("long").alias("vm"))
             .groupBy("user_id")
             .agg(F.count("*").alias("d_n"), F.sum("vm").alias("d_sum")))
    retry_id = max(_bucket_versions(table_dir).values()) + 1
    merge_delta_into_bucketed_table(spark, delta, retry_id, table_dir)
    vacuum_versions(table_dir, keep=2)
    # The retry: must rebuild from the newest version STRICTLY below
    # retry_id, which the keep=2 vacuum above preserved. State after
    # this call is identical to before it (idempotence) — any
    # double-apply or lost-base defect lands in the hash.
    merge_delta_into_bucketed_table(spark, delta, retry_id, table_dir)
    # (3) Final vacuum; every bucket must hold exactly 2 versions.
    vacuum_versions(table_dir, keep=2)
    n_vers = max(
        sum(1 for d in os.listdir(os.path.join(table_dir, b))
            if d.startswith("v="))
        for b in os.listdir(table_dir) if b.startswith("b="))
    # (4) OPTIMIZE the current state: snapshot, range-compact on
    # user_id with deterministic splits, read back.
    snap = os.path.join(work, "snapshot")
    read_bucketed_table(spark, table_dir).write.parquet(snap)
    compacted = os.path.join(work, "compacted")
    compact_parquet_dir(spark, snap, compacted,
                        target_file_bytes=max(1, _dir_bytes(snap) // 4),
                        cluster_by=["user_id"],
                        deterministic_splits=True)
    shutil.rmtree(snap, ignore_errors=True)
    out = spark.read.parquet(compacted)
    ranges = (out.groupBy(F.input_file_name().alias("f"))
              .agg(F.min("user_id").alias("lo"),
                   F.max("user_id").alias("hi")))
    b2 = ranges.select(F.col("f").alias("f2"), F.col("lo").alias("lo2"),
                       F.col("hi").alias("hi2"))
    # ranges is one row per compacted file, about 4 (target_file_bytes
    # is a quarter of the input); Spark sizes it at the whole scan.
    overlaps = (ranges.join(F.broadcast(b2), F.col("f") < F.col("f2"))
                .filter((F.col("lo") <= F.col("hi2"))
                        & (F.col("lo2") <= F.col("hi")))
                .agg(F.count("*").cast("long").alias("n_range_overlaps")))
    return (out.select("user_id", "n", "sum_micros")
            .withColumn("versions_per_bucket",
                        F.lit(n_vers).cast("long"))
            .crossJoin(overlaps))


@register("cdc_apply_changes", oracle=f"""
WITH base AS (
  SELECT c_custkey AS custkey, c_acctbal FROM customer
  WHERE c_nationkey < 20
), chg AS (
  SELECT o_custkey, o_orderstatus, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
), last AS (
  SELECT o_custkey, o_orderstatus, o_totalprice FROM chg WHERE rn = 1
)
SELECT COALESCE(custkey, o_custkey) AS custkey,
       CASE WHEN o_custkey IS NULL THEN 'keep'
            WHEN custkey IS NULL THEN 'insert'
            ELSE 'update' END AS cdc_action,
       CASE WHEN o_custkey IS NULL THEN {sql_fixed2_str('c_acctbal')}
            ELSE {sql_fixed2_str('o_totalprice')} END AS final_acctbal
FROM base FULL JOIN last ON custkey = o_custkey
WHERE o_orderstatus IS NULL OR o_orderstatus <> 'P'
""", doc="CDC APPLY CHANGES (the dataflow behind Delta's "
         "APPLY CHANGES INTO / Debezium-style changelog replay): an "
         "ordered change stream — here 1996+ orders as upserts, with "
         "status 'P' meaning delete — collapses to the LAST change per "
         "key (row_number over the per-key change sequence, orderkey "
         "tiebreak), then applies to the base snapshot: last-op delete "
         "drops the key, upsert replaces the balance, untouched base "
         "rows keep. Differs from MERGE (merge_upsert_customers) in "
         "exactly the two ways real CDC differs: the source carries "
         "MULTIPLE ordered changes per key (last-writer-wins dedup is "
         "part of the operator) and carries deletes as data, not as a "
         "separate tombstone scan. Scale shape: the dedup is one "
         "key-shuffle window whose sort is within-partition; the apply "
         "is a key-equi full-outer join that reuses the same hash "
         "partitioning (AQE exchange reuse), and on the daily path the "
         "deduped delta is small enough to broadcast instead. Balances "
         "render via fixed2_str so the hash gate is engine-exact.")
def cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    base = (cust.filter(F.col("c_nationkey") < 20)
            .select(F.col("c_custkey").alias("custkey"), "c_acctbal"))
    chg = (orders
           .filter(F.col("o_orderdate") >= F.lit("1996-01-01"))
           .select("o_custkey", "o_orderstatus", "o_totalprice",
                   "o_orderdate", "o_orderkey"))
    w = (Window.partitionBy("o_custkey")
         .orderBy(F.desc("o_orderdate"), F.desc("o_orderkey")))
    last = (chg.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("o_custkey", "o_orderstatus", "o_totalprice"))
    merged = base.join(last, base.custkey == last.o_custkey, "full_outer")
    return (merged
            .filter(F.col("o_orderstatus").isNull()
                    | (F.col("o_orderstatus") != "P"))
            .select(
                F.coalesce("custkey", "o_custkey").alias("custkey"),
                F.when(F.col("o_custkey").isNull(), "keep")
                 .when(F.col("custkey").isNull(), "insert")
                 .otherwise("update").alias("cdc_action"),
                F.when(F.col("o_custkey").isNull(),
                       fixed2_str("c_acctbal"))
                 .otherwise(fixed2_str("o_totalprice"))
                 .alias("final_acctbal")))


@register("warehouse_deletion_vectors", oracle="""
SELECT CAST(l_orderkey % 32 AS BIGINT) AS file_id,
       CAST(COUNT(*) FILTER (WHERE l_returnflag <> 'R') AS BIGINT)
         AS n_live,
       CAST(COUNT(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT)
         AS n_deleted,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)))
              FILTER (WHERE l_returnflag <> 'R') AS DOUBLE)
         AS live_revenue
FROM lineitem
GROUP BY 1
""", doc="Deletion-vector read path (Delta DVs / Iceberg position "
         "deletes): soft-deleted rows are recorded as a per-file "
         "BITMAP of row positions — a sidecar, not a rewrite — and "
         "the scan drops them by probing the bitmap at read time. "
         "Here: 32 synthetic files (orderkey mod), positions from a "
         "per-file row_number (simulating physical row position, "
         "which a real reader gets free as a metadata column), "
         "deletes = returned items. The DV is packed 64 positions "
         "per BIGINT word via bit_or(shiftleft) — the same "
         "O(1)-probe bit-packing that fixed join_bloom_prefilter's "
         "10x substring regression — and the read is the scan plus a "
         "left join on (file, word) with a shiftright/AND probe per "
         "row: while the DV words are under the broadcast threshold "
         "the corpus never shuffles, deleted-row positions travel as "
         "bits (64 rows per word), and n_deleted comes "
         "from bit_count over the DV words, never a second scan of "
         "the deleted rows. The oracle states the logical spec "
         "(filter by flag), so the hash gate proves the whole "
         "build-pack-probe machinery reproduces it exactly. At "
         "scale, DVs stay file-local and sparse; the DV side "
         "carries only files that HAVE deletes, and compaction "
         "(maintenance_compact_roundtrip) eventually folds them in.")
def warehouse_deletion_vectors(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    li = (load_table(spark, sf_dir, "lineitem")
          .select((F.col("l_orderkey") % 32).cast("long").alias("file_id"),
                  "l_orderkey", "l_linenumber", "l_returnflag",
                  "l_extendedprice"))
    wpos = (Window.partitionBy("file_id")
            .orderBy("l_orderkey", "l_linenumber"))
    pos = li.withColumn("pos", F.row_number().over(wpos) - F.lit(1))
    pos = pos.withColumn("word_idx", F.expr("pos div 64"))
    dv = (pos.filter(F.col("l_returnflag") == "R")
          .groupBy("file_id", "word_idx")
          .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT),"
                      " CAST(pos % 64 AS INT)))").alias("word")))
    deleted = (dv.groupBy("file_id")
               .agg(F.sum(F.bit_count("word")).cast("long")
                    .alias("n_deleted")))
    live = (pos.join(dv, ["file_id", "word_idx"], "left")
            .filter(F.col("word").isNull()
                    | (F.expr("shiftright(word, CAST(pos % 64 AS INT))"
                              " & 1") == 0))
            .groupBy("file_id")
            .agg(F.count("*").cast("long").alias("n_live"),
                 dsum("l_extendedprice", "live_revenue")))
    # deleted is one row per file (l_orderkey % 32).
    return (live.join(F.broadcast(deleted), "file_id", "left")
            .select("file_id", "n_live",
                    F.coalesce("n_deleted", F.lit(0)).cast("long")
                     .alias("n_deleted"),
                    "live_revenue"))


@register("warehouse_zorder_cluster", oracle="""
WITH d AS (
  SELECT o_orderkey, o_custkey,
         datediff('day', TIMESTAMP '1970-01-01', o_orderdate) AS day
  FROM orders
), st AS (
  SELECT MIN(o_custkey) AS cmin, MAX(o_custkey) AS cmax,
         MIN(day) AS dmin, MAX(day) AS dmax
  FROM d
), b AS (
  SELECT o_orderkey, o_custkey, day,
         ((o_custkey - cmin) * 16) // (cmax - cmin + 1) AS bc,
         ((day - dmin) * 16) // (dmax - dmin + 1) AS bd
  FROM d CROSS JOIN st
), z AS (
  SELECT o_orderkey, o_custkey, day,
         (((bc >> 0) & 1) << 1) | (((bd >> 0) & 1) << 0)
       | (((bc >> 1) & 1) << 3) | (((bd >> 1) & 1) << 2)
       | (((bc >> 2) & 1) << 5) | (((bd >> 2) & 1) << 4)
       | (((bc >> 3) & 1) << 7) | (((bd >> 3) & 1) << 6) AS zkey
  FROM b
)
SELECT CAST(zkey // 16 AS BIGINT) AS file_group,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(o_custkey) AS BIGINT) AS cust_lo,
       CAST(MAX(o_custkey) AS BIGINT) AS cust_hi,
       CAST(MIN(day) AS BIGINT) AS day_lo,
       CAST(MAX(day) AS BIGINT) AS day_hi,
       CAST(MAX(o_custkey) - MIN(o_custkey) AS BIGINT) AS cust_span,
       CAST(MAX(day) - MIN(day) AS BIGINT) AS day_span
FROM z GROUP BY 1
""", doc="Z-order (Morton-curve) clustering — the multi-dimensional "
         "data-layout step behind Delta OPTIMIZE ZORDER BY and "
         "Iceberg's sort-order rewrite: bucket each clustering "
         "dimension (customer key, order day) into 16 range buckets "
         "via exact integer math against the broadcast 1-row min/max "
         "aggregate, BIT-INTERLEAVE the two 4-bit bucket ids into an "
         "8-bit Morton key (pure shift/mask arithmetic, "
         "engine-identical), and assign rows to 16 file groups by "
         "Morton range. The per-group zone maps (min/max of BOTH "
         "dims) are the payoff, reported with their spans: under a "
         "1-D sort the secondary dimension's span is the full range "
         "in every file (no pruning); under the Z-layout BOTH spans "
         "are ~1/4 of the range, so a selective predicate on EITHER "
         "dimension prunes ~3/4 of the file groups from the zone "
         "maps alone. Scale shape: the stats pass is one "
         "map-side-combined 1-row agg broadcast back (the "
         "zscore-stats pattern); the Morton key is row-local "
         "arithmetic in the scan projection; the only data shuffle "
         "is the bounded-key file-group rollup — the real rewrite "
         "would repartitionByRange(zkey) with the same key and "
         "stream files out, identical cost model.")
def warehouse_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = o.select(
        "o_orderkey", "o_custkey",
        F.datediff(F.col("o_orderdate").cast("date"),
                   F.lit("1970-01-01").cast("date"))
        .cast("long").alias("day"))
    st = d.agg(F.min("o_custkey").alias("cmin"),
               F.max("o_custkey").alias("cmax"),
               F.min("day").alias("dmin"),
               F.max("day").alias("dmax"))
    b = (d.crossJoin(st)
         .select("o_orderkey", "o_custkey", "day",
                 F.expr("((o_custkey - cmin) * 16)"
                        " div (cmax - cmin + 1)").alias("bc"),
                 F.expr("((day - dmin) * 16)"
                        " div (dmax - dmin + 1)").alias("bd")))
    z = b.select(
        "o_orderkey", "o_custkey", "day",
        F.expr(
            "shiftleft(shiftright(bc, 0) & 1, 1)"
            " | shiftleft(shiftright(bd, 0) & 1, 0)"
            " | shiftleft(shiftright(bc, 1) & 1, 3)"
            " | shiftleft(shiftright(bd, 1) & 1, 2)"
            " | shiftleft(shiftright(bc, 2) & 1, 5)"
            " | shiftleft(shiftright(bd, 2) & 1, 4)"
            " | shiftleft(shiftright(bc, 3) & 1, 7)"
            " | shiftleft(shiftright(bd, 3) & 1, 6)").alias("zkey"))
    return (z.groupBy(F.expr("zkey div 16").cast("long")
                      .alias("file_group"))
            .agg(F.count("*").cast("long").alias("n_rows"),
                 F.min("o_custkey").cast("long").alias("cust_lo"),
                 F.max("o_custkey").cast("long").alias("cust_hi"),
                 F.min("day").cast("long").alias("day_lo"),
                 F.max("day").cast("long").alias("day_hi"),
                 (F.max("o_custkey") - F.min("o_custkey")).cast("long")
                 .alias("cust_span"),
                 (F.max("day") - F.min("day")).cast("long")
                 .alias("day_span")))


@register("warehouse_schema_evolution", oracle="""
SELECT COALESCE(CASE WHEN c_custkey % 2 = 1 THEN c_mktsegment END,
                '(pre-evolution)') AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(20,6))) AS DOUBLE)
         AS sum_acctbal,
       CAST(SUM(CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_pre_evolution_rows
FROM customer
GROUP BY 1
""", doc="Schema evolution on read — the add-a-column migration every "
         "long-lived table goes through: half the customers are "
         "staged as 'old-layout' parquet files WITHOUT the "
         "c_mktsegment column, half as post-migration files WITH it, "
         "and the table is read back as ONE DataFrame via "
         "mergeSchema=true — old rows must surface a typed NULL for "
         "the added column (never a crash, never a silent drop), "
         "checked by aggregating per segment with the old rows "
         "coalesced into a '(pre-evolution)' bucket and counting "
         "them explicitly. The oracle recomputes the expected result "
         "straight from the source table (even keys = old layout), "
         "so the hash gate proves the write→evolve→merge-read "
         "round-trip is lossless and the null semantics match. "
         "Staging is mkdtemp-per-invocation (the compaction "
         "staging-race rule). Scale note: mergeSchema reconciles "
         "footers per file — fine for a migration boundary, but a "
         "100 TB table keeps the authoritative schema in a catalog "
         "and this query documents the read-side SEMANTICS that "
         "catalog must honor.")
def warehouse_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    base = staging_dir("ksds_evolve_")
    old_dir = os.path.join(base, "v1")
    new_dir = os.path.join(base, "v2")
    (cust.filter(F.expr("c_custkey % 2 = 0"))
     .select("c_custkey", "c_acctbal")
     .write.mode("overwrite").parquet(old_dir))
    (cust.filter(F.expr("c_custkey % 2 = 1"))
     .select("c_custkey", "c_acctbal", "c_mktsegment")
     .write.mode("overwrite").parquet(new_dir))
    merged = (spark.read.option("mergeSchema", "true")
              .parquet(old_dir, new_dir))
    return (merged.groupBy(
                F.coalesce(F.col("c_mktsegment"),
                           F.lit("(pre-evolution)")).alias("segment"))
            .agg(F.count("*").cast("long").alias("n_customers"),
                 F.sum(F.col("c_acctbal").cast("decimal(20,6)"))
                 .cast("double").alias("sum_acctbal"),
                 F.sum(F.when(F.col("c_mktsegment").isNull(), 1)
                       .otherwise(0)).cast("long")
                 .alias("n_pre_evolution_rows")))


@register("warehouse_backfill_partition", oracle="""
SELECT epoch_ns(ts) // 86400000000000 AS day,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1
""", doc="Partition backfill under DYNAMIC partition overwrite — the "
         "reprocess-one-bad-day repair every partitioned warehouse "
         "runs: events land date-partitioned, one day's partition is "
         "corrupted (half its rows dropped, simulating a bad load), "
         "then the fix re-writes ONLY that day's slice with "
         "partitionOverwriteMode=dynamic — mode('overwrite') that "
         "replaces exactly the partitions present in the incoming "
         "frame instead of truncating the table (STATIC mode, the "
         "default, would delete every other day: the footgun this "
         "query pins the guard against). The read-back per-day "
         "counts/exact-decimal sums must hash-match the source "
         "recomputation, so a lost partition, a double-applied "
         "backfill, or static-truncation damage all fail the gate; "
         "the only-the-target-partition-rewritten property is "
         "pytest-proven from the file listing "
         "(tests/test_compaction.py). Staging is mkdtemp-per-"
         "invocation. Scale shape: the backfill write shuffles only "
         "the target day's rows; untouched partitions are never "
         "read, never rewritten.")
def warehouse_backfill_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = F.expr("ts div 86400000000000").alias("day")
    base = staging_dir("ksds_backfill_")
    tbl = os.path.join(base, "events_by_day")
    src = ev.select("event_id", "ts", "user_id", "event_type",
                    "value", day)
    src.write.partitionBy("day").mode("overwrite").parquet(tbl)
    # Corrupt one day: keep only half its rows (bad load simulation).
    days = [r.day for r in src.select("day").distinct().collect()]
    bad_day = sorted(days)[len(days) // 2]
    (src.filter((F.col("day") == bad_day)
                & (F.col("event_id") % 2 == 0))
     .drop("day")
     .write.mode("overwrite")
     .parquet(os.path.join(tbl, f"day={bad_day}")))
    # Backfill: dynamic partition overwrite of JUST the bad day.
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode",
                          "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (src.filter(F.col("day") == bad_day)
         .write.partitionBy("day").mode("overwrite").parquet(tbl))
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    back = spark.read.parquet(tbl)
    return (back.groupBy("day")
            .agg(F.count("*").cast("long").alias("n_events"),
                 F.sum(F.col("value").cast("decimal(20,6)"))
                 .cast("double").alias("sum_value")))


@register("warehouse_time_travel", oracle="""
WITH base AS (
  SELECT user_id,
         (CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)
               AS BIGINT) % 3) AS ep,
         CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vm
  FROM events
), v2 AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(vm) AS BIGINT) AS s
  FROM base WHERE ep <= 1 GROUP BY user_id
), v3 AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(vm) AS BIGINT) AS s
  FROM base GROUP BY user_id
)
SELECT v3.user_id,
       COALESCE(v2.n, 0) AS n_v2,
       COALESCE(v2.s, 0) AS sum_v2,
       v3.n AS n_latest,
       v3.s AS sum_latest,
       v3.n - COALESCE(v2.n, 0) AS added_n,
       v3.s - COALESCE(v2.s, 0) AS added_sum
FROM v3 LEFT JOIN v2 ON v3.user_id = v2.user_id
""", doc="Snapshot-isolation TIME TRAVEL over the bucketed versioned "
         "MERGE table (the Delta/Iceberg VERSION AS OF read): three "
         "epochs — md5-gated thirds of the events table, so the "
         "oracle replays epoch membership bit-for-bit — MERGE into "
         "the versioned table, then the state AS OF version 2 and "
         "the latest state are read back side by side, per user, "
         "with the additions attributable to epoch 3 as checked "
         "columns.  The as-of read is `_bucket_versions(below=v+1)`: "
         "each bucket at its newest version <= v, which is exactly "
         "the per-partition-manifest semantics table formats "
         "implement — and it works ONLY while older versions are "
         "retained, i.e. the vacuum retention policy (keep>=2, "
         "warehouse_lifecycle) is also the time-travel horizon; a "
         "bucket untouched since epoch 1 serves v=1 for BOTH reads, "
         "never a duplicate.  Scale shape: each epoch's MERGE "
         "rewrites only touched buckets (O(|delta| x bucket-size)); "
         "both reads are manifest-routed file scans with no "
         "reconciliation join; the output join keys on user_id once. "
         "Staging is mkdtemp-per-invocation (concurrent-session "
         "safe).")
def warehouse_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import (_bucket_versions, _read_buckets,
                                  merge_delta_into_bucketed_table)

    work = staging_dir("ksds_timetravel_")
    table_dir = os.path.join(work, "table")
    ev = load_table(spark, sf_dir, "events")
    gate = ("pmod(CAST(conv(substring(md5(CAST(event_id AS STRING)), "
            "1, 15), 16, 10) AS BIGINT), 3)")
    tagged = ev.select(
        "user_id", F.expr(gate).alias("ep"),
        (F.col("value").cast("decimal(18,6)") * 1_000_000)
        .cast("long").alias("vm"))
    for epoch in (0, 1, 2):
        delta = (tagged.filter(F.col("ep") == epoch)
                 .groupBy("user_id")
                 .agg(F.count("*").alias("d_n"),
                      F.sum("vm").alias("d_sum")))
        merge_delta_into_bucketed_table(spark, delta, epoch + 1,
                                        table_dir)
    as_of_2 = _read_buckets(spark, table_dir,
                            _bucket_versions(table_dir, below=3))
    latest = _read_buckets(spark, table_dir, _bucket_versions(table_dir))
    out = (latest.alias("l")
           .join(as_of_2.alias("o"), "user_id", "left")
           .select("user_id",
                   F.coalesce("o.n", F.lit(0)).cast("long")
                   .alias("n_v2"),
                   F.coalesce("o.sum_micros", F.lit(0)).cast("long")
                   .alias("sum_v2"),
                   F.col("l.n").cast("long").alias("n_latest"),
                   F.col("l.sum_micros").cast("long")
                   .alias("sum_latest"))
           .withColumn("added_n", F.col("n_latest") - F.col("n_v2"))
           .withColumn("added_sum",
                       F.col("sum_latest") - F.col("sum_v2")))
    # Returned DISTRIBUTED: the result is corpus-keyed (one row per
    # user), so collecting it to free the staging dir would be O(|users|)
    # driver memory — against the repo's bounded-collect convention.
    # The staging outlives the call so the caller can consume the
    # DataFrame lazily over the retained version files; session.py's
    # staging_dir atexit reaper removes it at process exit (r08 advice:
    # unbounded /tmp growth across a long sweep otherwise).
    return out


@register("warehouse_constraint_check", oracle="""
SELECT 'orders_pk_unique' AS constraint_name,
       CAST(COUNT(*) AS BIGINT) AS n_checked,
       CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
         AS n_violations
FROM orders
UNION ALL
SELECT 'lineitem_fk_orders',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
            AS BIGINT)
FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
UNION ALL
SELECT 'orders_totalprice_positive',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
            AS BIGINT)
FROM orders
UNION ALL
SELECT 'orders_orderdate_not_null',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
            AS BIGINT)
FROM orders
UNION ALL
SELECT 'orders_status_domain',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0
                ELSE 1 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'lineitem_quantity_range',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END)
            AS BIGINT)
FROM lineitem
""", doc="Declarative data-quality constraint audit — the dbt-test / "
         "Delta CHECK-constraint / Great-Expectations sweep a "
         "warehouse runs after every load, as ONE batch dataflow "
         "over six constraints: primary-key uniqueness (count vs "
         "distinct — never a self-join), referential integrity "
         "(lineitem->orders as a left join null-count, which at "
         "scale is the same shuffle the FK's consumers pay anyway), "
         "positivity / NOT NULL / domain-membership / range gates "
         "(scan-side CASE sums).  Output one row per constraint "
         "with checked and violation counts, all exact integers — a "
         "constraint report the pipeline can gate on (and the hash "
         "gate itself re-proves every arm).  Scale shape: ALL FOUR "
         "orders-local constraints ride ONE map-side-combined scan "
         "agg (parallel aggregates over the same rows) and unpivot "
         "into report rows via stack() on the 1-row result — at "
         "100 TB the audit costs one orders scan, not four (the r08 "
         "plan-audit finding); the FK arm's join is the only shuffle "
         "and carries just (l_orderkey) against the orders key "
         "column; the quantity-range arm keeps its own lineitem scan "
         "rather than riding the FK join, whose row multiplicity "
         "would be corrupted by the very PK violations the audit "
         "exists to catch.")
def warehouse_constraint_check(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    oa = o.agg(
        F.count("*").cast("long").alias("n"),
        (F.count("*") - F.countDistinct("o_orderkey")).cast("long")
        .alias("pk_v"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
        .cast("long").alias("price_v"),
        F.sum(F.when(F.col("o_orderdate").isNull(), 1).otherwise(0))
        .cast("long").alias("nn_v"),
        F.sum(F.when(F.col("o_orderstatus").isin("O", "F", "P"), 0)
              .otherwise(1)).cast("long").alias("dom_v"))
    orders_rows = oa.select(F.expr(
        "stack(4,"
        " 'orders_pk_unique', n, pk_v,"
        " 'orders_totalprice_positive', n, price_v,"
        " 'orders_orderdate_not_null', n, nn_v,"
        " 'orders_status_domain', n, dom_v)"
        " AS (constraint_name, n_checked, n_violations)"))
    fk = (li.join(o.select("o_orderkey"),
                  li.l_orderkey == F.col("o_orderkey"), "left")
          .agg(F.lit("lineitem_fk_orders").alias("constraint_name"),
               F.count("*").cast("long").alias("n_checked"),
               F.sum(F.when(F.col("o_orderkey").isNull(), 1)
                     .otherwise(0)).cast("long").alias("n_violations")))
    rng = li.agg(
        F.lit("lineitem_quantity_range").alias("constraint_name"),
        F.count("*").cast("long").alias("n_checked"),
        F.sum(F.when(F.col("l_quantity").between(1, 50), 0)
              .otherwise(1)).cast("long").alias("n_violations"))
    return orders_rows.unionAll(fk).unionAll(rng)


@register("warehouse_partition_stats_skew", oracle="""
WITH p AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS part_month,
         CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM orders GROUP BY 1
), t AS (
  SELECT CAST(SUM(n_rows) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS n_parts,
         CAST(MAX(n_rows) AS BIGINT) AS max_rows
  FROM p
)
SELECT p.part_month, p.n_rows,
       (1000 * p.n_rows) // t.total AS share_milli,
       CAST(row_number() OVER (ORDER BY p.n_rows DESC, p.part_month)
            AS BIGINT) AS size_rank,
       (1000 * p.n_rows * t.n_parts) // t.total AS rel_to_even_milli
FROM p CROSS JOIN t
""", doc="Partition-size governance profile — the skew audit run "
         "before choosing a partition scheme (a month 10x the even "
         "share makes every downstream partition-pruned scan and "
         "dynamic-overwrite backfill lopsided): per-month row "
         "counts, per-mille share of the table, size rank, and the "
         "ratio to the even share in integer per-mille "
         "(rel_to_even 1000 = perfectly even; the alerting "
         "threshold a layout job gates on).  profile_key_skew "
         "measures JOIN-key skew for shuffle strategy; this "
         "measures STORAGE partition skew for layout strategy.  "
         "Scale shape: one map-side-combined per-month count (the "
         "partition grain is bounded by the calendar); the totals "
         "row broadcasts back; the rank window runs over the "
         "|months|-row aggregate.")
def warehouse_partition_stats_skew(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    p = (o.select(F.date_format("o_orderdate", "yyyy-MM")
                  .alias("part_month"))
         .groupBy("part_month")
         .agg(F.count("*").cast("long").alias("n_rows")))
    t = p.agg(F.sum("n_rows").cast("long").alias("total"),
              F.count("*").cast("long").alias("n_parts"),
              F.max("n_rows").cast("long").alias("max_rows"))
    w = Window.orderBy(F.desc("n_rows"), "part_month")
    return (p.crossJoin(t)
            .select("part_month", "n_rows",
                    F.expr("(1000 * n_rows) div total")
                    .alias("share_milli"),
                    F.row_number().over(w).cast("long")
                    .alias("size_rank"),
                    F.expr("(1000 * n_rows * n_parts) div total")
                    .alias("rel_to_even_milli")))


#: The deterministic "forget these users" request list for the GDPR
#: audit: every 97th user — replayable on both engines, ~1% of keys.
_GDPR_PRED = "user_id % 97 = 0"


@register("warehouse_gdpr_delete_audit", oracle=f"""
WITH req AS (
  SELECT DISTINCT user_id FROM events WHERE {_GDPR_PRED}
), purged AS (
  SELECT e.user_id, e.event_id, e.event_type FROM events e
  WHERE e.user_id NOT IN (SELECT user_id FROM req)
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM req) AS n_requests,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM events) AS rows_before,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM purged) AS rows_after,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM events)
         - (SELECT CAST(COUNT(*) AS BIGINT) FROM purged)
         AS rows_purged,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM purged p
        JOIN req r ON p.user_id = r.user_id) AS residue_rows,
       (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM purged)
         AS users_after
""", doc="Right-to-be-forgotten (GDPR Article 17) deletion with a "
         "verifiable audit — the compliance job every user-data "
         "warehouse schedules: a deterministic request list (every "
         "97th user — stand-in for the requests table), the purge as "
         "an ANTI JOIN (the shape a Delta DELETE WHERE compiles to), "
         "and the AUDIT ROW a DPO can file: requests honored, rows "
         "before/after/purged, residue count — with residue "
         "hash-PINNED at whatever the purge actually leaves, so any "
         "leak (a retry race, a partition missed by predicate "
         "pushdown) breaks the gate.  Scale shape: the request list "
         "broadcasts (deletion requests are tiny vs the corpus); the "
         "purge is one broadcast anti-join scan; the residue check "
         "re-joins the purged scan against the same broadcast — at "
         "100 TB this composes with dynamic partition overwrite "
         "(warehouse_backfill_partition) to rewrite only affected "
         "files.")
def warehouse_gdpr_delete_audit(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # Materialize the (tiny) request list once: it feeds the purge
    # anti-join, the residue re-join and its own count — without the
    # checkpoint each consumer re-runs the filtered scan + distinct.
    req = truncated_checkpoint(
        ev.filter(F.expr(_GDPR_PRED))
        .select("user_id").distinct())
    purged = ev.join(req, "user_id", "left_anti")
    residue = purged.join(req, "user_id", "inner")
    n_req = req.agg(F.count("*").cast("long").alias("n_requests"))
    before = ev.agg(F.count("*").cast("long").alias("rows_before"))
    after = purged.agg(
        F.count("*").cast("long").alias("rows_after"),
        F.countDistinct("user_id").cast("long").alias("users_after"))
    res = residue.agg(F.count("*").cast("long").alias("residue_rows"))
    return (n_req.crossJoin(before).crossJoin(after).crossJoin(res)
            .select("n_requests", "rows_before", "rows_after",
                    (F.col("rows_before") - F.col("rows_after"))
                    .alias("rows_purged"),
                    "residue_rows", "users_after"))
