"""Relational operator suite (SURVEY.md §2.2: projections/filters,
joins of every flavor incl. the reference's own anti-join semantics,
aggregations, grouping sets/cube/rollup, windows, sorts/limits/top-k,
set ops, scalar functions).

The reference (kinesis-to-humio.py) only has a degenerate anti-join
(K:210-216), a lexicographic sort (K:292), prefix predicates (K:187,
K:212) and incidental counts (K:133) — everything else here is the ⊕
declared surface from SURVEY.md §2.2, expressed with Spark built-ins
so Catalyst handles pushdown/pruning/join-selection/AQE.

Every query follows plans.base's determinism conventions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.decimal_safe import dsum, davg, sql_dsum, sql_davg
from ..operators.checkpoint import truncated_checkpoint
from ..operators.dedup import BLOOM_M, bloom_pos_duck, bloom_pos_spark
from ..sources.tables import load_table
from .base import register

# Money columns fit 8 integer digits → DECIMAL(12,4); rate columns
# (discount/tax) are < 10 → DECIMAL(8,6). Products stay inside both
# engines' decimal(38) bounds with zero rounding: (12,4)*(8,6)*(8,6)
# → scale 16, width 28.
MONEY = "decimal(12,4)"
RATE = "decimal(8,6)"

def _revenue():
    """revenue := extendedprice * (1 - discount), exact decimal.
    (A function, not a module constant: Column construction needs an
    active SparkContext.)"""
    return (F.col("l_extendedprice").cast(MONEY)
            * (F.lit(1).cast(RATE) - F.col("l_discount").cast(RATE)))


_SQL_REVENUE = ("CAST(l_extendedprice AS DECIMAL(12,4))"
                " * (CAST(1 AS DECIMAL(8,6)) - CAST(l_discount AS DECIMAL(8,6)))")


# ---------------------------------------------------------------- TPC-H-ish

@register("q1_pricing_summary", oracle=f"""
SELECT l_returnflag, l_linestatus,
       {sql_dsum('l_quantity', 'sum_qty')},
       {sql_dsum('l_extendedprice', 'sum_base_price')},
       CAST(SUM({_SQL_REVENUE}) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                * CAST((CAST(1 AS DECIMAL(8,6)) - CAST(l_discount AS DECIMAL(8,6)))
                       * (CAST(1 AS DECIMAL(8,6)) + CAST(l_tax AS DECIMAL(8,6)))
                       AS DECIMAL(26,12))) AS DOUBLE) AS sum_charge,
       {sql_davg('l_quantity', 'avg_qty')},
       {sql_davg('l_extendedprice', 'avg_price')},
       {sql_davg('l_discount', 'avg_disc')},
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""", doc="TPC-H Q1 flavor: filtered scan → hash agg with 8 measures.")
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            F.sum(_revenue()).cast("double").alias("sum_disc_price"),
            # Rates multiplied together FIRST: keeps the decimal widths
            # inside both engines' exact ranges (no precision overflow).
            F.sum(F.col("l_extendedprice").cast(MONEY)
                  * ((F.lit(1).cast(RATE) - F.col("l_discount").cast(RATE))
                     * (F.lit(1).cast(RATE) + F.col("l_tax").cast(RATE))))
             .cast("double").alias("sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register("q3_shipping_priority", oracle=f"""
SELECT l_orderkey,
       CAST(SUM({_SQL_REVENUE}) AS DOUBLE) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""", doc="TPC-H Q3 flavor: 3-way join → agg → top-10 (dims by size).")
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("2000-01-01").cast("timestamp"))
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
        .select(
            "l_orderkey", "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register("q5_region_revenue", oracle=f"""
SELECT n_name, CAST(SUM({_SQL_REVENUE}) AS DOUBLE) AS revenue
FROM region
JOIN nation   ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
GROUP BY n_name
""", doc="TPC-H Q5 flavor: 6-way snowflake join, local-supplier predicate.")
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp")))
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, (orders.o_custkey == cust.c_custkey)
                    & (supp.s_nationkey == cust.c_nationkey))
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
    )


@register("q18_large_orders", oracle=f"""
SELECT c_custkey, c_name, o_orderkey, {sql_dsum('l_quantity', 'total_qty')}
FROM customer
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY c_custkey, c_name, o_orderkey
HAVING SUM(CAST(l_quantity AS DECIMAL(18,6))) > 150
ORDER BY total_qty DESC, o_orderkey
LIMIT 20
""", doc="TPC-H Q18 flavor: per-order quantity rollup with HAVING, "
         "joined back to the customer — agg → filter-on-agg → "
         "dim join (a broadcast while under the threshold) → top-k.")
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (li.groupBy("l_orderkey")
           .agg(dsum("l_quantity", "total_qty"))
           .filter(F.col("total_qty") > 150))
    return (big.join(orders, big.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .select("c_custkey", "c_name", "o_orderkey", "total_qty")
            .orderBy(F.desc("total_qty"), "o_orderkey")
            .limit(20))


@register("distinct_rows", oracle="""
SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
""", doc="SELECT DISTINCT (dropDuplicates over the full projection — "
         "deterministic because the whole row is the key).")
def distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.select("c_nationkey", "c_mktsegment").dropDuplicates()


@register("unpivot_measures", oracle="""
SELECT l_orderkey, l_linenumber, measure, CAST(value AS DOUBLE) AS value
FROM lineitem
UNPIVOT (value FOR measure IN (l_quantity, l_extendedprice, l_discount))
""", doc="UNPIVOT (wide measures → long key/value rows), the inverse of "
         "pivot — Spark's unpivot/melt.")
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure", "value")


# ------------------------------------------------------- filters / scalars

@register("filter_project_scalar", oracle=r"""
SELECT p_partkey,
       upper(p_name) AS name_upper,
       substr(p_type, 1, 5) AS type5,
       length(p_name) AS name_len,
       concat_ws('|', p_brand, p_type) AS brand_type,
       regexp_extract(p_type, '^(\w+)', 1) AS type_first_word,
       p_retailprice
FROM part
WHERE p_name LIKE '%a%' AND p_size > 10
""", doc="Projection + LIKE/comparison filters + string scalar functions; "
         "filters and column pruning push to the parquet scan.")
def filter_project_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_name").like("%a%") & (F.col("p_size") > 10))
        .select(
            "p_partkey",
            F.upper("p_name").alias("name_upper"),
            F.substring("p_type", 1, 5).alias("type5"),
            F.length("p_name").cast("long").alias("name_len"),
            F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
            F.regexp_extract("p_type", r"^(\w+)", 1).alias("type_first_word"),
            "p_retailprice")
    )


# ------------------------------------------------------------------- joins

@register("join_inner_agg", oracle=f"""
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice', 'sum_total')},
       COUNT(DISTINCT c_custkey) AS n_customers
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""", doc="Inner equi-join (fact ⋈ dim, broadcastable) + aggregation.")
def join_inner_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_orders"),
             dsum("o_totalprice", "sum_total"),
             F.countDistinct("c_custkey").alias("n_customers"))
    )


@register("join_left_agg", oracle=f"""
SELECT c_custkey,
       COUNT(o_orderkey) AS n_orders,
       {sql_dsum('o_totalprice', 'sum_total')}
FROM customer LEFT JOIN orders ON o_custkey = c_custkey
GROUP BY c_custkey
""", doc="Left outer join preserving customers with zero orders.")
def join_left_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"),
             dsum("o_totalprice", "sum_total"))
    )


@register("join_semi", oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""", doc="Left-semi join (EXISTS).")
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
            .select("c_custkey", "c_name"))


@register("join_anti", oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderpriority = '1-URGENT')
""", doc="Left-anti join (NOT EXISTS) — the reference's own incremental-"
         "dedupe semantics (kinesis-to-humio.py:210-216: remove already-"
         "processed file keys) expressed relationally. The filtered "
         "right side keeps the result non-empty at every sf (a 0-row "
         "match would be a vacuous correctness check).")
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT")
    cust = load_table(spark, sf_dir, "customer")
    return (cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
            .select("c_custkey", "c_name"))


@register("join_theta_pairs", oracle="""
SELECT a.n_name AS name_a, b.n_name AS name_b, a.n_regionkey AS regionkey
FROM nation a JOIN nation b
  ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
""", doc="Self theta-join: same-region nation pairs (equi key + inequality).")
def join_theta_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = load_table(spark, sf_dir, "nation").alias("a")
    b = load_table(spark, sf_dir, "nation").alias("b")
    return (
        a.join(b, (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
                  & (F.col("a.n_nationkey") < F.col("b.n_nationkey")))
        .select(F.col("a.n_name").alias("name_a"),
                F.col("b.n_name").alias("name_b"),
                F.col("a.n_regionkey").alias("regionkey"))
    )


@register("join_range_pred", oracle=f"""
SELECT p_brand,
       COUNT(*) AS n,
       {sql_dsum('l_extendedprice', 'sum_price')}
FROM lineitem JOIN part
  ON l_partkey = p_partkey
 AND l_quantity BETWEEN p_size - 5 AND p_size + 5
GROUP BY p_brand
""", doc="Equi-join with a range residual predicate (band join): the equi "
         "key carries the shuffle/broadcast; the range is a cheap filter.")
def join_range_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(part,
                (li.l_partkey == part.p_partkey)
                & (li.l_quantity >= part.p_size - 5)
                & (li.l_quantity <= part.p_size + 5))
        .groupBy("p_brand")
        .agg(F.count("*").alias("n"), dsum("l_extendedprice", "sum_price"))
    )


#: Bin width (days) for the binned interval join. Intervals span ≤ 29
#: days, so each explodes to ≤ ceil(29/7)+1 = 5 bins.
_IV_BIN_DAYS = 7


@register("join_interval_binned", oracle=f"""
WITH iv AS (
  SELECT o_orderkey AS iv_id,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
           AS start_d,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
           + o_orderkey % 30 AS end_d
  FROM orders WHERE o_orderkey < 200
)
SELECT iv_id, COUNT(*) AS n, {sql_dsum('l_extendedprice', 'sum_price')}
FROM lineitem JOIN iv
  ON date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
     BETWEEN start_d AND end_d
GROUP BY iv_id
""", doc="PURE interval-containment join (no equi key): per reporting "
         "window, lineitems whose ship date falls inside it. Naive "
         "Spark plans this as a nested-loop evaluating every "
         "(row, interval) pair — O(n·m) at any cluster size. The "
         "binned rewrite makes it an EQUI-join: intervals explode to "
         "the ≤5 week-bins they overlap, each point owns exactly one "
         "bin, so a (point, interval) pair meets exactly once and the "
         "residual BETWEEN keeps semantics identical (the oracle runs "
         "the naive join — same result proves it). At 100 TB the bin "
         "key shuffles/broadcasts like any join key and per-row work "
         "is intervals-per-bin, not total intervals. Bin width trades "
         "interval duplication (len/width copies) against residual "
         "selectivity — pick ~median interval length.")
def join_interval_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (load_table(spark, sf_dir, "lineitem")
          .select(F.unix_date(F.to_date("l_shipdate")).alias("ship_d"),
                  "l_extendedprice"))
    iv = (load_table(spark, sf_dir, "orders")
          .filter(F.col("o_orderkey") < 200)
          .select(F.col("o_orderkey").alias("iv_id"),
                  F.unix_date(F.to_date("o_orderdate")).alias("start_d")))
    iv = iv.withColumn("end_d", F.col("start_d") + F.col("iv_id") % 30)
    iv_b = iv.withColumn(
        "bin", F.explode(F.sequence(
            F.expr(f"start_d div {_IV_BIN_DAYS}"),
            F.expr(f"end_d div {_IV_BIN_DAYS}"))))
    li_b = li.withColumn("bin", F.expr(f"ship_d div {_IV_BIN_DAYS}"))
    # iv_b is at most 200 intervals (o_orderkey < 200) times their
    # bins; Spark sizes the filtered orders at the whole scan.
    return (li_b.join(F.broadcast(iv_b), "bin")
            .filter(F.col("ship_d").between(F.col("start_d"),
                                            F.col("end_d")))
            .groupBy("iv_id")
            .agg(F.count("*").alias("n"),
                 dsum("l_extendedprice", "sum_price")))


@register("join_salted_skew", oracle=f"""
SELECT o_orderpriority,
       COUNT(*) AS n, {sql_dsum('l_extendedprice', 'sum_price')}
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""", doc="Hot-key-safe join: the fact side is salted 8 ways and the dim "
         "side exploded per salt, so one pathological key spreads over 8 "
         "shuffle partitions (operators/skew.py). Result is provably "
         "identical to the plain equi-join — which is what the oracle "
         "asserts. (AQE skew-split handles the moderate cases; salting "
         "is the explicit lever for single-key blowups at 100 TB.)")
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority")
    joined = salted_join(li, orders, on="l_orderkey", num_salts=8,
                         fact_spread_col="l_linenumber")
    return (joined.groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"),
                 dsum("l_extendedprice", "sum_price")))


# ------------------------------------------------------------ aggregations

@register("agg_stats", oracle=f"""
SELECT o_orderpriority,
       COUNT(*) AS n,
       {sql_dsum('o_totalprice', 'sum_total')},
       {sql_davg('o_totalprice', 'avg_total')},
       strftime(MIN(o_orderdate), '%Y-%m-%d') AS min_date,
       strftime(MAX(o_orderdate), '%Y-%m-%d') AS max_date,
       COUNT(DISTINCT o_custkey) AS n_custs
FROM orders GROUP BY o_orderpriority
""", doc="groupBy + count/sum/avg/min/max/countDistinct.")
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"),
             dsum("o_totalprice", "sum_total"),
             davg("o_totalprice", "avg_total"),
             F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("min_date"),
             F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("max_date"),
             F.countDistinct("o_custkey").alias("n_custs"))
    )


@register("agg_distinct", oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_supps
FROM lineitem GROUP BY l_returnflag
""", doc="Multi-column exact distinct aggregation (expand + two-phase agg).")
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.countDistinct("l_partkey").alias("n_parts"),
                 F.countDistinct("l_suppkey").alias("n_supps")))


@register("agg_rollup", oracle=f"""
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n, {sql_dsum('o_totalprice', 'sum_total')}
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""", doc="ROLLUP hierarchy totals (null-padded subtotal rows).")
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (orders.rollup("o_orderstatus", "o_orderpriority")
            .agg(F.count("*").alias("n"), dsum("o_totalprice", "sum_total")))


@register("agg_cube", oracle=f"""
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n, {sql_dsum('l_quantity', 'sum_qty')}
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
""", doc="CUBE over two dimensions.")
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (li.cube("l_returnflag", "l_linestatus")
            .agg(F.count("*").alias("n"), dsum("l_quantity", "sum_qty")))


@register("agg_grouping_sets", oracle=f"""
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n, {sql_dsum('o_totalprice', 'sum_total')}
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""", doc="Explicit GROUPING SETS via the SQL API.")
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(f"""
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n, {sql_dsum('o_totalprice', 'sum_total')}
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """)


@register("agg_quantiles", oracle="""
SELECT l_returnflag,
       quantile_disc(l_quantity, 0.25) AS q25,
       quantile_disc(l_quantity, 0.50) AS q50,
       quantile_disc(l_quantity, 0.75) AS q75,
       COUNT(*) AS n
FROM lineitem GROUP BY l_returnflag
""", doc="Discrete quantiles per group. Discrete (element-picking) "
         "rather than interpolated, so values are exact and engine-"
         "independent; the pick index is DuckDB quantile_disc's exact "
         "convention, 1-based rn = ceil(q*n) (probed empirically — "
         "floor(q*(n-1))+1 agrees at the quartiles only when the "
         "column is heavily tied, a latent mismatch grouped_winsorize "
         "exposed on near-unique prices). Spark side: sort + "
         "row_number pick.")
def agg_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    w = W.partitionBy("l_returnflag").orderBy("l_quantity")
    ranked = li.select(
        "l_returnflag", "l_quantity",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(W.partitionBy("l_returnflag")).alias("n"))

    def pick(q: float, alias: str):
        idx = F.ceil(F.lit(q) * F.col("n"))
        return F.max(F.when(F.col("rn") == idx, F.col("l_quantity"))).alias(alias)

    return (ranked.groupBy("l_returnflag")
            .agg(pick(0.25, "q25"), pick(0.50, "q50"), pick(0.75, "q75"),
                 F.max("n").alias("n")))


@register("agg_pandas_median", oracle="""
SELECT l_orderkey // 128 AS okey_bucket, median(l_quantity) AS median_qty
FROM lineitem GROUP BY 1
""", doc="Grouped-agg pandas UDF (Arrow-batched): exact interpolated "
         "median per group — the declared UDAF surface. Order-"
         "independent by construction (sort inside the UDF, one exact "
         "(a+b)/2), so it hash-matches DuckDB's quantile_cont median. "
         "Keyed on an orderkey RANGE BUCKET, not a low-cardinality "
         "enum: a grouped-agg UDF materializes the whole group in one "
         "Python worker, so group size must stay bounded (~0.5k rows "
         "here) while group COUNT grows with the data — the shape that "
         "survives 100 TB. The scale-safe pure-SQL alternative for "
         "low-cardinality keys is agg_quantiles' sort+row_number pick.")
def agg_pandas_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pandas_udfs import grouped_median
    li = (load_table(spark, sf_dir, "lineitem")
          .select(F.expr("l_orderkey div 128").alias("okey_bucket"),
                  "l_quantity"))
    return grouped_median(li, group_col="okey_bucket",
                          value_col="l_quantity", alias="median_qty")


@register("grouped_minmax_scale", oracle="""
SELECT l_orderkey // 128 AS okey_bucket,
       l_orderkey * 10 + l_linenumber AS line_id, l_quantity,
       CASE WHEN MAX(l_quantity) OVER w > MIN(l_quantity) OVER w
            THEN (l_quantity - MIN(l_quantity) OVER w)
                 / (MAX(l_quantity) OVER w - MIN(l_quantity) OVER w)
            END AS scaled
FROM lineitem
WINDOW w AS (PARTITION BY l_orderkey // 128)
""", doc="applyInPandas grouped-map: per-group min-max scaling — the "
         "declared grouped-map UDF surface. min/max are order-"
         "independent and the scale is one IEEE op per row, so the "
         "Arrow path still hash-matches the window-SQL oracle. Keyed "
         "on an orderkey range bucket (bounded group size, group count "
         "grows with the data) — see agg_pandas_median's scale note; "
         "the window-SQL oracle IS the scale path for low-cardinality "
         "keys.")
def grouped_minmax_scale_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pandas_udfs import grouped_minmax_scale
    li = (load_table(spark, sf_dir, "lineitem")
          .select(F.expr("l_orderkey div 128").alias("okey_bucket"),
                  F.expr("l_orderkey * 10 + l_linenumber").alias("line_id"),
                  "l_quantity"))
    return grouped_minmax_scale(li, group_col="okey_bucket", group_type="long",
                                id_col="line_id", value_col="l_quantity")


# ----------------------------------------------------------------- windows

@register("window_topk_per_group", oracle="""
SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
""", doc="Top-3 orders per customer: window row_number ≤ k (unique-key "
         "tiebreak keeps it deterministic).")
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (orders
            .select("o_custkey", "o_orderkey", "o_totalprice",
                    F.row_number().over(w).cast("long").alias("rn"))
            .filter(F.col("rn") <= 3))


@register("window_rank", oracle="""
SELECT p_partkey, p_brand, p_retailprice,
       rank()       OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS rnk,
       dense_rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS drnk
FROM part
""", doc="rank / dense_rank (tie-stable by definition).")
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy(F.desc("p_retailprice"))
    return part.select(
        "p_partkey", "p_brand", "p_retailprice",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"))


@register("window_running_sum", oracle="""
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS running_total
FROM orders
""", doc="Running sum per customer (exact decimal accumulation; explicit "
         "ROWS frame + unique-key order so frames match across engines).")
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = (W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    return orders.select(
        "o_custkey", "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).over(w)
         .cast("double").alias("running_total"))


@register("window_rank_stats", oracle="""
SELECT o_orderkey, o_orderpriority,
       percent_rank() OVER w AS pct_rank,
       cume_dist()    OVER w AS cume,
       ntile(4)       OVER w AS quartile
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice, o_orderkey)
""", doc="percent_rank / cume_dist / ntile (rational-valued doubles: "
         "(rank-1)/(n-1) divisions are IEEE-exact on identical operands, "
         "so they hash-match across engines; unique-key tiebreak).")
def window_rank_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey", "o_orderpriority",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.ntile(4).over(w).cast("long").alias("quartile"))


@register("agg_argminmax", oracle="""
SELECT o_orderpriority,
       arg_max(o_totalprice, o_orderkey) AS latest_price,
       arg_min(o_totalprice, o_orderkey) AS earliest_price
FROM orders GROUP BY o_orderpriority
""", doc="max_by / min_by (argmax aggregation): price of the highest-/"
         "lowest-keyed order per priority. The ordering key (o_orderkey) "
         "is unique, so ties can't produce engine-dependent winners.")
def agg_argminmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (orders.groupBy("o_orderpriority")
            .agg(F.expr("max_by(o_totalprice, o_orderkey)")
                  .alias("latest_price"),
                 F.expr("min_by(o_totalprice, o_orderkey)")
                  .alias("earliest_price")))


@register("subquery_above_nation_avg", oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE CAST(c_acctbal AS DECIMAL(18,6)) > (
  SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,6))) AS DECIMAL(38,18))
         / COUNT(*)
  FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
""", doc="Correlated scalar subquery (decorrelated by Catalyst into an "
         "aggregate + join): customers above their nation's average "
         "balance. Exact decimal average on both sides.")
def subquery_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql("""
        SELECT c_custkey, c_name FROM customer c
        WHERE CAST(c_acctbal AS DECIMAL(18,6)) > (
          SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,6))) AS DECIMAL(38,18))
                 / COUNT(*)
          FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
    """)


@register("scalar_array_funcs", oracle="""
SELECT l_orderkey,
       array_to_string(list_sort(list(l_linenumber)), ',') AS line_numbers,
       len(list(l_linenumber)) AS n_lines,
       list_sort(list(l_linenumber))[1] AS first_line,
       list_contains(list(l_linenumber), 1) AS has_line1,
       list_reduce(list_sort(list(l_linenumber)), (acc, x) -> acc + x)
         AS line_sum
FROM lineitem GROUP BY l_orderkey
""", doc="Array surface: collect + sort, element_at, contains, a higher-"
         "order fold — all integer-exact. The array itself is emitted "
         "as a canonical joined STRING: list-typed output columns "
         "render differently per engine (numpy array vs list), which "
         "would break value comparison even when contents are equal.")
def scalar_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    arr = F.sort_array(F.collect_list("l_linenumber"))
    return (li.groupBy("l_orderkey")
            .agg(F.array_join(arr, ",").alias("line_numbers"),
                 F.size(F.collect_list("l_linenumber")).cast("long").alias("n_lines"),
                 F.element_at(arr, 1).alias("first_line"),
                 F.array_contains(F.collect_list("l_linenumber"), 1)
                  .alias("has_line1"),
                 F.expr("aggregate(sort_array(collect_list(l_linenumber)),"
                        " 0, (acc, x) -> acc + x)").alias("line_sum")))


@register("scalar_math_funcs", oracle="""
SELECT l_orderkey, l_linenumber,
       round(l_extendedprice, 1) AS price_r1,
       CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
       CAST(ceil(l_extendedprice) AS BIGINT)  AS price_ceil,
       abs(l_discount - 0.05) AS disc_dev,
       sqrt(l_quantity) AS qty_sqrt,
       CAST(l_quantity AS BIGINT) % 7 AS qty_mod7
FROM lineitem
""", doc="Math scalars restricted to operations with engine-identical "
         "IEEE semantics: round/floor/ceil/abs, correctly-rounded sqrt, "
         "integer modulo. (No pow/ln/exp — libm results differ in the "
         "last ulp across engines.)")
def scalar_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber",
        F.round("l_extendedprice", 1).alias("price_r1"),
        F.floor("l_extendedprice").alias("price_floor"),
        F.ceil("l_extendedprice").alias("price_ceil"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        (F.col("l_quantity").cast("bigint") % 7).alias("qty_mod7"))


@register("agg_approx_distinct", oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS exact_parts,
       TRUE AS approx_ok
FROM lineitem GROUP BY l_returnflag
""", doc="approx_count_distinct (HLL++) sanity-gated against the exact "
         "count: emits approx_ok = (relative error < 5%), which the "
         "oracle asserts TRUE — so the sketch's accuracy is itself the "
         "checked value. At 100 TB the approx path avoids the exact "
         "distinct's expand+double-shuffle.")
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.countDistinct("l_partkey").alias("exact_parts"),
                 F.approx_count_distinct("l_partkey", 0.02).alias("_approx"))
            .select(
                "l_returnflag", "exact_parts",
                (F.abs(F.col("_approx") - F.col("exact_parts"))
                 < 0.05 * F.col("exact_parts")).alias("approx_ok")))


# ------------------------------------------------------------ sort / limit

@register("sort_limit", oracle="""
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
LIMIT 100
""", doc="Global top-100 by price (TakeOrderedAndProject — no full sort).")
def sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (li.select("l_orderkey", "l_linenumber", "l_extendedprice")
            .orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
            .limit(100))


# ---------------------------------------------------------------- set ops

@register("set_union_all", oracle="""
SELECT nk, COUNT(*) AS n FROM (
  SELECT c_nationkey AS nk FROM customer
  UNION ALL
  SELECT s_nationkey AS nk FROM supplier
) GROUP BY nk
""", doc="UNION ALL then aggregate (deterministic multiset check).")
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nk"))
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nk"))
    return cust.unionByName(supp).groupBy("nk").agg(F.count("*").alias("n"))


@register("set_intersect", oracle="""
SELECT c_nationkey AS nk FROM customer
INTERSECT
SELECT s_nationkey AS nk FROM supplier
""", doc="INTERSECT (distinct) of nation keys present on both sides.")
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nk"))
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nk"))
    return cust.intersect(supp)


@register("set_except", oracle="""
SELECT c_nationkey AS nk FROM customer
EXCEPT
SELECT s_nationkey AS nk FROM supplier WHERE s_nationkey < 10
""", doc="EXCEPT (distinct) — customer nations minus a filtered supplier-"
         "nation set. The right-side filter keeps the difference non-"
         "empty at every sf (unfiltered, suppliers cover all nations at "
         "sf>=0.01 and the check would be a vacuous 0=0).")
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nk"))
    supp = (load_table(spark, sf_dir, "supplier")
            .filter(F.col("s_nationkey") < 10)
            .select(F.col("s_nationkey").alias("nk")))
    return cust.subtract(supp)


@register("set_intersect_all", oracle="""
SELECT nk FROM (SELECT c_nationkey AS nk FROM customer)
INTERSECT ALL
SELECT nk FROM (SELECT s_nationkey AS nk FROM supplier)
""", doc="INTERSECT ALL (multiset semantics: min of per-side counts).")
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nk"))
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nk"))
    return cust.intersectAll(supp)


@register("set_except_all", oracle="""
SELECT nk FROM (SELECT c_nationkey AS nk FROM customer)
EXCEPT ALL
SELECT nk FROM (SELECT s_nationkey AS nk FROM supplier)
""", doc="EXCEPT ALL (multiset difference: per-side count subtraction).")
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nk"))
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nk"))
    return cust.exceptAll(supp)


@register("window_value_funcs", oracle="""
SELECT o_orderkey, o_custkey,
       first_value(o_orderkey) OVER w AS first_key,
       last_value(o_orderkey)  OVER w AS last_key,
       nth_value(o_orderkey, 2) OVER w AS second_key
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""", doc="first/last/nth value over an explicit full-partition frame "
         "(unbounded frame + unique-key order = deterministic).")
def window_value_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = (W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
    return orders.select(
        "o_orderkey", "o_custkey",
        F.first("o_orderkey").over(w).alias("first_key"),
        F.last("o_orderkey").over(w).alias("last_key"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_key"))


@register("scalar_null_funcs", oracle="""
SELECT o_orderkey,
       nullif(o_orderstatus, 'O') AS status_or_null,
       coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_filled,
       (nullif(o_orderstatus, 'O') IS NOT DISTINCT FROM NULL)
         AS is_open,
       CASE WHEN o_totalprice > 100000 THEN 'big'
            WHEN o_totalprice > 10000 THEN 'mid'
            ELSE 'small' END AS price_band
FROM orders
""", doc="Null semantics: nullif/coalesce, null-safe comparison "
         "(Spark <=> ≡ SQL IS NOT DISTINCT FROM), CASE WHEN ladders.")
def scalar_null_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    status_or_null = F.nullif("o_orderstatus", F.lit("O"))
    return orders.select(
        "o_orderkey",
        status_or_null.alias("status_or_null"),
        F.coalesce(status_or_null, F.lit("OPEN")).alias("status_filled"),
        status_or_null.eqNullSafe(F.lit(None).cast("string"))
         .alias("is_open"),
        F.when(F.col("o_totalprice") > 100000, "big")
         .when(F.col("o_totalprice") > 10000, "mid")
         .otherwise("small").alias("price_band"))


# --------------------------------------------------------------- datetime

@register("scalar_datetime", oracle=f"""
SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS order_month,
       COUNT(*) AS n, {sql_dsum('o_totalprice', 'sum_total')}
FROM orders GROUP BY 1
""", doc="date_trunc + formatting + monthly aggregate.")
def scalar_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (orders
            .groupBy(F.date_format(F.date_trunc("month", "o_orderdate"),
                                   "yyyy-MM").alias("order_month"))
            .agg(F.count("*").alias("n"), dsum("o_totalprice", "sum_total")))


# ----------------------------------------------------------------------
# TPC-H-adapted correlated-subquery class (q4/q6/q13/q17 shapes, keyed
# to the reduced testdata schema — no commitdate/receiptdate/comment
# columns, so the predicates are adapted but the operator shapes are
# the classics: EXISTS decorrelation, selective scan-agg, left-join
# count distribution, correlated scalar-average subquery).

@register("q4_exists_priority", oracle="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey
    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
""", doc="TPC-H q4 shape: EXISTS correlated subquery -> Catalyst "
         "decorrelates to a left-semi join on the order key with the "
         "cross-column date predicate; one shuffle, then a tiny "
         "5-group agg. The slow-shipment predicate replaces q4's "
         "commitdate/receiptdate columns absent from this schema.")
def q4_exists_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey",
                                                      "l_shipdate")
    slow = (orders.join(
        li, (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate")
               > F.expr("o_orderdate + INTERVAL 60 DAY")), "left_semi"))
    return (slow.groupBy("o_orderpriority")
            .agg(F.count("*").alias("order_count")))


@register("q6_forecast_revenue", oracle="""
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
             * CAST(l_discount AS DECIMAL(8,6))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""", doc="TPC-H q6: pure scan-side revenue forecast — every predicate "
         "pushes to the parquet reader (min/max row-group skipping on "
         "l_shipdate at scale), zero joins, one-row result. The "
         "canonical 'is pushdown working' probe.")
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (li.filter((F.col("l_shipdate") >= "1996-01-01")
                      & (F.col("l_shipdate") < "1997-01-01")
                      & F.col("l_discount").between(0.05, 0.07)
                      & (F.col("l_quantity") < 24))
            .agg(F.sum(F.col("l_extendedprice").cast(MONEY)
                       * F.col("l_discount").cast(RATE))
                  .cast("double").alias("revenue"),
                 F.count("*").alias("n_rows")))


@register("q13_order_distribution", oracle="""
SELECT c_count, COUNT(*) AS custdist FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey)
GROUP BY c_count
""", doc="TPC-H q13: orders-per-customer distribution — left join "
         "preserving order-less customers (COUNT of the null key is "
         "0), two-level aggregation. The outer agg's key cardinality "
         "is tiny, so the second shuffle is negligible at any scale.")
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey",
                                                        "o_orderkey")
    per_cust = (cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register("q17_small_qty_revenue", oracle="""
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE)
         / 7.0 AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#23'
  AND l_quantity < (
    SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = p_partkey)
""", doc="TPC-H q17: correlated scalar-average subquery. Spark plans "
         "it as a per-part average aggregated once and joined back — "
         "the decorrelation Catalyst itself applies. The brand-"
         "filtered part side and the per-part averages grow with the "
         "part count, so both joins go by size.")
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = (load_table(spark, sf_dir, "part")
            .filter(F.col("p_brand") == "Brand#23")
            .select("p_partkey"))
    # Aggregate per-part averages BEFORE touching only-brand rows? No:
    # the average is over ALL lineitems of the part (per spec), but
    # only brand-filtered parts matter — so semi-reduce lineitem to
    # those parts first via the brand-filtered part dim, then compute the
    # threshold on that bounded subset.
    li_brand = li.join(part, li.l_partkey == part.p_partkey)
    thresh = (li_brand.groupBy("l_partkey")
              .agg((F.lit(0.2) * F.avg("l_quantity")).alias("qty_cap")))
    return (li_brand.join(thresh, "l_partkey")
            .filter(F.col("l_quantity") < F.col("qty_cap"))
            .agg((F.sum(F.col("l_extendedprice").cast(MONEY))
                  .cast("double") / 7.0).alias("avg_yearly")))


@register("q7_nation_volume", oracle=f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       CAST(SUM({_SQL_REVENUE}) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name IN ('NATION_1', 'NATION_2')
  AND n2.n_name IN ('NATION_1', 'NATION_2')
  AND n1.n_name <> n2.n_name
GROUP BY 1, 2, 3
""", doc="TPC-H q7 shape: six-way join with the same dimension (nation) "
         "joined twice under different roles; while the nation, supplier "
         "and customer dims are under the broadcast threshold they "
         "broadcast, so the only big shuffle is lineitem-orders.")
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(F.col("n_nationkey").alias("s_nkey"),
                       F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("c_nkey"),
                       F.col("n_name").alias("cust_nation"))
    picked = F.col("supp_nation").isin("NATION_1", "NATION_2")
    return (li
            .join(orders, li.l_orderkey == orders.o_orderkey)
            .join(supp, li.l_suppkey == supp.s_suppkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .join(n1, F.col("s_nationkey") == F.col("s_nkey"))
            .join(n2, F.col("c_nationkey") == F.col("c_nkey"))
            .filter(picked
                    & F.col("cust_nation").isin("NATION_1", "NATION_2")
                    & (F.col("supp_nation") != F.col("cust_nation")))
            .groupBy("supp_nation", "cust_nation",
                     F.year("l_shipdate").cast("long").alias("l_year"))
            .agg(F.sum(_revenue()).cast("double").alias("revenue")))


@register("q15_top_supplier", oracle=f"""
WITH rev AS (
  SELECT l_suppkey, CAST(SUM({_SQL_REVENUE}) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
""", doc="TPC-H q15 shape: agg view + scalar MAX subquery over it, "
         "equality on an exact-decimal-derived double (both engines "
         "derive it identically, so the float equality is principled). "
         "Spark computes the view once, max via a 1-row broadcast.")
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    rev = (li.filter((F.col("l_shipdate") >= "1996-01-01")
                     & (F.col("l_shipdate") < "1996-04-01"))
           .groupBy("l_suppkey")
           .agg(F.sum(_revenue()).cast("double").alias("total_revenue")))
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    return (rev.join(mx, rev.total_revenue == F.col("_mx"))
            .join(supp, rev.l_suppkey == supp.s_suppkey)
            .select("s_suppkey", "s_name", "total_revenue"))


@register("q21_sole_supplier", oracle="""
SELECT s_name, COUNT(*) AS n_last_ship
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > l1.l_shipdate)
GROUP BY s_name
""", doc="TPC-H q21 shape: EXISTS + NOT EXISTS both correlated on the "
         "fact table itself with non-equi predicates — planned as a "
         "semi join then an anti join, both shuffling only the order "
         "key + supplier key + date, never full rows. Finds the "
         "supplier that shipped LAST on multi-supplier finished "
         "orders (the schema has no commitdate, so lateness is "
         "re-expressed via ship order).")
def q21_sole_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    l1 = li.alias("l1")
    l2 = li.alias("l2")
    l3 = li.alias("l3")
    base = (l1.join(orders.filter(F.col("o_orderstatus") == "F")
                    .select("o_orderkey"),
                    F.col("l1.l_orderkey") == F.col("o_orderkey")))
    multi = base.join(
        l2, (F.col("l2.l_orderkey") == F.col("l1.l_orderkey"))
            & (F.col("l2.l_suppkey") != F.col("l1.l_suppkey")),
        "left_semi")
    last = multi.join(
        l3, (F.col("l3.l_orderkey") == F.col("l1.l_orderkey"))
            & (F.col("l3.l_suppkey") != F.col("l1.l_suppkey"))
            & (F.col("l3.l_shipdate") > F.col("l1.l_shipdate")),
        "left_anti")
    return (last.join(supp, F.col("l1.l_suppkey") == F.col("s_suppkey"))
            .groupBy("s_name").agg(F.count("*").alias("n_last_ship")))


@register("q22_idle_customers", oracle="""
SELECT c_mktsegment,
       COUNT(*) AS n_custs,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_acctbal
FROM customer
WHERE c_acctbal > (
    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(c_acctbal)
    FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
GROUP BY c_mktsegment
""", doc="TPC-H q22 shape: global scalar-average subquery gating the "
         "rows plus a NOT EXISTS anti join against the fact table — "
         "wealthy customers with no orders, per segment. The scalar "
         "is a 1-row broadcast; the anti join shuffles only keys. "
         "(Idleness = no URGENT orders: this corpus gives every "
         "customer at least one order, and an always-empty result "
         "would be a vacuous check.)")
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = (load_table(spark, sf_dir, "orders")
              .filter(F.col("o_orderpriority") == "1-URGENT")
              .select("o_custkey"))
    thresh = (cust.filter(F.col("c_acctbal") > 0.0)
              .agg((F.sum(F.col("c_acctbal").cast("decimal(18,6)"))
                    .cast("double") / F.count("c_acctbal")).alias("_avg")))
    return (cust.join(thresh, cust.c_acctbal > F.col("_avg"))
            .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
            .groupBy("c_mktsegment")
            .agg(F.count("*").alias("n_custs"),
                 F.sum(F.col("c_acctbal").cast("decimal(18,6)"))
                  .cast("double").alias("total_acctbal")))


@register("window_distribution", oracle="""
SELECT s_nationkey, s_suppkey, s_acctbal,
       ntile(4)       OVER w AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist()    OVER w AS cume
FROM supplier
WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
""", doc="Distribution window functions (ntile / percent_rank / "
         "cume_dist) — the unique-key tiebreak makes ntile's row "
         "assignment deterministic across engines.")
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = load_table(spark, sf_dir, "supplier")
    w = W.partitionBy("s_nationkey").orderBy("s_acctbal", "s_suppkey")
    return supp.select(
        "s_nationkey", "s_suppkey", "s_acctbal",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"))


@register("agg_approx_quantiles", oracle="""
SELECT l_returnflag, COUNT(*) AS n, TRUE AS approx_ok
FROM lineitem GROUP BY l_returnflag
""", doc="percentile_approx (KLL-style sketch) accuracy-gated against "
         "the exact percentile computed in the same Spark query: "
         "approx_ok = (|approx_p50 - exact_p50| <= 5% of exact), "
         "which the oracle asserts TRUE — the sketch's accuracy is "
         "itself the checked value (same pattern as "
         "agg_approx_distinct). At scale the sketch is one pass and "
         "mergeable; the exact percentile needs a per-group sort.")
def agg_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.count("*").alias("n"),
                 F.expr("approx_percentile(l_extendedprice, 0.5, 1000)")
                  .alias("_ap"),
                 F.expr("percentile(l_extendedprice, 0.5)").alias("_ex"))
            .select("l_returnflag", "n",
                    (F.abs(F.col("_ap") - F.col("_ex"))
                     <= 0.05 * F.abs(F.col("_ex"))).alias("approx_ok")))


@register("join_full_outer", oracle="""
WITH f AS (
  SELECT strftime(o_orderdate, '%Y-%m-%d') AS order_date, COUNT(*) AS n_f
  FROM orders WHERE o_orderstatus = 'F' GROUP BY 1
), o AS (
  SELECT strftime(o_orderdate, '%Y-%m-%d') AS order_date, COUNT(*) AS n_o
  FROM orders WHERE o_orderstatus = 'O' GROUP BY 1
)
SELECT COALESCE(f.order_date, o.order_date) AS order_date,
       COALESCE(f.n_f, 0) AS n_f, COALESCE(o.n_o, 0) AS n_o
FROM f FULL OUTER JOIN o ON f.order_date = o.order_date
""", doc="FULL OUTER join (the declared join type the ledger lacked): "
         "per-day order counts for status F vs status O, full-outer on "
         "the date so days with only one status survive with a 0 on "
         "the other side. At ~2 orders/day the sides genuinely "
         "mismatch, so both null-extension directions are exercised. "
         "Scale: both sides pre-aggregate before the join, so the "
         "join input is bounded by distinct dates, not row count.")
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    day = F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date")
    f = (orders.filter(F.col("o_orderstatus") == "F")
         .groupBy(day).agg(F.count("*").alias("n_f")))
    o = (orders.filter(F.col("o_orderstatus") == "O")
         .groupBy(day).agg(F.count("*").alias("n_o")))
    return (f.join(o, ["order_date"], "full")
            .select("order_date",
                    F.coalesce("n_f", F.lit(0)).alias("n_f"),
                    F.coalesce("n_o", F.lit(0)).alias("n_o")))


@register("q12_priority_by_status", oracle="""
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_linestatus
""", doc="TPC-H q12 shape (shipmode column absent -> line status): "
         "orders x lineitem equi-join with a date-window scan filter, "
         "conditional CASE counts per group. The filter prunes "
         "lineitem at the parquet scan; the join shuffles only "
         "surviving rows.")
def q12_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority")
    li = (load_table(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= "1996-01-01")
                  & (F.col("l_shipdate") < "1997-01-01"))
          .select("l_orderkey", "l_linestatus"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (orders.join(li, orders.o_orderkey == li.l_orderkey)
            .groupBy("l_linestatus")
            .agg(F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
                 F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count")))


@register("q14_promo_revenue_share", oracle="""
SELECT CAST(SUM(CASE WHEN p_type = 'PROMO'
                THEN CAST(l_extendedprice AS DECIMAL(12,4))
                     * (1 - CAST(l_discount AS DECIMAL(8,6)))
                ELSE CAST(0 AS DECIMAL(20,10)) END) AS DOUBLE)
       / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                  * (1 - CAST(l_discount AS DECIMAL(8,6)))) AS DOUBLE)
         AS promo_share,
       COUNT(*) AS n_rows
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01'
  AND l_shipdate < TIMESTAMP '1996-09-01'
""", doc="TPC-H q14 shape: promo revenue share over a 6-month window. "
         "part broadcasts while under the threshold; both sums are exact "
         "decimals (order-independent) and only the final ratio is "
         "one double division, so the share is bit-deterministic.")
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = (load_table(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= "1996-03-01")
                  & (F.col("l_shipdate") < "1996-09-01"))
          .select("l_partkey", "l_extendedprice", "l_discount"))
    rev = (F.col("l_extendedprice").cast(MONEY)
           * (F.lit(1) - F.col("l_discount").cast(RATE)))
    promo = F.when(F.col("p_type") == "PROMO", rev) \
             .otherwise(F.lit(0).cast("decimal(20,10)"))
    return (li.join(part, li.l_partkey == part.p_partkey)
            .agg((F.sum(promo).cast("double")
                  / F.sum(rev).cast("double")).alias("promo_share"),
                 F.count("*").alias("n_rows")))


@register("q19_disjunctive_revenue", oracle="""
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                * (1 - CAST(l_discount AS DECIMAL(8,6)))) AS DOUBLE)
         AS revenue,
       COUNT(*) AS n_rows
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand IN ('Brand#11', 'Brand#12', 'Brand#13')
       AND p_size <= 15 AND l_quantity <= 15)
   OR (p_brand IN ('Brand#21', 'Brand#22', 'Brand#23')
       AND p_size <= 25 AND l_quantity BETWEEN 10 AND 25)
   OR (p_brand IN ('Brand#31', 'Brand#32', 'Brand#34')
       AND p_size <= 35 AND l_quantity BETWEEN 20 AND 35)
""", doc="TPC-H q19 shape: disjunction of three conjunct groups mixing "
         "build-side (p_brand, p_size) and probe-side (l_quantity) "
         "predicates. Catalyst extracts the common single-side "
         "conjuncts below the join where possible; the residual OR "
         "evaluates post-join inside codegen. The classic 'does the "
         "optimizer handle ORs' probe.")
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    cond = (
        (F.col("p_brand").isin("Brand#11", "Brand#12", "Brand#13")
         & (F.col("p_size") <= 15) & (F.col("l_quantity") <= 15))
        | (F.col("p_brand").isin("Brand#21", "Brand#22", "Brand#23")
           & (F.col("p_size") <= 25) & F.col("l_quantity").between(10, 25))
        | (F.col("p_brand").isin("Brand#31", "Brand#32", "Brand#34")
           & (F.col("p_size") <= 35) & F.col("l_quantity").between(20, 35)))
    rev = (F.col("l_extendedprice").cast(MONEY)
           * (F.lit(1) - F.col("l_discount").cast(RATE)))
    return (li.join(part, li.l_partkey == part.p_partkey)
            .filter(cond)
            .agg(F.sum(rev).cast("double").alias("revenue"),
                 F.count("*").alias("n_rows")))


@register("agg_collect_sorted", oracle="""
SELECT c_nationkey,
       CAST(len(list(c_custkey)) AS BIGINT) AS n_cust,
       array_to_string(list_transform(
           (list(c_custkey ORDER BY c_acctbal DESC, c_custkey))[1:5],
           x -> CAST(x AS VARCHAR)), '|') AS top5_custkeys
FROM customer GROUP BY c_nationkey
""", doc="Nested-array aggregation: collect each nation's customers "
         "into an array ordered by (acctbal DESC, custkey), keep the "
         "top 5 as a pipe-joined string. Spark has no ORDER BY inside "
         "collect_list, so the deterministic spelling is collect "
         "structs -> array_sort -> slice -> transform, all inside one "
         "hash-agg + projection. Group payload is bounded by group "
         "size — the collect belongs on bounded keys (it IS the "
         "per-group materialization the pandas-UDF notes warn about; "
         "here the output slice caps what survives the projection).")
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return (cust.groupBy("c_nationkey")
            .agg(F.count("*").cast("long").alias("n_cust"),
                 F.expr("""
                   concat_ws('|', transform(
                     slice(array_sort(collect_list(
                       struct(-c_acctbal AS nb, c_custkey AS ck))), 1, 5),
                     x -> CAST(x.ck AS STRING)))""").alias("top5_custkeys")))


@register("agg_corr_covar", oracle="""
WITH s AS (
  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))
             * CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))
             * CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS syy,
    CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))
             * CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sxy
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag, n,
       (n * sxy - sx * sy)
         / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
         AS corr_qty_price,
       (sxy - sx * sy / n) / (n - 1) AS covar_samp_qty_price
FROM s
""", doc="Statistical aggregates done deterministically: corr and "
         "covar_samp are NOT order-independent as floating-point "
         "one-pass aggs, so both engines compute the five moment sums "
         "as exact decimals (order-free) and apply the closed-form "
         "double formula once per group. One operand of each decimal "
         "product is widened past 18 digits to force int128 in DuckDB "
         "(decimal(18,6)^2 silently overflows int64 otherwise). Same "
         "partial/final hash-agg shape as any sum.")
def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    qd, qn = (F.col("l_quantity").cast(t)
              for t in ("decimal(20,6)", "decimal(18,6)"))
    pw, pn = (F.col("l_extendedprice").cast(t)
              for t in ("decimal(20,6)", "decimal(18,6)"))
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(qd).cast("double").alias("sx"),
        F.sum(pw).cast("double").alias("sy"),
        F.sum(qd * qn).cast("double").alias("sxx"),
        F.sum(pw * pn).cast("double").alias("syy"),
        F.sum(qd * pn).cast("double").alias("sxy"))
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return s.select(
        "l_returnflag", "n",
        ((n * sxy - sx * sy)
         / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)))
        .alias("corr_qty_price"),
        ((sxy - sx * sy / n) / (n - 1)).alias("covar_samp_qty_price"))


@register("q10_returned_revenue", oracle="""
SELECT c_custkey, c_name, n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                * (1 - CAST(l_discount AS DECIMAL(8,6)))) AS DOUBLE)
         AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""", doc="TPC-H q10 shape: revenue lost to returns per customer over "
         "one quarter — a 4-way star join (orders date-pruned at the "
         "scan, lineitem filtered on returnflag, customer+nation "
         "broadcast while under the threshold), then top-20 by exact-decimal revenue with a "
         "custkey tiebreak (TakeOrderedAndProject, no global sort).")
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name")
    orders = (load_table(spark, sf_dir, "orders")
              .filter((F.col("o_orderdate") >= "1996-01-01")
                      & (F.col("o_orderdate") < "1996-04-01"))
              .select("o_orderkey", "o_custkey"))
    li = (load_table(spark, sf_dir, "lineitem")
          .filter(F.col("l_returnflag") == "R")
          .select("l_orderkey", "l_extendedprice", "l_discount"))
    rev = (F.col("l_extendedprice").cast(MONEY)
           * (F.lit(1) - F.col("l_discount").cast(RATE)))
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .join(nation, cust.c_nationkey == nation.n_nationkey)
            .groupBy("c_custkey", "c_name", "n_name")
            .agg(F.sum(rev).cast("double").alias("revenue"))
            .orderBy(F.desc("revenue"), "c_custkey")
            .limit(20))


@register("q8_market_share", oracle="""
SELECT o_year,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol
                ELSE CAST(0 AS DECIMAL(20,10)) END) AS DOUBLE)
         / CAST(SUM(vol) AS DOUBLE) AS mkt_share,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM (
  SELECT EXTRACT(year FROM o_orderdate) AS o_year,
         CAST(l_extendedprice AS DECIMAL(12,4))
           * (1 - CAST(l_discount AS DECIMAL(8,6))) AS vol,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'EUROPE' AND p_type = 'STANDARD'
)
GROUP BY o_year
""", doc="TPC-H q8 shape: one supplier nation's share of STANDARD-part "
         "revenue sold into EUROPE, per order year — the deepest join "
         "tree in the registry (7 joins, nation joined twice under "
         "different roles). Dims under the broadcast threshold broadcast; "
         "lineitem shuffles only for orders. Share = exact-decimal "
         "conditional sum over exact total, one division per year.")
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_orderkey",
        "l_extendedprice", "l_discount")
    part = (load_table(spark, sf_dir, "part")
            .filter(F.col("p_type") == "STANDARD").select("p_partkey"))
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"),
        F.col("n_regionkey").alias("n1_region"))
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"),
        F.col("n_name").alias("supp_nation"))
    region = (load_table(spark, sf_dir, "region")
              .filter(F.col("r_name") == "EUROPE").select("r_regionkey"))
    vol = (F.col("l_extendedprice").cast(MONEY)
           * (F.lit(1) - F.col("l_discount").cast(RATE)))
    base = (li.join(part, li.l_partkey == part.p_partkey)
            .join(supp, li.l_suppkey == supp.s_suppkey)
            .join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .join(n1, cust.c_nationkey == F.col("n1_key"))
            .join(region, F.col("n1_region") == region.r_regionkey)
            .join(n2, supp.s_nationkey == F.col("n2_key"))
            .select(F.year("o_orderdate").cast("long").alias("o_year"),
                    vol.alias("vol"), "supp_nation"))
    nation_vol = F.when(F.col("supp_nation") == "NATION_3",
                        F.col("vol")).otherwise(
                            F.lit(0).cast("decimal(20,10)"))
    return (base.groupBy("o_year")
            .agg((F.sum(nation_vol).cast("double")
                  / F.sum("vol").cast("double")).alias("mkt_share"),
                 F.count("*").alias("n_rows")))


@register("join_right_agg", oracle="""
SELECT p_brand,
       CAST(COUNT(l_orderkey) AS BIGINT) AS n_lineitems,
       CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_unreferenced_parts
FROM lineitem RIGHT JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
""", doc="RIGHT OUTER join (closing the declared join-type checklist): "
         "every part survives, parts no lineitem references count into "
         "n_unreferenced_parts via the null-extended probe side. Spark "
         "plans it as the mirrored left-outer broadcast; semantics "
         "checked against DuckDB's native RIGHT JOIN.")
def join_right_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (li.join(part, li.l_partkey == part.p_partkey, "right")
            .groupBy("p_brand")
            .agg(F.count("l_orderkey").alias("n_lineitems"),
                 F.sum(F.when(F.col("l_orderkey").isNull(), 1).otherwise(0))
                  .cast("long").alias("n_unreferenced_parts")))


# ------------------------------------------------- TPC-H shapes without partsupp
# The testdata has no partsupp table, so the q2/q9/q11/q16/q20 shapes
# derive the part<->supplier relation from lineitem's (l_partkey,
# l_suppkey) pairs — same plan skeletons (correlated MIN, NOT IN,
# nested IN + HAVING), different base relation. Cited shapes:
# TPC-H spec §2.4; reference has no analog (kinesis-to-humio.py is
# ETL-only), these are the ⊕ declared analytics surface.

@register("q2_min_cost_supplier", oracle="""
WITH offer AS (
  SELECT l_partkey, l_suppkey,
         MIN(CAST(l_extendedprice AS DECIMAL(12,4))) AS cost
  FROM lineitem GROUP BY 1, 2),
ro AS (
  SELECT l_partkey, cost, s_acctbal, s_name, n_name
  FROM offer
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'),
m AS (
  SELECT *, MIN(cost) OVER (PARTITION BY l_partkey) AS min_cost FROM ro)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
       CAST(cost AS DOUBLE) AS cost
FROM m JOIN part ON p_partkey = l_partkey
WHERE cost = min_cost AND p_size = 15
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""", doc="TPC-H q2 shape: correlated-MIN subquery (min-cost supplier "
         "per part within a region), re-expressed as a window MIN — "
         "one shuffle on l_partkey instead of a self-join; dims "
         "broadcast while under the threshold. The "
         "part-supplier offers come from lineitem (no partsupp in "
         "the schema); MIN over exact decimals keeps both engines "
         "bit-identical.")
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = (load_table(spark, sf_dir, "region")
              .filter(F.col("r_name") == "EUROPE").select("r_regionkey"))
    part = (load_table(spark, sf_dir, "part")
            .filter(F.col("p_size") == 15).select("p_partkey", "p_name"))
    offer = (li.groupBy("l_partkey", "l_suppkey")
             .agg(F.min(F.col("l_extendedprice").cast(MONEY)).alias("cost")))
    regional = (offer
                .join(supp, offer.l_suppkey == supp.s_suppkey)
                .join(nation, supp.s_nationkey == nation.n_nationkey)
                .join(region, nation.n_regionkey == region.r_regionkey)
                .select("l_partkey", "cost", "s_acctbal", "s_name", "n_name"))
    w = W.partitionBy("l_partkey")
    return (regional
            .withColumn("min_cost", F.min("cost").over(w))
            .filter(F.col("cost") == F.col("min_cost"))
            .join(part, F.col("l_partkey") == part.p_partkey)
            .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
                    F.col("cost").cast("double").alias("cost"))
            .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
            .limit(100))


@register("q9_product_profit", oracle="""
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                  * (1 - CAST(l_discount AS DECIMAL(8,6)))
                - CAST(p_retailprice AS DECIMAL(12,4))
                  * CAST(0.6 AS DECIMAL(2,1))
                  * CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE)
         AS sum_profit
FROM lineitem
JOIN part     ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN orders   ON o_orderkey = l_orderkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
""", doc="TPC-H q9 shape: 5-way star join with a LIKE filter on the "
         "part dim and profit arithmetic (revenue minus a 0.6 * "
         "retailprice * qty cost proxy — the schema has no "
         "ps_supplycost). Dims under the broadcast threshold broadcast; "
         "the one shuffle is lineitem-orders, then a 2-key hash agg. "
         "Decimal widths keep both engines in exact int128 math.")
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = (load_table(spark, sf_dir, "part")
            .filter(F.col("p_name").like("%widget%"))
            .select("p_partkey", "p_retailprice"))
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate")
    amount = (F.col("l_extendedprice").cast(MONEY)
              * (F.lit(1) - F.col("l_discount").cast(RATE))
              - F.col("p_retailprice").cast(MONEY)
                * F.lit(0.6).cast("decimal(2,1)")
                * F.col("l_quantity").cast(MONEY))
    return (li
            .join(part, li.l_partkey == part.p_partkey)
            .join(supp, li.l_suppkey == supp.s_suppkey)
            .join(nation, supp.s_nationkey == nation.n_nationkey)
            .join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy(F.col("n_name").alias("nation"),
                     F.year("o_orderdate").cast("long").alias("o_year"))
            .agg(F.sum(amount).cast("double").alias("sum_profit")))


@register("q11_important_stock", oracle="""
WITH value_by_part AS (
  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS val
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE n_name IN ('NATION_1', 'NATION_5', 'NATION_9')
  GROUP BY l_partkey)
SELECT l_partkey AS p_partkey, CAST(val AS DOUBLE) AS part_value
FROM value_by_part
WHERE CAST(val AS DOUBLE)
      > (SELECT CAST(SUM(val) AS DOUBLE) FROM value_by_part) * 0.001
""", doc="TPC-H q11 shape: HAVING-style threshold against a scalar "
         "subquery over the same aggregate (parts worth >0.1% of the "
         "tracked nations' total). Spark computes the per-part agg "
         "once, derives the 1-row total from it, and broadcasts the "
         "threshold — no second scan of lineitem. The comparison is "
         "double-vs-double derived from exact decimal sums, identical "
         "in both engines.")
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice")
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey")
    nation = (load_table(spark, sf_dir, "nation")
              .filter(F.col("n_name").isin("NATION_1", "NATION_5", "NATION_9"))
              .select("n_nationkey"))
    vbp = (li
           .join(supp, li.l_suppkey == supp.s_suppkey)
           .join(nation, supp.s_nationkey == nation.n_nationkey)
           .groupBy("l_partkey")
           .agg(F.sum(F.col("l_extendedprice").cast(MONEY)).alias("val")))
    total = vbp.agg((F.sum("val").cast("double") * F.lit(0.001))
                    .alias("_threshold"))
    return (vbp.join(total, F.col("val").cast("double") > F.col("_threshold"))
            .select(F.col("l_partkey").alias("p_partkey"),
                    F.col("val").cast("double").alias("part_value")))


@register("q16_supplier_cnt", oracle="""
SELECT p_brand, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#13'
  AND p_size IN (1, 3, 9, 14, 19, 23, 36, 45)
  AND l_suppkey NOT IN
      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
GROUP BY p_brand, p_size
""", doc="TPC-H q16 shape: NOT IN anti-join against a filtered dim "
         "(suppliers below an account-balance floor stand in for the "
         "spec's complaint suppliers) followed by COUNT(DISTINCT) on "
         "a 2-key group. The anti side and the part dim join by size; "
         "the distinct shuffles (brand,size,suppkey) triples only — "
         "bytes, not rows.")
def q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey")
    part = (load_table(spark, sf_dir, "part")
            .filter((F.col("p_brand") != "Brand#13")
                    & F.col("p_size").isin(1, 3, 9, 14, 19, 23, 36, 45))
            .select("p_partkey", "p_brand", "p_size"))
    bad = (load_table(spark, sf_dir, "supplier")
           .filter(F.col("s_acctbal") < 1000).select("s_suppkey"))
    return (li
            .join(part, li.l_partkey == part.p_partkey)
            # s_suppkey is never null, so NOT IN == left_anti exactly.
            .join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
            .groupBy("p_brand", "p_size")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt")))


@register("q20_excess_suppliers", oracle="""
WITH shipped AS (
  SELECT l_suppkey, l_partkey,
         SUM(CAST(l_quantity AS DECIMAL(18,6))) AS qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1997-01-01'
  GROUP BY 1, 2),
w AS (
  SELECT l_suppkey, l_partkey, qty,
         SUM(qty) OVER (PARTITION BY l_partkey) AS part_total
  FROM shipped)
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN
      (SELECT l_suppkey FROM w JOIN part ON p_partkey = l_partkey
       WHERE p_name LIKE 'red%'
         AND CAST(qty AS DOUBLE) > CAST(part_total AS DOUBLE) * 0.3)
""", doc="TPC-H q20 shape: nested IN subqueries (suppliers who shipped "
         ">30% of a red part's 1996 volume). The spec's correlated "
         "half-of-stock subquery becomes a window SUM over the "
         "(suppkey,partkey) aggregate — one extra shuffle on partkey, "
         "no self-join — then a semi join into supplier. Quantities "
         "aggregate as exact decimals; only the final 30% comparison "
         "is double.")
def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_partkey", "l_quantity", "l_shipdate")
    part = (load_table(spark, sf_dir, "part")
            .filter(F.col("p_name").like("red%")).select("p_partkey"))
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name")
    shipped = (li.filter((F.col("l_shipdate") >= "1996-01-01")
                         & (F.col("l_shipdate") < "1997-01-01"))
               .groupBy("l_suppkey", "l_partkey")
               .agg(F.sum(F.col("l_quantity").cast("decimal(18,6)"))
                    .alias("qty")))
    w = W.partitionBy("l_partkey")
    excess = (shipped
              .join(part, shipped.l_partkey == part.p_partkey)
              .withColumn("part_total", F.sum("qty").over(w))
              .filter(F.col("qty").cast("double")
                      > F.col("part_total").cast("double") * 0.3)
              .select("l_suppkey"))
    return supp.join(excess, supp.s_suppkey == excess.l_suppkey,
                     "left_semi")


@register("agg_ols_by_group", oracle="""
WITH s AS (
  SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))
             * CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))
             * CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS syy,
    CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))
             * CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sxy
  FROM lineitem GROUP BY 1, 2
)
SELECT l_returnflag, l_linestatus, n,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
             6) AS intercept,
       ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM s
""", doc="Grouped linear regression (distributed closed-form OLS): "
         "slope / intercept / r-squared of price ~ quantity per "
         "(returnflag, linestatus) — the trend-fitting companion to "
         "agg_corr_covar, and the 100 TB way to fit millions of "
         "per-group models: five order-free moment sums (exact "
         "decimal, map-side combined — the only thing that touches "
         "data) and the closed-form double formula applied once per "
         "group. No iterative solver, no driver round-trips; the "
         "same pattern extends to any single-feature GLM screen "
         "(feature triage over a training corpus). Decimal widening "
         "forces int128 in DuckDB exactly as agg_corr_covar.")
def agg_ols_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    qd, qn = (F.col("l_quantity").cast(t)
              for t in ("decimal(20,6)", "decimal(18,6)"))
    pw, pn = (F.col("l_extendedprice").cast(t)
              for t in ("decimal(20,6)", "decimal(18,6)"))
    s = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.sum(qd).cast("double").alias("sx"),
        F.sum(pw).cast("double").alias("sy"),
        F.sum(qd * qn).cast("double").alias("sxx"),
        F.sum(pw * pn).cast("double").alias("syy"),
        F.sum(qd * pn).cast("double").alias("sxy"))
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        "l_returnflag", "l_linestatus", "n",
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
         .alias("r2"))


@register("grouped_winsorize", oracle="""
WITH b AS (
  SELECT l_returnflag,
         quantile_disc(l_extendedprice, 0.05) AS lo,
         quantile_disc(l_extendedprice, 0.95) AS hi
  FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN l.l_extendedprice < b.lo THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clipped_low,
       CAST(SUM(CASE WHEN l.l_extendedprice > b.hi THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clipped_high,
       ROUND(CAST(SUM(CAST(least(greatest(l.l_extendedprice, b.lo), b.hi)
                           AS DECIMAL(20,6))) AS DOUBLE) / COUNT(*), 6)
         AS mean_winsorized
FROM lineitem l JOIN b ON l.l_returnflag = b.l_returnflag
GROUP BY l.l_returnflag
""", doc="Winsorization (robust-feature clipping): per-group discrete "
         "p05/p95 bounds, values clipped into [lo, hi], and the "
         "clipped-count / winsorized-mean report — the outlier "
         "treatment a feature pipeline applies before normalizing "
         "heavy-tailed signals. Discrete (element-picking) quantiles "
         "keep bounds exact and engine-independent (agg_quantiles' "
         "convention); the winsorized mean sums exact decimals so no "
         "float accumulation order can differ. Scale shape: the "
         "bounds are a tiny per-group table broadcast back onto the "
         "fact scan; the clip is a scan-side expression; one "
         "fact-table shuffle total (the final agg), with the "
         "quantile window riding the same per-group sort "
         "agg_quantiles already pays.")
def grouped_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice")
    w = W.partitionBy("l_returnflag").orderBy("l_extendedprice")
    ranked = li.select(
        "l_returnflag", "l_extendedprice",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(W.partitionBy("l_returnflag")).alias("n"))

    def pick(q: float, alias: str):
        # DuckDB quantile_disc's exact index: 1-based rn = ceil(q*n).
        idx = F.ceil(F.lit(q) * F.col("n"))
        return (F.max(F.when(F.col("rn") == idx, F.col("l_extendedprice")))
                .alias(alias))

    bounds = (ranked.groupBy("l_returnflag")
              .agg(pick(0.05, "lo"), pick(0.95, "hi")))
    # bounds is one row per return flag (3 flags, A/N/R); Spark sizes
    # a grouped aggregate at its input's size.
    clipped = (li.join(F.broadcast(bounds), "l_returnflag")
               .select("l_returnflag",
                       F.col("l_extendedprice").alias("x"),
                       "lo", "hi"))
    return (clipped.groupBy("l_returnflag")
            .agg(F.count("*").alias("n"),
                 F.sum(F.when(F.col("x") < F.col("lo"), 1).otherwise(0))
                  .cast("long").alias("n_clipped_low"),
                 F.sum(F.when(F.col("x") > F.col("hi"), 1).otherwise(0))
                  .cast("long").alias("n_clipped_high"),
                 F.round(
                     F.sum(F.least(F.greatest("x", F.col("lo")), F.col("hi"))
                           .cast("decimal(20,6)")).cast("double")
                     / F.count("*"), 6).alias("mean_winsorized")))


@register("customer_rfm_segments", oracle="""
WITH m AS (
  SELECT o_custkey,
         CAST(epoch_ms(MAX(o_orderdate)) AS BIGINT) AS last_order_ms,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(20,6))) AS DOUBLE)
           AS monetary
  FROM orders GROUP BY o_custkey
)
SELECT o_custkey, last_order_ms, frequency,
       ROUND(monetary, 2) AS monetary,
       CAST(ntile(5) OVER (ORDER BY last_order_ms DESC, o_custkey)
            AS BIGINT) AS r_score,
       CAST(ntile(5) OVER (ORDER BY frequency DESC, o_custkey)
            AS BIGINT) AS f_score,
       CAST(ntile(5) OVER (ORDER BY monetary DESC, o_custkey)
            AS BIGINT) AS m_score
FROM m
""", doc="RFM customer segmentation — recency / frequency / monetary "
         "quintile scores (ntile(5) with unique-key tiebreaks, so "
         "bucket boundaries are deterministic on both engines): the "
         "classic lifecycle-marketing rollup. Scale shape (round-4 "
         "weak-#2 fix): the fact scan reduces to one row per "
         "customer FIRST (map-side combined; monetary as exact "
         "decimal) and is checkpointed; each metric's quintile then "
         "comes from the DISTRIBUTED exact ranker (operators/"
         "ranks.py — hash-sampled range boundaries, pure-expression "
         "partition ids, pid-PARTITIONED windows) and ntile's exact "
         "bucket-boundary ranks (first n%5 buckets get the extra "
         "row), so the scores are bit-identical to the oracle's "
         "global ntile(5) with NO unpartitioned window — at 1e9 "
         "customers no single task ever holds a metric's total "
         "order.")
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranks import (attach_global_rank, auto_sample_mod,
                                   bucket_from_rank, ntile_ends,
                                   range_pid, sort_sample,
                                   splits_from_sample)
    orders = load_table(spark, sf_dir, "orders")
    m = (orders.groupBy("o_custkey")
         .agg(F.unix_millis(F.max("o_orderdate").cast("timestamp"))
              .alias("last_order_ms"),
              F.count("*").alias("frequency"),
              F.sum(F.col("o_totalprice").cast("decimal(20,6)"))
               .cast("double").alias("monetary")))
    # Materialize the per-customer aggregate once so the ranker's prep
    # jobs scan |customers| checkpointed rows, not the fact table.
    mc = truncated_checkpoint(m)
    metrics = (("last_order_ms", "_rn_r", "r_score"),
               ("frequency", "_rn_f", "f_score"),
               ("monetary", "_rn_m", "m_score"))
    # ONE bounded sample job serves all three metrics: collect the
    # gated (custkey, metrics...) rows once, sort driver-side per
    # metric ordering. Modulus scales with the orders row count read
    # straight from the parquet FOOTER — no count() job — a free
    # upper bound on |customers| (an overestimate only shrinks the
    # sample, never unbounds it).
    from ..sources.tables import table_row_count
    mod = auto_sample_mod(table_row_count(sf_dir, "orders"), 32,
                          target_per_part=128)
    sampled = mc
    if mod > 1:
        sampled = mc.filter(
            F.pmod(F.xxhash64("o_custkey", F.lit(41)), F.lit(mod)) == 0)
    sample_rows = sampled.select("o_custkey", "last_order_ms",
                                 "frequency", "monetary").collect()
    specs_of = {metric: [(metric, "desc"), ("o_custkey", "asc")]
                for metric, _, _ in metrics}
    bounds_of = {}
    for metric, _, _ in metrics:
        ordered = sort_sample([(r[metric], r["o_custkey"])
                               for r in sample_rows], specs_of[metric])
        bounds_of[metric] = splits_from_sample(ordered, 32)
    # ONE counts job serves all three metrics: explode each row into
    # its (metric_idx, pid) memberships, aggregate — <= 3*32 rows out.
    pid_structs = F.array(*[
        F.struct(F.lit(i).alias("mi"),
                 range_pid(specs_of[metric], bounds_of[metric])
                 .alias("pid"))
        for i, (metric, _, _) in enumerate(metrics)])
    counts = (mc.select(F.explode(pid_structs).alias("e"))
              .groupBy("e.mi", "e.pid")
              .agg(F.count("*").alias("c")).collect())
    offsets_of: dict[int, dict[int, int]] = {i: {} for i in range(3)}
    per_metric: dict[int, dict[int, int]] = {i: {} for i in range(3)}
    for r in counts:
        per_metric[r["mi"]][r["pid"]] = r["c"]
    for i, cnts in per_metric.items():
        acc = 0
        for p in sorted(cnts):
            offsets_of[i][p] = acc
            acc += cnts[p]
    n = sum(per_metric[0].values())  # total rows, no extra job
    cur = mc
    for i, (metric, rcol, _) in enumerate(metrics):
        cur, _ = attach_global_rank(
            cur, specs_of[metric], rank_col=rcol,
            precomputed=(bounds_of[metric], offsets_of[i]))
    ends = ntile_ends(n, 5)
    return cur.select(
        "o_custkey", "last_order_ms", "frequency",
        F.round("monetary", 2).alias("monetary"),
        bucket_from_rank("_rn_r", ends).alias("r_score"),
        bucket_from_rank("_rn_f", ends).alias("f_score"),
        bucket_from_rank("_rn_m", ends).alias("m_score"))


@register("agg_distinct_twophase", oracle="""
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY event_type
""", doc="Exact distinct under KEY SKEW, the manual two-phase rewrite: "
         "phase 1 pre-aggregates on the FULL (event_type, user_id) "
         "pair — a hot event_type is spread across partitions by the "
         "user dimension, so no task ever owns a whole hot key — and "
         "phase 2 counts pre-agg rows per type, which map-side "
         "combine collapses to one partial row per (task, type) "
         "before the exchange. Contrast agg_distinct's native "
         "COUNT(DISTINCT): Catalyst plans an Expand + two-phase agg "
         "that shuffles expanded rows; this form also lets the SAME "
         "pre-aggregate serve the distinct count AND the plain count "
         "(n_events rides along for free). Plan-pinned: exactly two "
         "hash exchanges, no Expand, both aggs partial+final "
         "(tests/test_plan_quality.py::test_twophase_distinct_shape).")
def agg_distinct_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    pre = (ev.groupBy("event_type", "user_id")
           .agg(F.count("*").alias("_c")))
    return (pre.groupBy("event_type")
            .agg(F.count("*").cast("long").alias("n_users"),
                 F.sum("_c").cast("long").alias("n_events")))


@register("join_bloom_prefilter", oracle=f"""
WITH bld AS (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
), pos AS (
  SELECT DISTINCT unnest([{",".join(
      bloom_pos_duck('CAST(c_custkey AS VARCHAR)'))}]) AS p
  FROM bld
), passed AS (
  SELECT o.* FROM orders o
  WHERE {" AND ".join(f"({e}) IN (SELECT p FROM pos)"
                      for e in bloom_pos_duck('CAST(o.o_custkey AS VARCHAR)'))}
), np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_bloom_pass FROM passed)
SELECT o.o_orderpriority AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {sql_dsum('o.o_totalprice', 'revenue')},
       (SELECT n_bloom_pass FROM np) AS n_bloom_pass
FROM passed o JOIN bld c ON o.o_custkey = c.c_custkey
GROUP BY o.o_orderpriority
""", doc="Runtime BLOOM-FILTER join pruning (sideways information "
         "passing — what Spark's runtime.bloomFilter injection and "
         "Delta/Iceberg dynamic file pruning do, in explicit oracle-"
         "checkable form): the filtered dim side (BUILDING customers) "
         "builds an m=8192/k=3 bloom over the join key with the "
         "engine's portable md5 hash family; its set-bit positions — "
         "at most m ints, the bitmap's exact information content — "
         "come back as ONE bounded driver collect and the probe "
         "becomes a PURE scan-side expression on the fact table, so "
         "at 100 TB the fact SHUFFLE (when the dim is too big to "
         "broadcast) carries only bloom survivors: true matches plus "
         "the (1-e^(-kn/m))^k false-positive tail. The exact join "
         "then drops false positives; n_bloom_pass rides along as a "
         "checked column so the filter's pruning arithmetic — not "
         "just the final answer — is hash-verified (the oracle "
         "replays the identical bit positions). Exact integer/decimal "
         "aggregates per the engine convention.")
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    bld = cust.filter(F.col("c_mktsegment") == "BUILDING")
    # Build: distinct set-bit positions of the dim-side keys (ONE
    # bounded collect, <= min(3*|dim|, m) ints — at scale this is the
    # runtime-filter build job every engine pays).
    pos_rows = (bld.select(F.explode(F.array(
        *[F.expr(e) for e in bloom_pos_spark("CAST(c_custkey AS STRING)")]))
        .alias("p"))
        .distinct().collect())
    bits = {int(r.p) for r in pos_rows}
    # Probe: pure expression against the BIT-PACKED bitmap (m/64 long
    # words as an array literal; element_at + shiftright is O(1) per
    # probe). NOT a character bitmap probed with substring():
    # UTF8String.substring walks bytes to count codepoints, so each
    # probe would cost O(position) — measured 10x this filter's whole
    # runtime at m=8192. No join, no shuffle: the filter evaluates
    # inside the fact scan stage.
    words = [0] * (BLOOM_M // 64)
    for b in bits:
        words[b // 64] |= 1 << (b % 64)
    arr = "array(" + ",".join(
        f"{w - (1 << 64) if w >= (1 << 63) else w}L" for w in words) + ")"
    probe = [F.expr(f"(shiftright(element_at({arr},"
                    f" CAST(({e}) DIV 64 AS INT) + 1),"
                    f" CAST(({e}) % 64 AS INT)) & 1) = 1")
             for e in bloom_pos_spark("CAST(o_custkey AS STRING)")]
    orders = load_table(spark, sf_dir, "orders")
    passed = orders.filter(probe[0] & probe[1] & probe[2])
    np_ = passed.agg(F.count("*").cast("long").alias("n_bloom_pass"))
    return (passed.join(bld.select("c_custkey"),
                        passed.o_custkey == F.col("c_custkey"))
            .groupBy(F.col("o_orderpriority").alias("priority"))
            .agg(F.count("*").cast("long").alias("n_orders"),
                 dsum("o_totalprice", "revenue"))
            .crossJoin(np_))


@register("agg_ttest_welch", oracle="""
WITH s AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(value AS DECIMAL(20,6))) AS sx,
         SUM(CAST(value AS DECIMAL(20,6))
             * CAST(value AS DECIMAL(18,6))) AS sxx
  FROM events GROUP BY event_type
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS tn, SUM(sx) AS tsx, SUM(sxx) AS tsxx
  FROM s
), d AS (
  SELECT s.event_type,
         CAST(s.n AS DOUBLE) AS na, CAST(s.sx AS DOUBLE) AS sxa,
         CAST(s.sxx AS DOUBLE) AS sxxa,
         CAST(t.tn - s.n AS DOUBLE) AS nb,
         CAST(t.tsx - s.sx AS DOUBLE) AS sxb,
         CAST(t.tsxx - s.sxx AS DOUBLE) AS sxxb
  FROM s CROSS JOIN tot t
), v AS (
  SELECT event_type, na, nb,
         sxa / na - sxb / nb AS mean_diff,
         ((sxxa - sxa * sxa / na) / (na - 1)) / na AS va_n,
         ((sxxb - sxb * sxb / nb) / (nb - 1)) / nb AS vb_n
  FROM d
)
SELECT event_type, CAST(na AS BIGINT) AS n_group,
       ROUND(mean_diff, 6) AS mean_diff,
       ROUND(mean_diff / sqrt(va_n + vb_n), 6) AS t_stat,
       ROUND((va_n + vb_n) * (va_n + vb_n)
             / (va_n * va_n / (na - 1) + vb_n * vb_n / (nb - 1)), 6)
         AS df_welch
FROM v
""", doc="Welch's two-sample t-test of each event type's value "
         "distribution against all other events — the A/B-test "
         "significance readout (unequal variances, "
         "Welch-Satterthwaite df), and the experiment-analysis "
         "primitive an event pipeline serves constantly. "
         "Determinism: the only data-sized reductions are the "
         "per-type (n, sum, sum-of-squares) moment sums as EXACT "
         "decimals (order-free; one operand widened past 18 digits "
         "to force int128 in the oracle engine — the agg_corr_covar "
         "convention); the 'rest' group's moments are decimal "
         "DIFFERENCES of the broadcast 1-row totals (exact), so each "
         "type never rescans the complement, and the t statistic / "
         "df are one fixed double tree whose only irrational op is "
         "the final sqrt. Scale shape: ONE map-side-combined "
         "|types|-row agg; the totals row broadcasts back; nothing "
         "downstream touches corpus rows.")
def agg_ttest_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    vd, vn = (F.col("value").cast(t)
              for t in ("decimal(20,6)", "decimal(18,6)"))
    s = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(vd).alias("sx"),
        F.sum(vd * vn).alias("sxx"))
    tot = s.agg(F.sum("n").cast("long").alias("tn"),
                F.sum("sx").alias("tsx"),
                F.sum("sxx").alias("tsxx"))
    d = s.crossJoin(tot).select(
        "event_type",
        F.col("n").cast("double").alias("na"),
        F.col("sx").cast("double").alias("sxa"),
        F.col("sxx").cast("double").alias("sxxa"),
        (F.col("tn") - F.col("n")).cast("double").alias("nb"),
        (F.col("tsx") - F.col("sx")).cast("double").alias("sxb"),
        (F.col("tsxx") - F.col("sxx")).cast("double").alias("sxxb"))
    na, nb = F.col("na"), F.col("nb")
    v = d.select(
        "event_type", na, nb,
        (F.col("sxa") / na - F.col("sxb") / nb).alias("mean_diff"),
        (((F.col("sxxa") - F.col("sxa") * F.col("sxa") / na)
          / (na - 1)) / na).alias("va_n"),
        (((F.col("sxxb") - F.col("sxb") * F.col("sxb") / nb)
          / (nb - 1)) / nb).alias("vb_n"))
    va, vb = F.col("va_n"), F.col("vb_n")
    return v.select(
        "event_type", na.cast("long").alias("n_group"),
        F.round("mean_diff", 6).alias("mean_diff"),
        F.round(F.col("mean_diff") / F.sqrt(va + vb), 6).alias("t_stat"),
        F.round((va + vb) * (va + vb)
                / (va * va / (na - 1) + vb * vb / (nb - 1)), 6)
        .alias("df_welch"))


@register("agg_chi2_independence", oracle="""
WITH o AS (
  SELECT event_type, epoch_ns(ts) // 3600000000000 % 24 AS hod,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), m AS (
  SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_row FROM o GROUP BY 1
), h AS (
  SELECT hod, CAST(SUM(n) AS BIGINT) AS n_col FROM o GROUP BY 1
), t AS (
  SELECT CAST(SUM(n) AS BIGINT) AS total FROM o
), c AS (
  SELECT o.event_type, o.hod, o.n, m.n_row, h.n_col, t.total,
         CAST(m.n_row AS DOUBLE) * h.n_col / t.total AS expected
  FROM o JOIN m USING (event_type) JOIN h USING (hod) CROSS JOIN t
)
SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
       CAST(COUNT(DISTINCT hod) AS BIGINT) AS n_hours,
       CAST((COUNT(DISTINCT event_type) - 1)
            * (COUNT(DISTINCT hod) - 1) AS BIGINT) AS dof,
       ROUND(SUM(ROUND((n - expected) * (n - expected) / expected, 9)),
             6) AS chi2
FROM c
""", doc="Chi-squared test of independence over the event_type x "
         "hour-of-day contingency table — the categorical drift/"
         "dependence readout next to agg_ttest_welch's numeric one "
         "(is traffic mix time-of-day dependent?): observed cell "
         "counts and both margins are exact integer aggs; expected = "
         "row*col/total is one double expression per CELL of the "
         "tiny |types|x24 table; and because a SUM of doubles is "
         "order-dependent, each cell's chi2 term is pre-rounded to 9 "
         "decimals and the 120-term sum of coarse dyadic-safe values "
         "stays bit-stable under any addition order both engines "
         "pick (the text_dsir quantize-before-reduce move, in float "
         "form). Scale shape: ONE map-side-combined (type, hod) "
         "count; margins/expected/statistic all on the aggregate.")
def agg_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # The contingency table is |types| x 24 rows but sits on the one
    # corpus-sized aggregation; materialized once so the marginals and
    # total branches don't each re-derive the events shuffle (r08 plan
    # audit: 4 events scans).
    o = truncated_checkpoint(
        ev.groupBy("event_type",
                   F.expr("ts div 3600000000000 % 24").alias("hod"))
        .agg(F.count("*").cast("long").alias("n")))
    m = o.groupBy("event_type").agg(F.sum("n").cast("long").alias("n_row"))
    h = o.groupBy("hod").agg(F.sum("n").cast("long").alias("n_col"))
    t = o.agg(F.sum("n").cast("long").alias("total"))
    c = (o.join(m, "event_type")
         .join(h, "hod")
         .crossJoin(t)
         .withColumn("expected",
                     F.col("n_row").cast("double") * F.col("n_col")
                     / F.col("total")))
    term = F.round((F.col("n") - F.col("expected"))
                   * (F.col("n") - F.col("expected"))
                   / F.col("expected"), 9)
    return c.agg(
        F.countDistinct("event_type").cast("long").alias("n_types"),
        F.countDistinct("hod").cast("long").alias("n_hours"),
        ((F.countDistinct("event_type") - 1)
         * (F.countDistinct("hod") - 1)).cast("long").alias("dof"),
        F.round(F.sum(term), 6).alias("chi2"))


@register("agg_mannwhitney_u", oracle="""
WITH d AS (
  SELECT value,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS ca,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS cb
  FROM events WHERE event_type IN ('click', 'purchase')
  GROUP BY value
), o AS (
  SELECT ca, cb,
         COALESCE(SUM(cb) OVER (ORDER BY value
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS cumb
  FROM d
), s AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb,
         CAST(SUM(ca * (2 * cumb + cb)) AS BIGINT) AS u2,
         CAST(SUM((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb))
              AS BIGINT) AS tie3
  FROM o
)
SELECT na AS n_a, nb AS n_b, u2,
       ROUND(u2 / 2.0, 6) AS u_stat,
       ROUND((u2 / 2.0 - CAST(na AS DOUBLE) * nb / 2)
             / sqrt(CAST(na AS DOUBLE) * nb / 12
                    * ((na + nb + 1)
                       - CAST(tie3 AS DOUBLE)
                         / ((na + nb) * (na + nb - 1.0)))), 6)
         AS z_approx
FROM s
""", doc="Mann-Whitney U — the rank-based (non-parametric) two-sample "
         "test next to agg_ttest_welch's parametric one, comparing "
         "click vs purchase value distributions without any "
         "normality assumption: U counts cross-group dominating "
         "pairs with half-credit ties, computed EXACTLY as 2U = "
         "sum_v ca(v)*(2*cumB_below(v) + cb(v)) over the DISTINCT-"
         "VALUE count table (the profile_key_skew count-of-counts "
         "move), with the tie-corrected normal z from integer tie "
         "sums. The cumulative-below term is the classic global-"
         "window scale-killer — ``SUM(w) OVER (ORDER BY value)`` "
         "funnels the corpus through one task — so the Spark plan "
         "runs operators.ranks.attach_prefix_sum: the distributed "
         "ranker generalized to WEIGHTED exclusive prefix sums "
         "(sampled range boundaries, per-range weight totals "
         "cumsummed on the driver, pid-partitioned running sum — no "
         "unpartitioned window at ANY cardinality, plan-pinned). "
         "Every reduction is integer-exact; the only doubles are the "
         "final fixed z/U expression tree, sqrt-only.")
def agg_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranks import attach_prefix_sum
    ev = load_table(spark, sf_dir, "events")
    d = (ev.filter(F.col("event_type").isin("click", "purchase"))
         .groupBy("value")
         .agg(F.sum(F.when(F.col("event_type") == "click", 1)
                    .otherwise(0)).cast("long").alias("ca"),
              F.sum(F.when(F.col("event_type") == "purchase", 1)
                    .otherwise(0)).cast("long").alias("cb")))
    # The distinct-value frame feeds the prefix-sum's two prep jobs
    # plus the ranked plan; materialize once.
    d = truncated_checkpoint(d)
    o = attach_prefix_sum(d, [("value", "asc")],
                          weight_col="cb", out_col="cumb")
    t = F.col("ca") + F.col("cb")
    s = o.agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
        F.sum(F.col("ca") * (2 * F.col("cumb") + F.col("cb")))
        .cast("long").alias("u2"),
        F.sum(t * t * t - t).cast("long").alias("tie3"))
    na, nb, u2 = F.col("na"), F.col("nb"), F.col("u2")
    nad, tie3 = na.cast("double"), F.col("tie3")
    return s.select(
        na.alias("n_a"), nb.alias("n_b"), u2.alias("u2"),
        F.round(u2 / 2.0, 6).alias("u_stat"),
        F.round((u2 / 2.0 - nad * nb / 2)
                / F.sqrt(nad * nb / 12
                         * ((na + nb + 1)
                            - tie3.cast("double")
                              / ((na + nb) * (na + nb - F.lit(1.0))))), 6)
        .alias("z_approx"))


@register("agg_ks_statistic", oracle="""
WITH d AS (
  SELECT value,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS ca,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS cb
  FROM events WHERE event_type IN ('click', 'purchase')
  GROUP BY value
), o AS (
  SELECT value,
         CAST(SUM(ca) OVER (ORDER BY value
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cuma,
         CAST(SUM(cb) OVER (ORDER BY value
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumb
  FROM d
), n AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
  FROM d
), g AS (
  SELECT o.value, n.na, n.nb,
         abs(o.cuma * n.nb - o.cumb * n.na) AS gap
  FROM o CROSS JOIN n
), best AS (
  SELECT na, nb, gap, value,
         row_number() OVER (ORDER BY gap DESC, value) AS rn
  FROM g
)
SELECT na AS n_a, nb AS n_b,
       gap AS d_numerator,
       ROUND(CAST(gap AS DOUBLE) / (CAST(na AS DOUBLE) * nb), 6)
         AS ks_d,
       ROUND(value, 6) AS at_value
FROM best WHERE rn = 1
""", doc="Two-sample Kolmogorov-Smirnov statistic — the distribution-"
         "shape test completing the two-sample family (Welch = means, "
         "Mann-Whitney = stochastic dominance, KS = max CDF gap, the "
         "distribution-drift gate ML data validation suites run): "
         "D = max_v |F_a(v) - F_b(v)| evaluated EXACTLY as the "
         "integer argmax of |cumA(v)*nB - cumB(v)*nA| over distinct "
         "values (cross-multiplied CDFs — no float compare decides "
         "the argmax), with the INCLUSIVE cumulative counts of BOTH "
         "groups attached in ONE attach_prefix_sum pass (the "
         "multi-weight form: one sample, one totals collect, one "
         "Window evaluating both running sums). D itself is one "
         "final division; the witness value rides along. The "
         "TakeOrdered top-1 with value tiebreak replaces any global "
         "sort. Scale shape: everything after the map-side-combined "
         "distinct-value pre-agg is bounded by |distinct values|, "
         "partitioned throughout.")
def agg_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranks import attach_prefix_sum
    ev = load_table(spark, sf_dir, "events")
    d = (ev.filter(F.col("event_type").isin("click", "purchase"))
         .groupBy("value")
         .agg(F.sum(F.when(F.col("event_type") == "click", 1)
                    .otherwise(0)).cast("long").alias("ca"),
              F.sum(F.when(F.col("event_type") == "purchase", 1)
                    .otherwise(0)).cast("long").alias("cb")))
    d = truncated_checkpoint(d)
    o = attach_prefix_sum(d, [("value", "asc")],
                          weights={"cuma_excl": "ca", "cumb_excl": "cb"})
    # inclusive cumulative = exclusive prefix + own count (row-local).
    o = o.select(
        "value",
        (F.col("cuma_excl") + F.col("ca")).alias("cuma"),
        (F.col("cumb_excl") + F.col("cb")).alias("cumb"))
    n = d.agg(F.sum("ca").cast("long").alias("na"),
              F.sum("cb").cast("long").alias("nb"))
    g = o.crossJoin(n).select(
        "value", "na", "nb",
        F.abs(F.col("cuma") * F.col("nb")
              - F.col("cumb") * F.col("na")).cast("long").alias("gap"))
    best = g.orderBy(F.desc("gap"), "value").limit(1)
    return best.select(
        F.col("na").alias("n_a"), F.col("nb").alias("n_b"),
        F.col("gap").alias("d_numerator"),
        F.round(F.col("gap").cast("double")
                / (F.col("na").cast("double") * F.col("nb")), 6)
        .alias("ks_d"),
        F.round("value", 6).alias("at_value"))


#: Incremental-view cutoff: rows before it are the materialized BASE,
#: rows on/after it are the DELTA a refresh folds in.
_IVM_CUTOFF = "1997-01-01"


@register("agg_incremental_view_merge", oracle=f"""
WITH parts AS (
  SELECT o_orderpriority AS priority,
         CAST(year(o_orderdate) AS BIGINT) AS yr,
         CASE WHEN o_orderdate < TIMESTAMP '{_IVM_CUTOFF} 00:00:00'
              THEN 1 ELSE 0 END AS is_base,
         CAST(o_totalprice AS DECIMAL(18,6)) AS tp
  FROM orders
)
SELECT priority, yr,
       CAST(SUM(is_base) AS BIGINT) AS n_base,
       CAST(SUM(1 - is_base) AS BIGINT) AS n_delta,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(tp) AS DOUBLE) AS sum_total
FROM parts GROUP BY priority, yr
""", doc="Incremental materialized-view maintenance (IVM — what "
         "Materialize/Delta Live Tables/the Snowflake MV refresher "
         "do): the view per-(priority, order-year) order counts and "
         "exact-decimal revenue is maintained as BASE partials (rows "
         "before the cutoff — the state a nightly job persisted) "
         "merged with DELTA partials (the new rows) by one "
         "full-outer join + partial addition, NEVER a base-table "
         "rescan.  The oracle recomputes the view from scratch over "
         "the whole table, so the hash gate IS the algebraic "
         "refresh-equivalence proof: count and decimal-SUM are "
         "commutative-monoid aggregates, merge(base, delta) == "
         "recompute(all) bit-for-bit (the same property that makes "
         "them map-side combinable; a COUNT DISTINCT would need a "
         "sketch — agg_sketch_merge_hll is that query).  The "
         "provenance columns n_base/n_delta pin that both sides "
         "actually contributed.  Scale shape: refresh cost is "
         "O(|delta| + |view|), not O(|table|) — the delta agg "
         "map-side combines, the merge join keys on the view's "
         "(priority, yr) grain (tiny), and at 100 TB the base "
         "partials live as a table read by one scan; nothing "
         "touches historical facts.")
def agg_incremental_view_merge(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cutoff = F.lit(_IVM_CUTOFF).cast("timestamp")

    def partials(df: DataFrame, n_alias: str) -> DataFrame:
        return (df.groupBy(F.col("o_orderpriority").alias("priority"),
                           F.year("o_orderdate").cast("long").alias("yr"))
                .agg(F.count("*").cast("long").alias(n_alias),
                     F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
                     .alias(f"s_{n_alias}")))

    base = partials(o.filter(F.col("o_orderdate") < cutoff), "n_base")
    delta = partials(o.filter(F.col("o_orderdate") >= cutoff), "n_delta")
    return (base.join(delta, ["priority", "yr"], "full_outer")
            .select("priority", "yr",
                    F.coalesce("n_base", F.lit(0)).cast("long")
                    .alias("n_base"),
                    F.coalesce("n_delta", F.lit(0)).cast("long")
                    .alias("n_delta"),
                    (F.coalesce("n_base", F.lit(0))
                     + F.coalesce("n_delta", F.lit(0))).cast("long")
                    .alias("n_orders"),
                    (F.coalesce(F.col("s_n_base"),
                                F.lit(0).cast("decimal(18,6)"))
                     + F.coalesce(F.col("s_n_delta"),
                                  F.lit(0).cast("decimal(18,6)")))
                    .cast("double").alias("sum_total")))


@register("agg_log2_histogram", oracle="""
WITH b AS (
  SELECT event_type,
         CAST(length(bin(CAST(floor(value * 1000000.0) AS BIGINT)))
              - 1 AS BIGINT) AS bucket
  FROM events
)
SELECT event_type, bucket,
       CAST(1 AS BIGINT) << CAST(bucket AS INTEGER) AS lo_micros,
       CAST(1 AS BIGINT) << CAST(bucket + 1 AS INTEGER) AS hi_micros,
       CAST(COUNT(*) AS BIGINT) AS n
FROM b GROUP BY event_type, bucket
""", doc="Log2-scaled (exponential-bucket) value histogram per event "
         "type — how latency/size distributions are actually "
         "monitored (HdrHistogram / Prometheus exponential buckets: "
         "equal-width bins waste resolution at the head and truncate "
         "the tail; log buckets give constant RELATIVE error): "
         "bucket = floor(log2(value in micros)) computed WITHOUT "
         "log() as length(bin(v)) - 1 — the binary-string length of "
         "the scaled integer, an exact integer identity both engines "
         "share, keeping the repo's no-libm bit-parity convention "
         "(agg_histogram is the equi-width sibling).  Bucket bounds "
         "[2^b, 2^(b+1)) ride along as shifted integers.  Scale "
         "shape: one map-side-combined (type, bucket) count — "
         "|types| x ~40 keys at any corpus size; nothing else.")
def agg_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bucket = F.expr("CAST(length(bin(CAST(floor(value * 1000000.0) "
                    "AS BIGINT))) - 1 AS BIGINT)")
    return (ev.select("event_type", bucket.alias("bucket"))
            .groupBy("event_type", "bucket")
            .agg(F.count("*").cast("long").alias("n"))
            .select("event_type", "bucket",
                    F.expr("shiftleft(1L, CAST(bucket AS INT))")
                    .alias("lo_micros"),
                    F.expr("shiftleft(1L, CAST(bucket AS INT) + 1)")
                    .alias("hi_micros"),
                    "n"))


#: Shared closed-form expressions for the two-factor OLS: centered
#: moments, Cramer's-rule solve and R^2 as ONE double tree both
#: engines evaluate identically (inputs are exact integer moment
#: sums; doubles appear only here).
_OLS2_DEFS = """
  CAST(sx AS DOUBLE) AS dsx, CAST(sd AS DOUBLE) AS dsd,
  CAST(sy AS DOUBLE) AS dsy, CAST(sxx AS DOUBLE) AS dsxx,
  CAST(sdd AS DOUBLE) AS dsdd, CAST(sxd AS DOUBLE) AS dsxd,
  CAST(sxy AS DOUBLE) AS dsxy, CAST(sdy AS DOUBLE) AS dsdy,
  CAST(syy AS DOUBLE) AS dsyy, CAST(n AS DOUBLE) AS dn
"""


@register("agg_ols_two_factor", oracle=f"""
WITH q AS (
  SELECT l_returnflag,
         CAST(floor(l_quantity + 0.5) AS BIGINT) AS xq,
         CAST(floor(l_discount * 1000 + 0.5) AS BIGINT) AS xd,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS yc
  FROM lineitem
), m AS (
  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(xq AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(CAST(xd AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sd,
         CAST(SUM(CAST(yc AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
         CAST(SUM(CAST(xq * xq AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx,
         CAST(SUM(CAST(xd * xd AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sdd,
         CAST(SUM(CAST(xq * xd AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxd,
         CAST(SUM(CAST(xq * yc AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy,
         CAST(SUM(CAST(xd * yc AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sdy,
         CAST(SUM(CAST(yc * yc AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syy
  FROM q GROUP BY l_returnflag
), d AS (
  SELECT l_returnflag, n, {_OLS2_DEFS}
  FROM m
), c AS (
  SELECT l_returnflag, n,
         dsxx - dsx * dsx / dn AS s11,
         dsdd - dsd * dsd / dn AS s22,
         dsxd - dsx * dsd / dn AS s12,
         dsxy - dsx * dsy / dn AS s1y,
         dsdy - dsd * dsy / dn AS s2y,
         dsyy - dsy * dsy / dn AS syy_c,
         dsx / dn AS mx, dsd / dn AS md, dsy / dn AS my
  FROM d
), s AS (
  SELECT l_returnflag, n,
         (s1y * s22 - s2y * s12) / (s11 * s22 - s12 * s12) AS b1,
         (s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12) AS b2,
         s1y, s2y, syy_c, mx, md, my
  FROM c
)
SELECT l_returnflag, n,
       ROUND(my - b1 * mx - b2 * md, 6) AS intercept_cents,
       ROUND(b1, 6) AS beta_qty,
       ROUND(b2, 6) AS beta_disc_milli,
       ROUND((b1 * s1y + b2 * s2y) / syy_c, 6) AS r2
FROM s
""", doc="Grouped TWO-predictor OLS in closed form — multiple "
         "regression extending agg_ols_by_group's single factor: "
         "extendedprice (cents) on quantity and discount (milli) per "
         "returnflag, solved by Cramer's rule on the 2x2 centered "
         "normal equations.  Inputs floor-quantize to integers "
         "(+0.5 before floor: the doubles are identical on both "
         "engines, so the rounding is too) and ALL nine moment sums "
         "are exact DECIMAL(38,0) — order-free; doubles appear only "
         "in the final closed-form tree, written ONCE and evaluated "
         "with the identical nesting on both engines, outputs "
         "rounded at 6dp.  Fit millions of per-group 2-factor "
         "models with zero iterative solving.  Scale shape: one "
         "map-side-combined moment agg (9 sums + count per group); "
         "the solve runs on the |groups|-row aggregate.")
def agg_ols_two_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    q = li.selectExpr(
        "l_returnflag",
        "CAST(floor(l_quantity + 0.5) AS BIGINT) AS xq",
        "CAST(floor(l_discount * 1000 + 0.5) AS BIGINT) AS xd",
        "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS yc")
    dec = "decimal(38,0)"
    m = (q.groupBy("l_returnflag")
         .agg(F.count("*").cast("long").alias("n"),
              F.sum(F.col("xq").cast(dec)).alias("sx"),
              F.sum(F.col("xd").cast(dec)).alias("sd"),
              F.sum(F.col("yc").cast(dec)).alias("sy"),
              F.sum((F.col("xq") * F.col("xq")).cast(dec)).alias("sxx"),
              F.sum((F.col("xd") * F.col("xd")).cast(dec)).alias("sdd"),
              F.sum((F.col("xq") * F.col("xd")).cast(dec)).alias("sxd"),
              F.sum((F.col("xq") * F.col("yc")).cast(dec)).alias("sxy"),
              F.sum((F.col("xd") * F.col("yc")).cast(dec)).alias("sdy"),
              F.sum((F.col("yc") * F.col("yc")).cast(dec)).alias("syy")))
    d = m.selectExpr("l_returnflag", "n", *[
        e.strip() for e in _OLS2_DEFS.split(",")])
    c = d.selectExpr(
        "l_returnflag", "n",
        "dsxx - dsx * dsx / dn AS s11",
        "dsdd - dsd * dsd / dn AS s22",
        "dsxd - dsx * dsd / dn AS s12",
        "dsxy - dsx * dsy / dn AS s1y",
        "dsdy - dsd * dsy / dn AS s2y",
        "dsyy - dsy * dsy / dn AS syy_c",
        "dsx / dn AS mx", "dsd / dn AS md", "dsy / dn AS my")
    s = c.selectExpr(
        "l_returnflag", "n",
        "(s1y * s22 - s2y * s12) / (s11 * s22 - s12 * s12) AS b1",
        "(s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12) AS b2",
        "s1y", "s2y", "syy_c", "mx", "md", "my")
    return s.selectExpr(
        "l_returnflag", "n",
        "ROUND(my - b1 * mx - b2 * md, 6) AS intercept_cents",
        "ROUND(b1, 6) AS beta_qty",
        "ROUND(b2, 6) AS beta_disc_milli",
        "ROUND((b1 * s1y + b2 * s2y) / syy_c, 6) AS r2")


@register("parts_skyline_pareto", oracle="""
WITH agg AS (
  SELECT p_size, CAST(floor(MIN(p_retailprice) * 100 + 0.5) AS BIGINT)
           AS best_cents
  FROM part GROUP BY p_size
), sky AS (
  SELECT p_size, best_cents,
         MIN(best_cents) OVER (ORDER BY p_size DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS better_above
  FROM agg
)
SELECT p_size, best_cents,
       CASE WHEN better_above IS NULL OR best_cents < better_above
            THEN 1 ELSE 0 END AS on_skyline
FROM sky
""", doc="Pareto-dominance skyline (maximize size, minimize price) — "
         "the multi-objective selection operator SQL standardized as "
         "SKYLINE OF and Spark never shipped: a point is on the "
         "skyline iff no other point is at least as good on both "
         "axes and better on one.  The naive formulation is an "
         "all-pairs dominance anti-join (quadratic); the scalable "
         "rewrite here AGGREGATES FIRST — per size, the best "
         "(cheapest) price, a map-side-combined |sizes|-key agg — "
         "then resolves dominance on the tiny aggregate with ONE "
         "running-min window ordered by size descending: a size is "
         "dominated iff some strictly larger size is at least as "
         "cheap.  Every original size rides out with its "
         "on_skyline flag, so the dominance decisions themselves "
         "are hash-checked.  Prices floor-quantize to integer "
         "cents (+0.5: identical doubles, identical rounding).  "
         "Scale shape: the corpus term is the one pre-agg; the "
         "window runs over <=|distinct sizes| rows — the skyline "
         "generalization to k objectives batches the same pre-agg "
         "per objective pair.")
def parts_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    agg = (p.groupBy("p_size")
           .agg(F.expr("CAST(floor(MIN(p_retailprice) * 100 + 0.5) "
                       "AS BIGINT)").alias("best_cents")))
    w = (W.orderBy(F.desc("p_size"))
         .rowsBetween(W.unboundedPreceding, -1))
    sky = agg.select("p_size", "best_cents",
                     F.min("best_cents").over(w).alias("better_above"))
    return sky.select(
        "p_size", "best_cents",
        F.when(F.col("better_above").isNull()
               | (F.col("best_cents") < F.col("better_above")), 1)
        .otherwise(0).alias("on_skyline"))
