"""Deterministic sampling / split assignment (north-star ⊕): the two
sampling primitives a training-data pipeline runs constantly.

Both are HASH-gated, not rand()-gated: `rand()` is neither engine-
portable nor stable under retries/re-partitioning, so a production
sample must key off a content hash. md5-derived 60-bit uniform ints
(the same portable-hash convention as operators/dedup.shingle_hashes)
make the sample reproducible bit-for-bit in any engine — the oracle
replays the identical gate.

Scale: each query is one shuffle-free projection + filter; the
predicate is sargable-adjacent (a cheap per-row hash), so a 100 TB
sample is a single scan with no driver involvement and no skew (md5 is
uniform regardless of key distribution).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.checkpoint import truncated_checkpoint
from ..operators.dedup import perm_params
from ..sources.tables import load_table
from .base import register


def _u100_spark(key_sql: str) -> str:
    """Uniform [0,100) int from a key expression (Spark SQL spelling)."""
    return (f"pmod(CAST(conv(substring(md5({key_sql}), 1, 15), 16, 10)"
            f" AS BIGINT), 100)")


def _u100_duck(key_sql: str) -> str:
    """The identical gate in DuckDB spelling."""
    return f"(CAST('0x' || substr(md5({key_sql}), 1, 15) AS BIGINT) % 100)"


def _u1000_spark(key_sql: str) -> str:
    """Uniform [0,1000) int — milli-probability gates."""
    return (f"pmod(CAST(conv(substring(md5({key_sql}), 1, 15), 16, 10)"
            f" AS BIGINT), 1000)")


def _u1000_duck(key_sql: str) -> str:
    return f"(CAST('0x' || substr(md5({key_sql}), 1, 15) AS BIGINT) % 1000)"


#: Per-stratum sample percentages for the stratified query.
_RATES = {"A": 2, "N": 1, "R": 5}
_RATE_SPARK = ("CASE l_returnflag " +
               " ".join(f"WHEN '{k}' THEN {v}" for k, v in _RATES.items()) +
               " ELSE 0 END")

_LI_KEY_SPARK = ("concat(CAST(l_orderkey AS STRING), '-',"
                 " CAST(l_linenumber AS STRING))")
_LI_KEY_DUCK = ("CAST(l_orderkey AS VARCHAR) || '-'"
                " || CAST(l_linenumber AS VARCHAR)")


@register("sample_hash_stratified", oracle=f"""
SELECT l_orderkey, l_linenumber, l_returnflag,
       {_u100_duck(_LI_KEY_DUCK)} AS hash_bucket
FROM lineitem
WHERE {_u100_duck(_LI_KEY_DUCK)} <
      CASE l_returnflag WHEN 'A' THEN 2 WHEN 'N' THEN 1
                        WHEN 'R' THEN 5 ELSE 0 END
""", doc="Stratified sampling with per-stratum rates (A:2%, N:1%, "
         "R:5%) gated on a portable md5 hash of the row key — "
         "reproducible under retries, engine-portable, skew-free. One "
         "scan, no shuffle; the sample rate per stratum is exact in "
         "expectation and independent of data order.")
def sample_hash_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    u = F.expr(_u100_spark(_LI_KEY_SPARK))
    return (li.select("l_orderkey", "l_linenumber", "l_returnflag",
                      u.alias("hash_bucket"))
            .filter(F.col("hash_bucket") < F.expr(_RATE_SPARK)))


@register("split_train_val_test", oracle=f"""
SELECT CASE WHEN {_u100_duck('CAST(doc_id AS VARCHAR)')} < 90 THEN 'train'
            WHEN {_u100_duck('CAST(doc_id AS VARCHAR)')} < 95 THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id
FROM documents
GROUP BY 1
""", doc="Deterministic train/val/test assignment (90/5/5) by content "
         "hash — the split a doc lands in never changes as the corpus "
         "grows or re-partitions, unlike rand()-based splits. "
         "Aggregated per split for a bounded result.")
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    u = F.expr(_u100_spark("CAST(doc_id AS STRING)"))
    split = (F.when(u < 90, "train").when(u < 95, "val")
             .otherwise("test").alias("split"))
    return (docs.select(split, "doc_id")
            .groupBy("split")
            .agg(F.count("*").alias("n_docs"),
                 F.min("doc_id").alias("min_doc_id"),
                 F.max("doc_id").alias("max_doc_id")))


def _pipeline_oracle() -> str:
    from .text import _SW_SQL
    gate = f"""len(string_split(text, ' ')) BETWEEN 30 AND 100000
    AND CAST(length(replace(text, ' ', '')) AS DOUBLE)
          / len(string_split(text, ' ')) BETWEEN 3 AND 10
    AND len(list_filter(string_split(text, ' '),
                        w -> w IN ({_SW_SQL}))) >= 2
    AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
          / len(string_split(text, ' ')) >= 0.2"""
    return f"""
WITH gated AS (
  SELECT doc_id, text FROM documents
  WHERE {gate}
), ranked AS (
  SELECT doc_id, text,
         row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
  FROM gated
), kept AS (
  SELECT doc_id, text FROM ranked WHERE rn = 1
)
SELECT CASE WHEN {_u100_duck("CAST(doc_id AS VARCHAR)")} < 90 THEN 'train'
            WHEN {_u100_duck("CAST(doc_id AS VARCHAR)")} < 95 THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
FROM kept GROUP BY 1
"""


@register("pipeline_training_data", oracle=_pipeline_oracle(),
          doc="The end-to-end training-data pipeline as ONE dataflow: "
              "Gopher-style quality gate (scan-side projection+filter, "
              "no shuffle) -> exact dedup keeping the lowest doc_id per "
              "text (one window/agg shuffle) -> deterministic hash "
              "split -> per-split doc and token counts. The composition "
              "query: every stage is an operator the registry also "
              "verifies in isolation, chained the way a real corpus "
              "build chains them.")
def pipeline_training_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    from .text import STOPWORDS
    docs = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_words = F.size(words)
    sw = ", ".join(f"'{w}'" for w in STOPWORDS)
    gated = docs.filter(
        n_words.between(30, 100000)
        & (F.length(F.regexp_replace("text", " ", "")).cast("double")
           / n_words).between(3, 10)
        & (F.expr(f"size(filter(split(text, ' '),"
                  f" w -> w IN ({sw})))") >= 2)
        & ((F.size(F.array_distinct(words)).cast("double") / n_words)
           >= 0.2))
    w = W.partitionBy("text").orderBy("doc_id")
    kept = (gated.select("doc_id", "text",
                         F.row_number().over(w).alias("rn"))
            .filter(F.col("rn") == 1))
    u = F.expr(_u100_spark("CAST(doc_id AS STRING)"))
    split = (F.when(u < 90, "train").when(u < 95, "val")
             .otherwise("test").alias("split"))
    return (kept.select(split, F.size(F.split("text", " ")).alias("n_w"))
            .groupBy("split")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_w").alias("n_tokens")))


def _u1e6_spark(key_sql: str) -> str:
    """Uniform [0,1e6) int from a key expression (finer-grained gate)."""
    return (f"pmod(CAST(conv(substring(md5({key_sql}), 1, 15), 16, 10)"
            f" AS BIGINT), 1000000)")


def _u1e6_duck(key_sql: str) -> str:
    return f"(CAST('0x' || substr(md5({key_sql}), 1, 15) AS BIGINT) % 1000000)"


@register("sample_balance_classes", oracle=f"""
WITH cnt AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
m AS (SELECT MIN(n) AS min_n FROM cnt),
gated AS (
  SELECT d.lang
  FROM documents d
  JOIN cnt USING (lang) CROSS JOIN m
  WHERE {_u1e6_duck('CAST(doc_id AS VARCHAR)')} < (1000000 * min_n) // n)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept
FROM gated GROUP BY lang
""", doc="Class rebalancing: downsample every language class toward "
         "the smallest class's size with a per-class hash-rate gate "
         "(rate = min_count/class_count, applied as exact integer "
         "arithmetic on an md5-derived uniform int). One scan plus a "
         "broadcast of per-class rates — NO per-class window/sort, so "
         "a 100 TB majority class never funnels into one partition; "
         "the trade is exact-in-expectation (binomial noise around "
         "min_count) rather than exactly-min_count, which a "
         "rank-based cut would buy at the cost of that funnel.")
def sample_balance_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cnt = docs.groupBy("lang").agg(F.count("*").alias("n"))
    m = cnt.agg(F.min("n").alias("min_n"))
    rates = cnt.join(m).select(
        "lang", F.expr("(1000000 * min_n) div n").alias("keep_below"))
    u = F.expr(_u1e6_spark("CAST(doc_id AS STRING)"))
    # rates is one row per language; Spark sizes a grouped aggregate
    # at its input's size.
    return (docs.select("lang", u.alias("u"))
            .join(F.broadcast(rates), "lang")
            .filter(F.col("u") < F.col("keep_below"))
            .groupBy("lang")
            .agg(F.count("*").alias("n_kept")))


@register("sample_stratified_exact_k", oracle="""
SELECT source, doc_id, CAST(pick_rank AS BIGINT) AS pick_rank FROM (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS pick_rank
  FROM documents
) WHERE pick_rank <= 20
""", doc="Exact-k stratified sampling: EXACTLY 20 documents per "
         "source stratum, chosen by ranking each stratum on "
         "md5(doc_id) — a deterministic stand-in for a random draw "
         "that every engine (and every re-run) reproduces, where "
         "hash-GATED rates (sample_hash_stratified) give only "
         "expected counts. This is the eval-set / per-source-quota "
         "construction a training pipeline needs when the budget is "
         "a hard row count. Scale shape: top-k per group via one "
         "window over the stratum partitioning; at 100 TB the same "
         "query first gates on a hash threshold a little above "
         "k/|stratum| (scan-side filter, no shuffle) so the exact "
         "window only ranks a small superset of survivors.")
def sample_stratified_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    docs = load_table(spark, sf_dir, "documents")
    w = (W.partitionBy("source")
         .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id"))
    return (docs.select("source", "doc_id",
                        F.row_number().over(w).cast("long")
                         .alias("pick_rank"))
            .filter(F.col("pick_rank") <= 20))


@register("source_mixture_weights", oracle="""
WITH s AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS n_chars
  FROM documents GROUP BY source
), p AS (
  SELECT source, n_docs, n_chars,
         sqrt(CAST(n_chars AS DOUBLE)) AS w_raw
  FROM s
)
SELECT source, n_docs, n_chars,
       ROUND(w_raw / SUM(w_raw) OVER (), 6) AS mixture_weight,
       ROUND((w_raw / SUM(w_raw) OVER ())
             / (CAST(n_chars AS DOUBLE)
                / SUM(CAST(n_chars AS DOUBLE)) OVER ()), 6)
         AS upsample_factor
FROM p
""", doc="Temperature-sampled source mixture (the multilingual/"
         "multi-source pretraining recipe, alpha = 0.5): per-source "
         "size rollup, weight proportional to size^alpha, normalized "
         "into mixture probabilities, plus each source's upsample "
         "factor vs natural (proportional) sampling — the numbers a "
         "data-loading config actually consumes. sqrt == pow 0.5 "
         "exactly on both engines; the normalization windows run "
         "over the |sources|-row aggregate, so the whole query "
         "costs one map-side-combined rollup of the corpus.")
def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    docs = load_table(spark, sf_dir, "documents")
    s = (docs.groupBy("source")
         .agg(F.count("*").alias("n_docs"),
              F.sum(F.col("n_chars").cast("long")).alias("n_chars")))
    p = s.withColumn("w_raw", F.sqrt(F.col("n_chars").cast("double")))
    tot = W.partitionBy()
    nat = F.col("n_chars").cast("double") / F.sum(
        F.col("n_chars").cast("double")).over(tot)
    mix = F.col("w_raw") / F.sum("w_raw").over(tot)
    return p.select("source", "n_docs", "n_chars",
                    F.round(mix, 6).alias("mixture_weight"),
                    F.round(mix / nat, 6).alias("upsample_factor"))


@register("sample_quality_weighted", oracle=f"""
WITH g AS (
  SELECT doc_id, source, LEAST(1000, n_chars) AS keep_milli,
         {_u1000_duck('CAST(doc_id AS VARCHAR)')} AS u
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN u < keep_milli THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(SUM(keep_milli) AS BIGINT) AS expected_milli
FROM g GROUP BY source
""", doc="Quality-WEIGHTED deterministic sampling: each document's "
         "keep probability is its own quality score (here the "
         "length-derived min(1, n_chars/1000) — any [0,1] score "
         "column plugs in), gated per row by comparing a 60-bit "
         "md5-uniform draw against the integer-milli score — no "
         "rand(), so the kept set is reproducible under retries and "
         "identical in the oracle. This is the upsample/downsample "
         "primitive behind quality-weighted corpus mixing (keep "
         "hiqh-quality docs with p~1, low-quality with p~score). "
         "Integer milli-probabilities keep the gate exact on both "
         "engines (no float threshold). One scan, map-side-combined "
         "per-source rollup: kept counts vs the exact expected mass "
         "(sum of scores), so the sample's calibration is itself "
         "part of the checked result.")
def sample_quality_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    u = F.expr(_u1000_spark("CAST(doc_id AS STRING)"))
    keep = F.least(F.lit(1000), F.col("n_chars")).alias("keep_milli")
    g = docs.select("doc_id", "source", keep, u.alias("u"))
    return (g.groupBy("source")
            .agg(F.count("*").cast("long").alias("n_total"),
                 F.sum(F.when(F.col("u") < F.col("keep_milli"), 1)
                       .otherwise(0)).cast("long").alias("n_kept"),
                 F.sum("keep_milli").cast("long").alias("expected_milli")))


@register("sample_deterministic_upsample", oracle=f"""
WITH g AS (
  SELECT doc_id, source,
         LEAST(3000, GREATEST(1000, n_chars)) AS f_milli,
         {_u1000_duck('CAST(doc_id AS VARCHAR)')} AS u
  FROM documents
), c AS (
  SELECT doc_id, source, f_milli,
         f_milli // 1000
         + CASE WHEN u < f_milli % 1000 THEN 1 ELSE 0 END AS n_copies
  FROM g
)
SELECT doc_id, source, CAST(n_copies AS BIGINT) AS n_copies,
       CAST(unnest(range(1, n_copies + 1)) AS BIGINT) AS copy_idx
FROM c
""", doc="Deterministic UPSAMPLING by fractional factor — the "
         "execution half of source mixture weighting "
         "(source_mixture_weights computes the factors; this "
         "materializes the copies): each doc's factor (here a "
         "length-derived 1.0-3.0x in exact milli-integers) splits "
         "into floor copies plus one stochastic-rounding extra copy "
         "gated by the md5-uniform draw — expectation-exact, "
         "retry-stable, and bit-identical in the oracle (rand()-"
         "based upsampling is none of these). Each copy carries its "
         "copy_idx so downstream shuffles/splits can seed per-copy "
         "augmentation. Scale shape: one scan + a narrow "
         "explode(sequence) — output size is the mixture's token "
         "budget by construction, and no shuffle at all.")
def sample_deterministic_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    u = F.expr(_u1000_spark("CAST(doc_id AS STRING)"))
    f = F.least(F.lit(3000), F.greatest(F.lit(1000), F.col("n_chars")))
    c = docs.select(
        "doc_id", "source",
        (f.cast("long") / 1000).cast("long").alias("_floor"),
        (u < f % 1000).cast("int").alias("_extra"))
    n_copies = (F.col("_floor") + F.col("_extra")).cast("long")
    return (c.withColumn("n_copies", n_copies)
            .select("doc_id", "source", "n_copies",
                    F.explode(F.sequence(F.lit(1).cast("long"),
                                         F.col("n_copies")))
                    .alias("copy_idx")))


@register("sample_negatives_per_user", oracle="""
WITH ring AS (
  SELECT p_partkey,
         CAST('0x' || substr(md5('pb:' || p_partkey), 1, 15)
              AS BIGINT) % 64 AS b,
         row_number() OVER (
           PARTITION BY CAST('0x' || substr(md5('pb:' || p_partkey),
                             1, 15) AS BIGINT) % 64
           ORDER BY CAST('0x' || substr(md5('pr:' || p_partkey), 1, 15)
                         AS BIGINT), p_partkey) AS r
  FROM part
), sizes AS (
  SELECT b, MAX(r) AS sz FROM ring GROUP BY b
), probes AS (
  SELECT u.o_custkey, k.k,
         CAST('0x' || substr(md5('nd1:' || u.o_custkey || ':' || k.k),
              1, 15) AS BIGINT) % 64 AS b
  FROM (SELECT DISTINCT o_custkey FROM orders) u
  CROSS JOIN (SELECT unnest(range(1, 9)) AS k) k
), drawn AS (
  SELECT p.o_custkey, p.k, r.p_partkey
  FROM probes p
  JOIN sizes s ON s.b = p.b
  JOIN ring r
    ON r.b = p.b
   AND r.r = CAST('0x' || substr(md5('nd2:' || p.o_custkey || ':'
                  || p.k), 1, 15) AS BIGINT) % s.sz + 1
), pos AS (
  SELECT DISTINCT o.o_custkey, l.l_partkey
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
), neg AS (
  SELECT d.o_custkey, d.k, d.p_partkey FROM drawn d
  WHERE NOT EXISTS (SELECT 1 FROM pos p
                    WHERE p.o_custkey = d.o_custkey
                      AND p.l_partkey = d.p_partkey)
), nd AS (
  SELECT o_custkey, p_partkey, MIN(k) AS k
  FROM neg GROUP BY o_custkey, p_partkey
)
SELECT o_custkey,
       CAST(row_number() OVER (PARTITION BY o_custkey
                               ORDER BY k, p_partkey)
            AS BIGINT) AS neg_rank,
       CAST(p_partkey AS BIGINT) AS p_partkey
FROM nd QUALIFY neg_rank <= 4
""", doc="Deterministic NEGATIVE SAMPLING for recommendation/"
         "contrastive training — the complement of "
         "mine_hard_negatives' embedding-based picks: for every "
         "customer, 4 parts they did NOT buy, drawn pseudo-randomly "
         "but reproducibly (md5 draws, the repo's hash-gate "
         "convention — retry-stable and engine-portable where rand() "
         "is neither). Draws land via BUCKET-ALIAS sampling: the item "
         "catalog is hashed into 64 buckets with a per-bucket "
         "pseudo-random dense rank (a catalog-sized window, never "
         "corpus-sized), and each (user, k) draw picks bucket = "
         "md5-hash-1 mod 64, rank = md5-hash-2 mod bucket_size + 1 — "
         "an equi-join that ALWAYS hits a real item at any key "
         "distribution (the first cut drew md5 mod max(key), whose "
         "hit rate collapsed to 0.2% on the banded-keyspace 10x "
         "fixture — this is why draws must be rank-addressed, not "
         "key-addressed). The user x item cross product is NEVER "
         "built: candidates are |users| x 8 rows; an ANTI-join to the "
         "pre-deduped positives removes accidental hits; repeat draws "
         "of one part collapse to the earliest k; a per-user window "
         "ranks survivors and keeps 4 (short users re-draw with "
         "k' > 8 in production, same dataflow). At a 10^9-item "
         "catalog, scale B with catalog size and the per-bucket "
         "window stays bounded; every join is a key equi-join.")
def sample_negatives_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    h = ("CAST(conv(substring(md5(concat({args})), 1, 15), 16, 10)"
         " AS BIGINT)")
    ring_b = part.select(
        "p_partkey",
        F.expr("pmod(" + h.format(args="'pb:', p_partkey") + ", 64)")
        .alias("b"),
        F.expr(h.format(args="'pr:', p_partkey")).alias("h"))
    wb = W.partitionBy("b").orderBy("h", "p_partkey")
    ring = ring_b.select("p_partkey", "b",
                         F.row_number().over(wb).alias("r"))
    sizes = ring.groupBy("b").agg(F.max("r").alias("sz"))
    users = orders.select("o_custkey").distinct()
    probes = (users
              .select("o_custkey",
                      F.explode(F.expr("sequence(1, 8)")).alias("k"))
              .withColumn("b", F.expr(
                  "pmod(" + h.format(args="'nd1:', o_custkey, ':', k")
                  + ", 64)"))
              # sizes is one row per ring bucket (pmod 64).
              .join(F.broadcast(sizes), "b")
              .withColumn("r", F.expr(
                  "pmod(" + h.format(args="'nd2:', o_custkey, ':', k")
                  + ", sz) + 1")))
    cand = probes.join(ring, ["b", "r"]).select("o_custkey", "k",
                                                "p_partkey")
    pos = (orders.join(li, orders.o_orderkey == li.l_orderkey)
           .select("o_custkey", F.col("l_partkey").alias("p_partkey"))
           .distinct())
    neg = cand.join(pos, ["o_custkey", "p_partkey"], "anti")
    nd = (neg.groupBy("o_custkey", "p_partkey")
          .agg(F.min("k").alias("k")))
    w = W.partitionBy("o_custkey").orderBy("k", "p_partkey")
    return (nd.select("o_custkey",
                      F.row_number().over(w).cast("long")
                      .alias("neg_rank"),
                      F.col("p_partkey").cast("long").alias("p_partkey"))
            .filter(F.col("neg_rank") <= 4))


@register("sample_group_holdout", oracle=f"""
WITH tagged AS (
  SELECT user_id, event_id,
         CASE WHEN {_u100_duck("CAST(user_id AS STRING)")} < 80
              THEN 'train'
              WHEN {_u100_duck("CAST(user_id AS STRING)")} < 90
              THEN 'val' ELSE 'test' END AS split
  FROM events
), leak AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_leaked_users FROM (
    SELECT user_id FROM tagged GROUP BY user_id
    HAVING COUNT(DISTINCT split) > 1)
)
SELECT t.split,
       CAST(COUNT(DISTINCT t.user_id) AS BIGINT) AS n_users,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       l.n_leaked_users
FROM tagged t CROSS JOIN leak l
GROUP BY t.split, l.n_leaked_users
""", doc="GROUP-level holdout split — the leakage-safe sibling of "
         "split_train_val_test (row-level splitting puts one user's "
         "events in both train and test, and a model that memorizes "
         "the user aces the eval — the classic entity-leakage bug): "
         "the 80/10/10 gate hashes the USER id, so every event of a "
         "user lands in one split by construction, deterministic and "
         "retry-stable. The zero-leakage property is not an aside — "
         "it is a CHECKED COLUMN (n_leaked_users, the count of users "
         "seen in >1 split, which the oracle recomputes "
         "independently; anything but 0 is a hash mismatch). Scale "
         "shape: the split tag is a scan-side expression; the "
         "per-split rollup is one map-side-combined agg keyed on "
         "(split, user) then split; the leakage audit aggregates the "
         "same per-user frame — never an events x events join.")
def sample_group_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = F.expr(_u100_spark("CAST(user_id AS STRING)"))
    tagged = ev.select(
        "user_id", "event_id",
        F.when(u < 80, "train").when(u < 90, "val")
        .otherwise("test").alias("split"))
    per_user = (tagged.groupBy("user_id")
                .agg(F.countDistinct("split").alias("n_splits")))
    leak = per_user.agg(
        F.sum(F.when(F.col("n_splits") > 1, 1).otherwise(0))
        .cast("long").alias("n_leaked_users"))
    return (tagged.groupBy("split")
            .agg(F.countDistinct("user_id").cast("long").alias("n_users"),
                 F.count("*").cast("long").alias("n_events"))
            .crossJoin(leak))


#: Neyman total sample budget across strata.
_NEYMAN_BUDGET = 200


@register("sample_stratified_neyman", oracle=f"""
WITH s AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_h,
         CAST(SUM(CAST(n_chars AS DECIMAL(38,0))) AS DECIMAL(38,0))
           AS sx,
         CAST(SUM(CAST(n_chars AS DECIMAL(38,0))
                  * CAST(n_chars AS DECIMAL(38,0))) AS DECIMAL(38,0))
           AS sxx
  FROM documents GROUP BY lang
), w AS (
  SELECT lang, n_h,
         CASE WHEN n_h < 2 THEN CAST(0 AS BIGINT) ELSE
           CAST(floor(n_h * sqrt(
             CAST(n_h * sxx - sx * sx AS DOUBLE)
               / (n_h * (n_h - 1))) * 1000) AS BIGINT)
         END AS w_milli
  FROM s
), tw AS (
  SELECT CAST(SUM(w_milli) AS BIGINT) AS tw FROM w
), shares AS (
  SELECT w.lang, w.n_h, t.tw,
         ({_NEYMAN_BUDGET} * w.w_milli) // GREATEST(t.tw, 1) AS base,
         ({_NEYMAN_BUDGET} * w.w_milli) % GREATEST(t.tw, 1) AS rem
  FROM w CROSS JOIN tw t
), alloc AS (
  SELECT lang, n_h,
         CASE WHEN tw = 0 THEN 0 ELSE
           base + CASE WHEN row_number() OVER (ORDER BY rem DESC, lang)
                       <= {_NEYMAN_BUDGET} - SUM(base) OVER ()
                  THEN 1 ELSE 0 END
         END AS alloc
  FROM shares
), ranked AS (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                     doc_id) AS pick_rank
  FROM documents
)
SELECT r.lang, a.n_h, a.alloc, r.doc_id,
       CAST(r.pick_rank AS BIGINT) AS pick_rank
FROM ranked r JOIN alloc a ON r.lang = a.lang
WHERE r.pick_rank <= a.alloc
""", doc="Neyman-allocation stratified sampling (the OPTIMAL "
         "allocation from survey statistics: stratum share "
         "proportional to N_h * S_h, so high-variance strata get "
         "more budget and the stratified-mean variance is minimized "
         "— what proportional allocation can't do): per-lang size "
         "and stddev from exact DECIMAL(38,0) moment sums, weights "
         "floor-quantized to integer milli-units so the ENTIRE "
         "allocation — floor shares, then largest-remainder "
         "distribution of the leftover (remainders are exact "
         "integer modulos, ties by lang) — is integer arithmetic "
         "both engines replay bit-for-bit; the only float op is the "
         "row-local per-stratum sqrt.  The draw itself is the "
         "exact-k md5-rank pattern (sample_stratified_exact_k) "
         "against the computed quota.  Scale shape: one map-side-"
         "combined |strata|-row moment agg; allocation runs on that "
         "tiny aggregate; the draw is one stratum-partitioned "
         "window (at 100 TB: pre-gate on a hash threshold above "
         "alloc/|stratum| first); the quota table broadcast-joins "
         "back.")
def sample_stratified_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    docs = load_table(spark, sf_dir, "documents")
    b = _NEYMAN_BUDGET
    s = (docs.groupBy("lang")
         .agg(F.count("*").cast("long").alias("n_h"),
              F.sum(F.col("n_chars").cast("decimal(38,0)")).alias("sx"),
              F.sum(F.col("n_chars").cast("decimal(38,0)")
                    * F.col("n_chars").cast("decimal(38,0)"))
              .alias("sxx")))
    # Singleton-stratum guard: n_h = 1 makes the variance term 0/0 ->
    # NaN, whose BIGINT cast is engine-divergent (Spark: NULL, silently
    # dropping the stratum; DuckDB: a hard cast error).  A 1-doc
    # stratum has no measurable variance, so its Neyman weight is
    # DEFINED as 0 on both sides.  The pathological all-singleton
    # corpus zeroes tw; GREATEST(tw, 1) keeps the divide defined on
    # both engines (Spark would NULL, DuckDB would error — the exact
    # divergence class this guard targets) and the alloc CASE
    # short-circuits tw = 0 to a zero allocation everywhere, so both
    # engines degrade identically to an empty sample.
    w = s.select(
        "lang", "n_h",
        F.expr("CASE WHEN n_h < 2 THEN CAST(0 AS BIGINT) ELSE "
               "CAST(floor(n_h * sqrt(CAST(n_h * sxx - sx * sx AS "
               "DOUBLE) / (n_h * (n_h - 1))) * 1000) AS BIGINT) END")
        .alias("w_milli"))
    tot = w.agg(F.sum("w_milli").cast("long").alias("tw"))
    aw = w.crossJoin(tot).select(
        "lang", "n_h", "w_milli", "tw",
        F.expr(f"({b} * w_milli) div greatest(tw, 1)").alias("base"),
        F.expr(f"({b} * w_milli) % greatest(tw, 1)").alias("rem"))
    wr = W.orderBy(F.desc("rem"), "lang")
    wt = W.partitionBy(F.lit(1))
    alloc = (aw.select(
        "lang", "n_h", "tw", "base", "rem",
        F.sum("base").over(wt).alias("base_total"),
        F.row_number().over(wr).alias("rr"))
        .select("lang", "n_h",
                F.when(F.col("tw") == 0, F.lit(0))
                .otherwise(F.col("base")
                           + F.when(F.col("rr") <= b
                                    - F.col("base_total"), 1)
                           .otherwise(0)).cast("long").alias("alloc")))
    wp = (W.partitionBy("lang")
          .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id"))
    ranked = docs.select(
        "lang", "doc_id",
        F.row_number().over(wp).cast("long").alias("pick_rank"))
    # alloc is one row per language (stratum); Spark sizes it at the
    # documents scan.
    return (ranked.join(F.broadcast(alloc), "lang")
            .filter(F.col("pick_rank") <= F.col("alloc"))
            .select("lang", "n_h", "alloc", "doc_id", "pick_rank"))


@register("sample_kfold_assign", oracle="""
WITH f AS (
  SELECT doc_id, lang,
         (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
               AS BIGINT) % 5) AS fold
  FROM documents
), s AS (
  SELECT fold, lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM f GROUP BY fold, lang
), t AS (
  SELECT lang, CAST(SUM(n) AS BIGINT) AS lang_total FROM s GROUP BY lang
)
SELECT s.fold, s.lang, s.n,
       t.lang_total,
       (1000 * s.n) // t.lang_total AS share_milli
FROM s JOIN t ON s.lang = t.lang
""", doc="Deterministic k-fold cross-validation assignment (k=5) with "
         "a per-fold class-balance audit — the CV split a model-eval "
         "pipeline needs to be retry-stable and engine-reproducible: "
         "fold = md5(doc_id) % 5 (the portable 60-bit hash gate, so "
         "re-runs and other engines assign identically — no "
         "rand(seed), whose stream is engine-private), and the "
         "checked output is the (fold, lang) contingency with each "
         "fold's per-mille share of its language — the balance "
         "numbers a stratification decision reads (if shares drift "
         "from ~200, switch to the stratified assigner).  Scale "
         "shape: the fold tag is a scan-side projection; one "
         "map-side-combined (fold, lang) count; the per-lang total "
         "joins back on the tiny aggregate.")
def sample_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    gate = ("pmod(CAST(conv(substring(md5(CAST(doc_id AS STRING)), "
            "1, 15), 16, 10) AS BIGINT), 5)")
    s = (docs.select(F.expr(gate).alias("fold"), "lang")
         .groupBy("fold", "lang")
         .agg(F.count("*").cast("long").alias("n")))
    t = (s.groupBy("lang")
         .agg(F.sum("n").cast("long").alias("lang_total")))
    # t is one row per language; Spark sizes it at the documents scan.
    return (s.join(F.broadcast(t), "lang")
            .select("fold", "lang", "n", "lang_total",
                    F.expr("(1000 * n) div lang_total")
                    .alias("share_milli")))


#: Poisson(1) pmf, cumulative, in integer per-mille — the replicate
#: weight gate for the deterministic bootstrap (public constants;
#: no exp()/factorial enters either engine).
#: P(k): 368, 368, 184, 61, 15, 3, rest -> cum: 368 736 920 981 996 999
_POIS_W = ("CASE WHEN {u} < 368 THEN 0 WHEN {u} < 736 THEN 1 "
           "WHEN {u} < 920 THEN 2 WHEN {u} < 981 THEN 3 "
           "WHEN {u} < 996 THEN 4 WHEN {u} < 999 THEN 5 ELSE 6 END")
_BOOT_B = 32


#: Deterministic (a_j, b_j) for the replicate-draw family
#: u_j(h) = ((a_j*h32 + b_j) mod 4294967311) mod 1000 — the minhash
#: permutation convention with its own tag, so one md5 per ROW serves
#: all replicates instead of one md5 per (row, replicate): the exact
#: num_hashes-fold hashing saving operators.dedup documents for
#: signatures.
_BOOT_PARAMS = perm_params("bootstrap", _BOOT_B)
_BOOT_A_SQL = "[" + ", ".join(str(a) for a, _ in _BOOT_PARAMS) + "]"
_BOOT_B_SQL = "[" + ", ".join(str(b) for _, b in _BOOT_PARAMS) + "]"
_BOOT_A_SPARK = ("array(" + ", ".join(
    f"{a}L" for a, _ in _BOOT_PARAMS) + ")")
_BOOT_B_SPARK = ("array(" + ", ".join(
    f"{b}L" for _, b in _BOOT_PARAMS) + ")")


@register("sample_poisson_bootstrap_mean", oracle=f"""
WITH h AS (
  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         (CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)
               AS BIGINT) % 4294967296) AS h32
  FROM orders
), rep AS (
  SELECT b.b AS b, h.cents,
         {_POIS_W.format(u=f"((({_BOOT_A_SQL}[CAST(b.b + 1 AS INTEGER)] * h.h32 + {_BOOT_B_SQL}[CAST(b.b + 1 AS INTEGER)]) % 4294967311) % 1000)")} AS w
  FROM h CROSS JOIN (SELECT unnest(range(0, {_BOOT_B})) AS b) b
), means AS (
  SELECT CAST(b AS BIGINT) AS b,
         CAST(SUM(w) AS BIGINT) AS n_eff,
         ROUND(CAST(SUM(CAST(w * cents AS DECIMAL(38,0)))
                    AS DOUBLE) / SUM(w), 6) AS mean_cents
  FROM rep GROUP BY b
), q AS (
  SELECT b, n_eff, mean_cents,
         CAST(floor(mean_cents * 1000000 + 0.5) AS BIGINT) AS mq
  FROM means
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nb,
         CAST(SUM(CAST(mq AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS smq,
         CAST(SUM(CAST(mq AS DECIMAL(38,0))
                  * CAST(mq AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS smq2
  FROM q
)
SELECT q.b, q.n_eff, q.mean_cents,
       ROUND(CAST(s.smq AS DOUBLE) / s.nb / 1000000.0, 6)
         AS boot_mean_cents,
       ROUND(sqrt((CAST(s.smq2 AS DOUBLE) - CAST(s.smq AS DOUBLE)
                   * CAST(s.smq AS DOUBLE) / s.nb) / (s.nb - 1))
             / 1000000.0, 6) AS boot_se_cents
FROM q CROSS JOIN s
""", doc="Deterministic Poisson bootstrap of the order-total mean — "
         "the distributed bootstrap (Poisson(1) replicate weights "
         "instead of multinomial resampling, the trick that makes "
         "bootstrapping embarrassingly parallel at any scale): each "
         "(row, replicate b) draws its weight from the Poisson(1) "
         "pmf held as integer per-mille LITERALS (no exp/factorial "
         "in either engine) gated on a universal-hash family over "
         "ONE md5 per row ((a_b*h32 + b_b) mod p mod 1000, "
         "md5-derived literal coefficients — the minhash signature "
         "lesson: never pay B hashes per row for B draws) — every "
         "draw replayable bit-for-bit, the engine's no-rand() "
         "convention. "
         " Per-replicate weighted means from exact integer/decimal "
         "sums; the bootstrap SE of the mean — the CI machinery — "
         "from the 32 replicate means floor-quantized to micros so "
         "the across-replicate moments are exact integers too "
         "(sqrt-only double tree at the end).  Scale shape: ONE "
         "corpus scan exploded x32 (the replicate dimension rides "
         "the scan, no reshuffle of the corpus), one "
         "map-side-combined 32-key agg, stats on the 32-row "
         "aggregate broadcast back.")
def sample_poisson_bootstrap_mean(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    # The x32 explode + gate costs ~32 expression evals per input
    # row; round-robin the corpus first so that stage's parallelism
    # comes from the cluster, not the input file layout (the
    # ann_pq_adc/_spread rationale — a single-row-group parquet
    # otherwise serializes it into one task).
    o = (load_table(spark, sf_dir, "orders")
         .repartition(spark.sparkContext.defaultParallelism))
    u = (f"pmod(pmod(element_at({_BOOT_A_SPARK}, CAST(b AS INT) + 1)"
         f" * h32 + element_at({_BOOT_B_SPARK}, CAST(b AS INT) + 1),"
         f" 4294967311L), 1000L)")
    rep = (o.select(
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
        .alias("cents"),
        F.expr("pmod(CAST(conv(substring(md5(CAST(o_orderkey AS "
               "STRING)), 1, 15), 16, 10) AS BIGINT), 4294967296L)")
        .alias("h32"),
        F.explode(F.expr(f"sequence(0, {_BOOT_B - 1})")).alias("b"))
           .select("b", "cents",
                   F.expr(_POIS_W.format(u=u)).alias("w")))
    # Materialize the 32-row replicate table once: the SE branch and
    # the output both read it, and without this the stats branch
    # re-runs the corpus x32 explode (the Markov-step double-eval
    # lesson; plan-pinned).
    means = truncated_checkpoint(
        rep.groupBy("b")
        .agg(F.sum("w").cast("long").alias("n_eff"),
             F.round(F.sum(F.expr("CAST(w * cents AS "
                                  "DECIMAL(38,0))"))
                     .cast("double") / F.sum("w"), 6)
             .alias("mean_cents"))
        .select(F.col("b").cast("long").alias("b"), "n_eff",
                "mean_cents",
                F.expr("CAST(floor(mean_cents * 1000000 + 0.5) "
                       "AS BIGINT)").alias("mq")))
    s = means.agg(
        F.count("*").cast("long").alias("nb"),
        F.sum(F.col("mq").cast("decimal(38,0)")).alias("smq"),
        F.sum(F.col("mq").cast("decimal(38,0)")
              * F.col("mq").cast("decimal(38,0)")).alias("smq2"))
    return (means.crossJoin(s)
            .selectExpr(
                "b", "n_eff", "mean_cents",
                "ROUND(CAST(smq AS DOUBLE) / nb / 1000000.0, 6)"
                " AS boot_mean_cents",
                "ROUND(sqrt((CAST(smq2 AS DOUBLE) - CAST(smq AS "
                "DOUBLE) * CAST(smq AS DOUBLE) / nb) / (nb - 1))"
                " / 1000000.0, 6) AS boot_se_cents"))
