"""Text-analysis plans over `documents` (north-star ⊕): token stats,
quality scoring, language-ID heuristic, regex token counting,
fingerprinting. All pure JVM expressions; oracles mirror formulas
term-for-term (same operand order → same IEEE doubles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.checkpoint import truncated_checkpoint
from ..operators.dedup import join_ends, minhash_lsh_candidates
from ..sources.tables import load_table
from ..session import staging_dir
from .base import register
from .dedup import sql_minhash_cand_ctes

#: Stopword list used by the quality heuristic (ASCII, lowercase).
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")
_SW_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)


@register("text_stats", oracle="""
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       length(text) AS n_chars_calc,
       n_chars,
       CAST(length(replace(text, ' ', '')) AS DOUBLE)
         / len(string_split(text, ' ')) AS avg_token_len,
       len(list_distinct(string_split(text, ' '))) AS n_unique_tokens
FROM documents
""", doc="Per-document token statistics (whitespace tokenization).")
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " "))
    return docs.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_calc"),
        "n_chars",
        (F.length(F.regexp_replace("text", " ", "")).cast("double") / n_tokens)
            .alias("avg_token_len"),
        F.size(F.array_distinct(F.split("text", " "))).cast("long")
         .alias("n_unique_tokens"))


@register("text_quality", oracle=f"""
SELECT doc_id,
       len(list_filter(string_split(text, ' '), w -> w IN ({_SW_SQL})))
         AS n_stopwords,
       CAST(len(list_filter(string_split(text, ' '), w -> w IN ({_SW_SQL})))
            AS DOUBLE) / len(string_split(text, ' ')) AS stopword_ratio,
       CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         / len(string_split(text, ' ')) AS unique_ratio,
       CASE WHEN len(string_split(text, ' ')) BETWEEN 5 AND 1000
            THEN 1 ELSE 0 END AS len_ok,
       (CAST(len(list_filter(string_split(text, ' '), w -> w IN ({_SW_SQL})))
             AS DOUBLE) / len(string_split(text, ' '))) * 0.5
         + (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
            / len(string_split(text, ' '))) * 0.5 AS quality_score
FROM documents
""", doc="Quality heuristics: stopword ratio, lexical diversity, length "
         "gate, combined score — the standard cheap pre-filters of an "
         "LLM training-data pipeline.")
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sw = ", ".join(f"'{w}'" for w in STOPWORDS)
    n_tokens = F.size(F.split("text", " "))
    n_stop = F.expr(f"size(filter(split(text, ' '), w -> w IN ({sw})))")
    n_uniq = F.size(F.array_distinct(F.split("text", " ")))
    stop_ratio = n_stop.cast("double") / n_tokens
    uniq_ratio = n_uniq.cast("double") / n_tokens
    return docs.select(
        "doc_id",
        n_stop.cast("long").alias("n_stopwords"),
        stop_ratio.alias("stopword_ratio"),
        uniq_ratio.alias("unique_ratio"),
        F.when(n_tokens.between(5, 1000), 1).otherwise(0).alias("len_ok"),
        (stop_ratio * 0.5 + uniq_ratio * 0.5).alias("quality_score"))


@register("text_lang_id", oracle=r"""
WITH pred AS (
  SELECT doc_id, lang,
         CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
              WHEN regexp_matches(text, '[áéíóúñ¿¡]') THEN 'es'
              WHEN regexp_matches(text, '[äöüß]') THEN 'de'
              WHEN regexp_matches(text, '[àâçèêëîïôùûœ]') THEN 'fr'
              WHEN regexp_matches(text, '^[ -~]+$') THEN 'en'
              ELSE 'und' END AS lang_pred
  FROM documents
)
SELECT lang, lang_pred, COUNT(*) AS n FROM pred GROUP BY lang, lang_pred
""", doc="Character-class language-ID heuristic + confusion matrix against "
         "the labeled lang column (on this corpus the text is ASCII word "
         "soup, so the heuristic's honest answer is 'en' — the operator "
         "shape is what matters).")
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pred = (F.when(F.col("text").rlike(r"[一-鿿]"), "zh")
            .when(F.col("text").rlike(r"[áéíóúñ¿¡]"), "es")
            .when(F.col("text").rlike(r"[äöüß]"), "de")
            .when(F.col("text").rlike(r"[àâçèêëîïôùûœ]"), "fr")
            .when(F.col("text").rlike(r"^[ -~]+$"), "en")
            .otherwise("und"))
    return (docs.select("lang", pred.alias("lang_pred"))
            .groupBy("lang", "lang_pred").agg(F.count("*").alias("n")))


@register("text_token_count_regex", oracle=r"""
SELECT doc_id,
       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_pieces,
       len(regexp_extract_all(text, '[a-z]+')) AS n_words,
       len(regexp_extract_all(text, '[0-9]+')) AS n_numbers
FROM documents
""", doc="BPE-ish regex token counting (letters / digit runs / symbols).")
def text_token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_count("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).cast("long")
         .alias("n_pieces"),
        F.regexp_count("text", F.lit("[a-z]+")).cast("long").alias("n_words"),
        F.regexp_count("text", F.lit("[0-9]+")).cast("long")
         .alias("n_numbers"))


@register("text_tfidf_top_terms", oracle="""
WITH t AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term
), df AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY term
)
SELECT doc_id, term, tf, df, score, rank FROM (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         CAST(tf.tf AS DOUBLE) / df.df AS score,
         row_number() OVER (PARTITION BY tf.doc_id
                            ORDER BY CAST(tf.tf AS DOUBLE) / df.df DESC,
                                     tf.term) AS rank
  FROM tf JOIN df ON tf.term = df.term
) WHERE rank <= 3
""", doc="Top-3 distinctive terms per doc by tf/df relevance (rational "
         "score — one exact int division, not log-idf, so both engines "
         "produce bit-identical doubles). Shape = the HashingTF/IDF "
         "pipeline: tokenize → term stats → per-doc ranking; the df "
         "side is a vocabulary-sized term dictionary.")
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select("doc_id",
                        F.explode(F.split("text", " ")).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = terms.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df"))
    score = F.col("tf").cast("double") / F.col("df")
    w = W.partitionBy("doc_id").orderBy(F.desc(score), "term")
    return (tf.join(df_, "term")
            .select("doc_id", "term", "tf", "df", score.alias("score"),
                    F.row_number().over(w).cast("long").alias("rank"))
            .filter(F.col("rank") <= 3))


@register("doc_fingerprint", oracle="""
SELECT doc_id,
       md5(text) AS fp_md5,
       sha256(text) AS fp_sha256,
       list_min(list_transform(
           range(1, greatest(length(text) - 4, 1) + 1),
           i -> md5(substr(text, i, 5)))) AS fp_winnow_min,
       list_max(list_transform(
           range(1, greatest(length(text) - 4, 1) + 1),
           i -> md5(substr(text, i, 5)))) AS fp_winnow_max
FROM documents
""", doc="Document fingerprints: whole-text digests plus winnowing-style "
         "min/max over char-5-gram md5s (rolling-hash family).")
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    grams = (f"transform(sequence(1, greatest(length(text) - 4, 1)),"
             f" i -> md5(substring(text, i, 5)))")
    return docs.select(
        "doc_id",
        F.md5("text").alias("fp_md5"),
        F.sha2("text", 256).alias("fp_sha256"),
        F.expr(f"array_min({grams})").alias("fp_winnow_min"),
        F.expr(f"array_max({grams})").alias("fp_winnow_max"))


#: PII regexes, written in the common Java-regex ∩ RE2 dialect so Spark
#: and the DuckDB oracle match byte-for-byte. DuckDB's regexp_replace
#: needs the 'g' flag to match Spark's replace-all semantics.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b\d{1,3}(\.\d{1,3}){3}\b"

#: The synthetic corpus holds no real PII, so both engines append the
#: SAME deterministic contact line per doc, then scrub it — proving the
#: redaction actually fires (an all-zero match count proves nothing).
_AUG_SPARK = ("concat(text, ' contact user', CAST(doc_id AS STRING),"
              " '@mail.example.com from 10.',"
              " CAST(doc_id % 200 AS STRING), '.0.1')")
_AUG_DUCK = ("text || ' contact user' || CAST(doc_id AS VARCHAR)"
             " || '@mail.example.com from 10.'"
             " || CAST(doc_id % 200 AS VARCHAR) || '.0.1'")


@register("text_pii_scrub", oracle=f"""
WITH aug AS (SELECT doc_id, {_AUG_DUCK} AS t FROM documents)
SELECT doc_id,
       regexp_replace(regexp_replace(t, '{_PII_EMAIL}', '[EMAIL]', 'g'),
                      '{_PII_IPV4}', '[IP]', 'g') AS scrubbed,
       len(regexp_extract_all(t, '{_PII_EMAIL}')) AS n_emails,
       len(regexp_extract_all(t, '{_PII_IPV4}')) AS n_ips
FROM aug
""", doc="PII redaction pass (emails, IPv4) — the scrub step every "
         "training-data pipeline runs before tokenization. Pure JVM "
         "regexp projection; patterns written in the Java-regex ∩ RE2 "
         "common dialect so the oracle replays them identically.")
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DataFrame-API regex functions take the pattern verbatim — going
    # through F.expr would put it through SQL string-literal escaping,
    # which silently strips the \b/\d backslashes.
    docs = load_table(spark, sf_dir, "documents")
    aug = F.expr(_AUG_SPARK)
    return docs.select(
        "doc_id",
        F.regexp_replace(F.regexp_replace(aug, _PII_EMAIL, "[EMAIL]"),
                         _PII_IPV4, "[IP]").alias("scrubbed"),
        F.size(F.regexp_extract_all(aug, F.lit(_PII_EMAIL), F.lit(0)))
         .cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(aug, F.lit(_PII_IPV4), F.lit(0)))
         .cast("long").alias("n_ips"))


@register("text_quality_filter", oracle=f"""
SELECT doc_id,
       CASE WHEN len(string_split(text, ' ')) BETWEEN 30 AND 100000
            THEN 1 ELSE 0 END AS words_ok,
       CASE WHEN CAST(length(replace(text, ' ', '')) AS DOUBLE)
                   / len(string_split(text, ' ')) BETWEEN 3 AND 10
            THEN 1 ELSE 0 END AS wordlen_ok,
       CASE WHEN len(list_filter(string_split(text, ' '),
                                 w -> w IN ({_SW_SQL}))) >= 2
            THEN 1 ELSE 0 END AS stopwords_ok,
       CASE WHEN CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / len(string_split(text, ' ')) >= 0.2
            THEN 1 ELSE 0 END AS diversity_ok
FROM documents
""", doc="Gopher-style composite quality gate: word-count bounds, mean "
         "word length, stopword presence, lexical-diversity floor — "
         "each rule surfaced as its own flag so downstream can audit "
         "WHY a doc was dropped. One JVM projection, no shuffle.")
def text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_words = F.size(words)
    sw = ", ".join(f"'{w}'" for w in STOPWORDS)
    return docs.select(
        "doc_id",
        F.when(n_words.between(30, 100000), 1).otherwise(0)
         .cast("long").alias("words_ok"),
        F.when((F.length(F.regexp_replace("text", " ", "")).cast("double")
                / n_words).between(3, 10), 1).otherwise(0)
         .cast("long").alias("wordlen_ok"),
        F.when(F.expr(f"size(filter(split(text, ' '),"
                      f" w -> w IN ({sw})))") >= 2, 1).otherwise(0)
         .cast("long").alias("stopwords_ok"),
        F.when((F.size(F.array_distinct(words)).cast("double")
                / n_words) >= 0.2, 1).otherwise(0)
         .cast("long").alias("diversity_ok"))


@register("text_repetition_filter", oracle="""
WITH bg AS (
  SELECT doc_id,
         list_transform(
             range(1, greatest(len(string_split(text, ' ')) - 1, 1) + 1),
             i -> array_to_string(string_split(text, ' ')[i:i+1], ' '))
           AS bigrams
  FROM documents
)
SELECT doc_id,
       len(bigrams) AS n_bigrams,
       CAST(list_max(list_transform(list_distinct(bigrams),
                b -> len(list_filter(bigrams, x -> x = b)))) AS DOUBLE)
         / len(bigrams) AS top_bigram_frac,
       CASE WHEN CAST(list_max(list_transform(list_distinct(bigrams),
                     b -> len(list_filter(bigrams, x -> x = b)))) AS DOUBLE)
                   / len(bigrams) <= 0.2
            THEN 1 ELSE 0 END AS repetition_ok
FROM bg
""", doc="Gopher-style repetition signal: the fraction of all word "
         "bigrams taken by the single most frequent bigram; boiler-"
         "plate and looped generations score high and get gated. Pure "
         "higher-order array expressions (let-bound so the bigram "
         "build runs once per row), no shuffle, no Python.")
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import let
    docs = load_table(spark, sf_dir, "documents")
    # Both lets nest: the OUTER binds the token split once per row
    # (r12 — the old spelling re-split inside the bigram lambda, once
    # per bigram), the INNER binds the bigram array once for the
    # distinct/filter/max cascade.
    bigrams = let(
        "split(text, ' ')", "w",
        "transform(sequence(1, greatest(size(w) - 1, 1)),"
        " i -> array_join(slice(w, i, 2), ' '))")
    top_frac = let(
        bigrams, "bg",
        "CAST(array_max(transform(array_distinct(bg),"
        " b -> size(filter(bg, x -> x = b)))) AS DOUBLE) / size(bg)")
    return docs.select(
        "doc_id",
        F.expr(let(bigrams, "bg", "size(bg)")).cast("long")
         .alias("n_bigrams"),
        F.expr(top_frac).alias("top_bigram_frac"),
        F.expr(f"CASE WHEN {top_frac} <= 0.2 THEN 1 ELSE 0 END")
         .cast("long").alias("repetition_ok"))


@register("text_chunk_udtf", oracle="""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words,
         len(string_split(text, ' ')) AS n
  FROM documents
), s AS (
  SELECT doc_id, words, n,
         unnest(range(0, (greatest(n - 1, 0) // 24) + 1)) AS chunk_idx
  FROM w
)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(len(words[chunk_idx * 24 + 1 : chunk_idx * 24 + 32]) AS BIGINT)
         AS n_tokens,
       md5(array_to_string(
           words[chunk_idx * 24 + 1 : chunk_idx * 24 + 32], ' '))
         AS chunk_md5
FROM s
""", doc="Context chunking via a real Python UDTF + SQL LATERAL join "
         "(PySpark 4 @udtf): each document explodes into 32-token "
         "windows at stride 24 (8-token overlap), emitting index, "
         "token count and chunk digest. The oracle rebuilds identical "
         "windows with list slices. Chunks leave the Python worker as "
         "digests, not expanded text, so output volume stays bounded.")
def text_chunk_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.chunking import register_chunker
    register_chunker(spark)
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("_chunk_docs")
    return spark.sql(
        "SELECT doc_id, chunk_idx, n_tokens, chunk_md5 "
        "FROM _chunk_docs, LATERAL chunk_doc(text)")


#: Benchmark-set selector shared by Spark and oracle: every 7th doc,
#: hard-capped at 32 docs so the broadcast side is constant at any sf.
_BENCH_PRED = "doc_id % 7 = 0 AND doc_id < 224"


@register("text_decontaminate", oracle=f"""
WITH g AS (
  SELECT doc_id, list_distinct(list_transform(
      range(1, greatest(len(string_split(text, ' ')) - 7, 1) + 1),
      i -> array_to_string(string_split(text, ' ')[i:i+7], ' ')))
    AS grams
  FROM documents
), b AS (
  SELECT DISTINCT unnest(grams) AS gram FROM g WHERE {_BENCH_PRED}
), t AS (
  SELECT doc_id, unnest(grams) AS gram FROM g WHERE NOT ({_BENCH_PRED})
)
SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_grams
FROM t JOIN b USING (gram) GROUP BY t.doc_id
""", doc="Benchmark decontamination (the eval-leak check every corpus "
         "build runs): training docs sharing any word-8-gram with the "
         "held-out benchmark set are flagged with their shared-gram "
         "count. The benchmark gram set is bounded (<=32 docs at any "
         "sf) and rides a broadcast, so the corpus-side work is one "
         "scan + explode + map-side join — no corpus shuffle until "
         "the tiny per-doc count agg. Shingles reuse the minhash "
         "machinery (let-bound split, distinct 8-grams).")
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import word_shingles
    docs = load_table(spark, sf_dir, "documents")
    grams = word_shingles("text", 8)
    bench = (docs.filter(F.expr(_BENCH_PRED))
             .select(F.explode(grams).alias("gram")).distinct())
    train = docs.filter(~F.expr(f"({_BENCH_PRED})"))
    # bench holds the n-grams of at most 32 documents (_BENCH_PRED);
    # Spark sizes it at the documents scan.
    return (train.select("doc_id", F.explode(grams).alias("gram"))
            .join(F.broadcast(bench), "gram")
            .groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_shared_grams")))


@register("text_fuzzy_match", oracle=f"""
WITH {sql_minhash_cand_ctes("(SELECT * FROM documents WHERE lang = 'en')")}
SELECT doc_a, doc_b,
       CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS dist
FROM cand
JOIN documents ta ON ta.doc_id = doc_a
JOIN documents tb ON tb.doc_id = doc_b
WHERE levenshtein(ta.text, tb.text) <= 10
""", doc="Fuzzy (edit-distance) matching at scale: MinHash-LSH "
         "generates the candidate pairs (same permutation banding as "
         "dedup_minhash_lsh), then full-text levenshtein <= 10 "
         "verifies them. Pairwise cost is O(candidates), which LSH "
         "keeps near-linear in the corpus — a fixed-count blocking "
         "scheme (the naive alternative) goes quadratic because block "
         "sizes grow with the data. Restricted to lang='en' because "
         "the engines count edit ops in code points and multi-byte "
         "text could diverge; per-pair cost is O(len_a * len_b), "
         "bounded by the documents' length cap. Audit note (accepted 4-scan flag): candidate build and edit-distance verify each re-read pruned token projections; checkpointing would materialize tokenized text corpus-wide.")
def text_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    en = docs.filter(F.col("lang") == "en")
    cand = minhash_lsh_candidates(en, id_col="doc_id", text_col="text")
    dist = F.levenshtein("text_a", "text_b")
    return (join_ends(cand, en, "doc_id", "text")
            .filter(dist <= 10)
            .select("doc_a", "doc_b", dist.cast("long").alias("dist")))


@register("text_unigram_lm_score", oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), cnt AS (
  SELECT w, COUNT(*) AS c FROM toks GROUP BY w
), vocab AS (
  SELECT w, c FROM (
    SELECT w, c, row_number() OVER (ORDER BY c DESC, w) AS rn FROM cnt
  ) WHERE rn <= 1000
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(COALESCE(v.c, 0)) AS BIGINT) AS sum_freq,
       CAST(SUM(COALESCE(v.c, 0)) AS DOUBLE) / COUNT(*) AS mean_tok_freq,
       CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov
FROM toks t LEFT JOIN vocab v ON t.w = v.w
GROUP BY t.doc_id
""", doc="Unigram language-model quality score (the CCNet/Gopher LM-"
         "filter dataflow): build a capped vocabulary from the corpus "
         "itself (top-1000 tokens by frequency — TakeOrderedAndProject, "
         "never a single-partition global window), broadcast it, and "
         "score every document by its tokens' mean corpus frequency "
         "plus an out-of-vocabulary count. Production swaps the "
         "frequency table for KenLM log-probs; the statistic here is "
         "engine-portable (exact integer sums, one IEEE division) so "
         "the oracle hash-matches, while the dataflow — corpus-derived "
         "broadcast model + map-side token join + per-doc agg — is "
         "identical at any scale.")
def text_unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    vocab = (toks.groupBy("w").agg(F.count("*").alias("c"))
             # top-k via sort+limit: TakeOrderedAndProject keeps the
             # vocabulary selection distributed (partial top-k per
             # partition), unlike a global row_number window.
             .orderBy(F.desc("c"), "w").limit(1000))
    return (toks.join(vocab, "w", "left")
            .groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_tokens"),
                 F.sum(F.coalesce("c", F.lit(0))).cast("long")
                  .alias("sum_freq"),
                 (F.sum(F.coalesce("c", F.lit(0))).cast("double")
                  / F.count("*")).alias("mean_tok_freq"),
                 F.sum(F.when(F.col("c").isNull(), 1).otherwise(0))
                  .cast("long").alias("n_oov")))


#: Sequence-packing geometry: training-example length in tokens, and
#: the number of independent packing shards (the parallelism unit — a
#: real pipeline sizes shards so each holds ~one output file).
_PACK_CAP = 2048
_PACK_SHARDS = 8


@register("pack_sequences", oracle=f"""
WITH d AS (
  SELECT doc_id, doc_id % {_PACK_SHARDS} AS shard,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
), w AS (
  SELECT doc_id, shard, n_tok,
         COALESCE(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS tok_start
  FROM d
), frag AS (
  SELECT shard, doc_id, n_tok, tok_start,
         unnest(range(CAST(tok_start // {_PACK_CAP} AS BIGINT),
                      CAST((tok_start + n_tok - 1) // {_PACK_CAP} + 1
                           AS BIGINT))) AS seq_id
  FROM w
)
SELECT shard, CAST(seq_id AS BIGINT) AS seq_id, doc_id,
       CAST(seq_id - tok_start // {_PACK_CAP} AS BIGINT) AS frag_idx,
       CAST(LEAST((seq_id + 1) * {_PACK_CAP}, tok_start + n_tok)
            - GREATEST(seq_id * {_PACK_CAP}, tok_start) AS BIGINT)
         AS n_tok_in_seq
FROM frag
""", doc="Sequence packing — the step that turns a filtered corpus "
         "into fixed-length training examples: concatenate documents "
         "in deterministic (shard, doc_id) order and cut every "
         f"{_PACK_CAP} tokens, letting documents SPLIT across "
         "sequence boundaries exactly as LM pretraining packing does "
         "(each output row is one document fragment: which sequence "
         "it lands in, its fragment index, and its token count — "
         "sum(n_tok_in_seq) per seq_id = 2048 except each shard's "
         "tail). The running offset is a window running-sum "
         "PARTITIONED BY SHARD, never a global single-partition "
         "window: shards pack independently and in parallel, which "
         "is how 100 TB packs on 1000 executors (shard count scales "
         "with the cluster; the oracle uses the identical pmod "
         "sharding). Pure integer arithmetic end to end — exact "
         "cross-engine hashes.")
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.pmod("doc_id", F.lit(_PACK_SHARDS)).alias("shard"),
        F.size(F.split("text", " ")).cast("long").alias("n_tok"))
    w = (W.partitionBy("shard").orderBy("doc_id")
         .rowsBetween(W.unboundedPreceding, -1))
    packed = d.withColumn("tok_start",
                          F.coalesce(F.sum("n_tok").over(w), F.lit(0)))
    frag = packed.select(
        "shard", "doc_id", "n_tok", "tok_start",
        F.explode(F.sequence(
            F.expr(f"tok_start div {_PACK_CAP}"),
            F.expr(f"(tok_start + n_tok - 1) div {_PACK_CAP}")))
        .alias("seq_id"))
    return frag.select(
        "shard", F.col("seq_id").cast("long").alias("seq_id"), "doc_id",
        (F.col("seq_id") - F.expr(f"tok_start div {_PACK_CAP}"))
        .cast("long").alias("frag_idx"),
        (F.least((F.col("seq_id") + 1) * _PACK_CAP,
                 F.col("tok_start") + F.col("n_tok"))
         - F.greatest(F.col("seq_id") * _PACK_CAP, F.col("tok_start")))
        .cast("long").alias("n_tok_in_seq"))


#: fastText-style classifier geometry: B hash buckets, one weight per
#: bucket, plus a bias. Weights are deterministic pseudo-random
#: literals (Knuth multiplicative hash of the bucket index) — both
#: engines embed the identical table, the same pattern as the LSH
#: hyperplanes / IVF centroids. Production swaps in trained weights;
#: the inference dataflow (hash -> lookup -> mean -> sigmoid) is
#: unchanged, which is the part that matters at 100 TB.
_CLF_B = 64
_CLF_BIAS = 0.1
_CLF_W = [round(((i * 2654435761) % 1999) / 1999.0 - 0.5, 6)
          for i in range(_CLF_B)]
_CLF_W_SQL = ("[" + ", ".join(f"CAST({w!r} AS DOUBLE)"
                              for w in _CLF_W) + "]")
_CLF_W_SPARK = ("array(" + ", ".join(f"CAST({w!r} AS DOUBLE)"
                                     for w in _CLF_W) + ")")


@register("text_classifier_score", oracle=f"""
WITH scored AS (
  SELECT doc_id, source,
         {_CLF_BIAS!r} + list_reduce(
           list_transform(string_split(text, ' '),
             w -> ({_CLF_W_SQL})[
                    CAST(('0x' || substring(md5(w), 1, 8)) AS BIGINT)
                    % {_CLF_B} + 1]),
           (acc, v) -> acc + v)
           / len(string_split(text, ' ')) AS logit
  FROM documents
)
SELECT doc_id, source,
       ROUND(1.0 / (1.0 + exp(-logit)), 6) AS clf_score,
       CAST(CASE WHEN 1.0 / (1.0 + exp(-logit)) >= 0.5
            THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM scored
""", doc="fastText-style quality-classifier INFERENCE (Joulin et al. "
         "2016's architecture at dim=1): every token hashes into one "
         "of 64 weight buckets (md5-prefix hash — the same on both "
         "engines), the document logit is bias + the token-order "
         "mean of bucket weights, and the keep/drop decision is "
         "sigmoid >= 0.5. This is the shape of the quality filter "
         "every production pretraining pipeline runs over the full "
         "corpus (CCNet/fastText filtering): weights ride the plan "
         "as literals (a trained model would too — classifier "
         "weights are KBs), scoring is one shuffle-free JVM "
         "projection per document, no model server, no Python in "
         "the hot path. The token fold is sequential in token order "
         "on both engines, so scores match to the rounded digit.")
def text_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    logit = F.expr(
        f"CAST({_CLF_BIAS!r} AS DOUBLE) + aggregate("
        f"  transform(split(text, ' '),"
        f"    w -> element_at({_CLF_W_SPARK},"
        f"           CAST(pmod(conv(substring(md5(w), 1, 8), 16, 10),"
        f"                     {_CLF_B}) AS INT) + 1)),"
        f"  CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        f" / size(split(text, ' '))")
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))
    return docs.select(
        "doc_id", "source",
        F.round(score, 6).alias("clf_score"),
        F.when(score >= 0.5, F.lit(1)).otherwise(F.lit(0))
         .cast("long").alias("keep"))


@register("text_vocab_coverage", oracle="""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
), counts AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM tok GROUP BY word
), total AS (
  SELECT CAST(SUM(freq) AS BIGINT) AS n_total FROM counts
), ranked AS (
  SELECT word, freq,
         row_number() OVER (ORDER BY freq DESC, word) AS rank,
         SUM(freq) OVER (ORDER BY freq DESC, word
                         ROWS UNBOUNDED PRECEDING) AS cum_freq
  FROM counts
)
SELECT r.rank, r.word, r.freq,
       ROUND(CAST(r.cum_freq AS DOUBLE) / t.n_total, 6) AS cum_coverage
FROM ranked r CROSS JOIN total t
WHERE r.rank <= 100
""", doc="Tokenizer-vocabulary coverage curve: corpus word "
         "frequencies ranked, with each rank's cumulative fraction "
         "of all tokens — the analysis that sizes a tokenizer vocab "
         "('how many types cover 95% of tokens') before training "
         "one. Scale shape: the explode+count is the classic "
         "map-side-combined word count (the shuffle carries one row "
         "per DISTINCT word per partition, never per token); the "
         "top-100 cut happens via TakeOrdered BEFORE the rank/cumsum "
         "window, so the single-partition window only ever sees 100 "
         "rows (a constant, not the vocab) — the same bounded-"
         "global-window pattern as sort_limit. Total token count "
         "joins back as a broadcast scalar.")
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    docs = load_table(spark, sf_dir, "documents")
    counts = (docs.select(F.explode(F.split("text", " ")).alias("word"))
              .groupBy("word").agg(F.count("*").alias("freq")))
    total = counts.agg(F.sum("freq").cast("long").alias("n_total"))
    # Top-100 FIRST (TakeOrderedAndProject — no global sort of the
    # vocab), then the bounded 100-row window assigns rank + cumsum.
    top = counts.orderBy(F.desc("freq"), "word").limit(100)
    w = W.orderBy(F.desc("freq"), "word")
    ranked = top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "word", "freq",
        F.sum("freq").over(w.rowsBetween(W.unboundedPreceding, 0))
         .alias("cum_freq"))
    return (ranked.crossJoin(total)
            .select("rank", "word", "freq",
                    F.round(F.col("cum_freq").cast("double")
                            / F.col("n_total"), 6).alias("cum_coverage")))


#: Heavy-hitter budget: k counters per partition; final answer = tokens
#: with global frequency STRICTLY above n_total/k (the MG guarantee's
#: threshold — strict, so the pigeonhole argument over partitions
#: holds: sum(freq_p) > sum(n_p)/k forces freq_p > n_p/k somewhere).
_HH_K = 200


@register("text_heavy_hitters", oracle=f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
), total AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM tok
)
SELECT word, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(COUNT(*) AS DOUBLE) / MAX(t.n_total), 6) AS share
FROM tok CROSS JOIN total t
GROUP BY word
HAVING COUNT(*) * {_HH_K} > MAX(t.n_total)
""", doc="Heavy hitters with a PROVABLY EXACT answer from an "
         "approximate first pass (Misra-Gries, k=200): phase 1 "
         "streams each partition's tokens through k bounded-memory "
         "MG counters (mapInPandas — at most k candidates per "
         "partition, whatever the vocabulary) and phase 2 exactly "
         "counts ONLY the candidate union (a semi-join gate by size "
         "on the re-scan, then a tiny groupBy), keeping every token "
         "whose global count*k strictly exceeds the corpus token "
         "total. The MG + pigeonhole guarantee makes the candidate "
         "union a superset of all true heavy hitters, so the final "
         "output is exact — which is why a DuckDB oracle can check "
         "an op whose first phase is a sketch. This is the 100 TB "
         "frequent-items shape: the full-vocabulary word-count "
         "shuffle is replaced by two scans whose shuffled volume is "
         "O(k x partitions) + O(candidate occurrences).")
def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import misra_gries_candidates
    docs = load_table(spark, sf_dir, "documents")
    tokens = docs.select(F.explode(F.split("text", " ")).alias("word"))
    cands = (misra_gries_candidates(tokens, token_col="word", k=_HH_K)
             .distinct())
    total = tokens.agg(F.count("*").cast("long").alias("n_total"))
    return (tokens.join(cands, "word")
            .groupBy("word").agg(F.count("*").alias("n"))
            .crossJoin(total)
            .filter(F.col("n") * _HH_K > F.col("n_total"))
            .select("word", "n",
                    F.round(F.col("n").cast("double") / F.col("n_total"), 6)
                     .alias("share")))


#: DSIR target domain and the log-likelihood-ratio quantization scale.
#: Scaling ln(pt/pc) to an integer (1e6) makes the per-document sum
#: EXACT integer arithmetic — order-free across partitions and engines
#: — while keeping 6 decimal digits of the ratio, far below any
#: decision threshold a resampler would use.
_DSIR_TARGET = "src0"
_DSIR_SCALE = 1_000_000


@register("text_dsir_importance", oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
), tf AS (
  SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, word
), vocab AS (
  SELECT word,
         CAST(SUM(tf) AS BIGINT) AS cc,
         CAST(SUM(CASE WHEN d.source = '{_DSIR_TARGET}' THEN tf
                       ELSE 0 END) AS BIGINT) AS ct
  FROM tf JOIN documents d USING (doc_id)
  GROUP BY word
), tot AS (
  SELECT CAST(SUM(cc) AS BIGINT) AS nc, CAST(SUM(ct) AS BIGINT) AS nt,
         CAST(COUNT(*) AS BIGINT) AS v
  FROM vocab
), llr AS (
  SELECT word,
         CAST(ROUND(ln((CAST(ct + 1 AS DOUBLE) / (nt + v))
                       / (CAST(cc + 1 AS DOUBLE) / (nc + v)))
                    * {_DSIR_SCALE}) AS BIGINT) AS llr_scaled
  FROM vocab CROSS JOIN tot
)
SELECT f.doc_id, d.source,
       CAST(SUM(f.tf * l.llr_scaled) AS BIGINT) AS llr_sum_scaled,
       ROUND(CAST(SUM(f.tf * l.llr_scaled) AS DOUBLE)
             / {_DSIR_SCALE}, 6) AS log_importance
FROM tf f JOIN llr l USING (word) JOIN documents d USING (doc_id)
GROUP BY f.doc_id, d.source
""", doc="DSIR importance weighting (Xie et al. 2023, "
         "arXiv:2302.03169): per-document log importance = sum over "
         "tokens of ln(p_target(w) / p_corpus(w)) under "
         "Laplace-smoothed unigram LMs, where the target "
         "distribution is the '{target}' source domain — the "
         "published recipe for resampling a raw corpus toward a "
         "high-quality domain. Determinism: each word's "
         "log-likelihood ratio is computed ONCE on the tiny vocab "
         "table and quantized to an integer (x1e6), so the "
         "per-document reduction is an exact integer dot product "
         "(tf x llr) — order-free across partitions and engines; "
         "no floating-point accumulation ever touches data-sized "
         "rows. Scale shape: token tf agg, a vocab-sized stats "
         "table joined back by size, one doc-keyed sum — the same "
         "dictionary-join pattern as text_unigram_lm_score."
         .format(target=_DSIR_TARGET))
def text_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", "source",
                      F.explode(F.split("text", " ")).alias("word"))
    tf = (tok.groupBy("doc_id", "source", "word")
          .agg(F.count("*").alias("tf")))
    vocab = (tf.groupBy("word")
             .agg(F.sum("tf").alias("cc"),
                  F.sum(F.when(F.col("source") == _DSIR_TARGET,
                               F.col("tf")).otherwise(0)).alias("ct")))
    tot = vocab.agg(F.sum("cc").alias("nc"), F.sum("ct").alias("nt"),
                    F.count("*").alias("v"))
    llr = (vocab.crossJoin(tot)
           .select("word",
                   F.round(F.log(
                       ((F.col("ct") + 1).cast("double")
                        / (F.col("nt") + F.col("v")))
                       / ((F.col("cc") + 1).cast("double")
                          / (F.col("nc") + F.col("v"))))
                       * _DSIR_SCALE).cast("long").alias("llr_scaled")))
    return (tf.join(llr, "word")
            .groupBy("doc_id", "source")
            .agg(F.sum(F.col("tf") * F.col("llr_scaled")).cast("long")
                 .alias("llr_sum_scaled"))
            .select("doc_id", "source", "llr_sum_scaled",
                    F.round(F.col("llr_sum_scaled").cast("double")
                            / _DSIR_SCALE, 6).alias("log_importance")))


@register("text_collocations", oracle="""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), uni AS (
  SELECT unnest(ws) AS word FROM w
), uc AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY word
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS t FROM uc
), bg AS (
  SELECT unnest(list_transform(range(1, len(ws)),
         i -> ws[i] || ' ' || ws[i + 1])) AS bigram
  FROM w WHERE len(ws) >= 2
), bc AS (
  SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c_ab
  FROM bg GROUP BY bigram HAVING COUNT(*) >= 5
), btot AS (
  SELECT CAST(SUM(CAST(len(ws) - 1 AS BIGINT)) AS BIGINT) AS b
  FROM w WHERE len(ws) >= 2
)
SELECT bigram, c_ab,
       ROUND((CAST(c_ab AS DOUBLE) * CAST(t AS DOUBLE) * CAST(t AS DOUBLE))
             / (CAST(b AS DOUBLE) * CAST(ua.c AS DOUBLE)
                * CAST(ub.c AS DOUBLE)), 6) AS lift
FROM bc
JOIN uc ua ON ua.word = string_split(bigram, ' ')[1]
JOIN uc ub ON ub.word = string_split(bigram, ' ')[2]
CROSS JOIN tot CROSS JOIN btot
ORDER BY lift DESC, bigram LIMIT 50
""", doc="Collocation mining: top-50 bigrams by LIFT — "
         "P(ab)/(P(a)P(b)), the unlogged PMI, computed as the ratio "
         "c_ab*T^2 / (B*c_a*c_b) with every operand cast to DOUBLE "
         "BEFORE multiplying: at corpus scale (T ~ 1e9+) the BIGINT "
         "products would exceed 2^63, where Spark silently wraps "
         "while DuckDB raises — double products are IEEE-identical "
         "across engines in the same left-assoc order, and the "
         "result is rounded to 6 places so parity holds (log-based "
         "PMI is still avoided: libm log differs in the last ulp). The "
         "text-side sibling of basket_pair_lift, and the standard "
         "multi-word-expression / tokenizer-merge-candidate signal. "
         "Scale shape: min-support (>=5) prunes the bigram table "
         "BEFORE the statistic joins (Apriori downward closure), so "
         "the survivors side is small and, while under the threshold, "
         "broadcasts into the two unigram-count joins; T and B are broadcast scalars; the "
         "top-50 is a bounded TakeOrdered, never a global sort.")
def text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(F.split("text", " ").alias("ws"))
    uni = w.select(F.explode("ws").alias("word"))
    # Vocab-sized, but on top of the corpus explode + count: three
    # branches (totals + both endpoint annotations) read it, so it is
    # materialized once (r08 plan audit: 6 documents scans here, 3 of
    # them this table's re-derivations).  DISK_ONLY — vocab-scale.
    from pyspark.storagelevel import StorageLevel
    uc = truncated_checkpoint(
        uni.groupBy("word").agg(F.count("*").cast("long").alias("c")),
        StorageLevel.DISK_ONLY)
    tot = uc.agg(F.sum("c").cast("long").alias("t"))
    pairs = (w.filter(F.size("ws") >= 2)
             .select(F.explode(F.expr(
                 "transform(sequence(1, size(ws) - 1),"
                 " i -> concat(element_at(ws, i), ' ',"
                 " element_at(ws, i + 1)))")).alias("bigram")))
    bc = (pairs.groupBy("bigram")
          .agg(F.count("*").cast("long").alias("c_ab"))
          .filter(F.col("c_ab") >= 5))
    btot = (w.filter(F.size("ws") >= 2)
            .agg(F.sum(F.size("ws").cast("long") - 1)
                 .cast("long").alias("b")))
    surv = bc.select("bigram", "c_ab",
                     F.split("bigram", " ").getItem(0).alias("w1"),
                     F.split("bigram", " ").getItem(1).alias("w2"))
    ua = uc.select(F.col("word").alias("w1"), F.col("c").alias("ca"))
    ub = uc.select(F.col("word").alias("w2"), F.col("c").alias("cb"))
    scored = (ua.join(surv, "w1")
              .join(ub.join(surv.select("w2").distinct(), "w2"), "w2")
              .crossJoin(tot)
              .crossJoin(btot)
              .select("bigram", "c_ab",
                      F.round((F.col("c_ab").cast("double")
                               * F.col("t").cast("double")
                               * F.col("t").cast("double"))
                              / (F.col("b").cast("double")
                                 * F.col("ca").cast("double")
                                 * F.col("cb").cast("double")),
                              6).alias("lift")))
    return scored.orderBy(F.desc("lift"), "bigram").limit(50)


#: Literal retrieval workload for text_bm25_topk: a fixed handful of
#: (query_id, term) rows, the shape a batch retrieval-eval job feeds
#: in. Terms are drawn from the corpus vocabulary so every query has
#: matches; the same literals are inlined into the oracle VALUES.
_BM25_QUERIES: tuple[tuple[str, str], ...] = (
    ("q1", "hash"), ("q1", "join"),
    ("q2", "window"), ("q2", "agg"), ("q2", "stream"),
    ("q3", "customer"), ("q3", "order"), ("q3", "table"),
    ("q4", "vector"), ("q4", "scan"),
)
_BM25_K1 = 1.2
_BM25_B = 0.75


def _bm25_values_sql() -> str:
    return ", ".join(f"('{q}', '{t}')" for q, t in _BM25_QUERIES)


@register("text_bm25_topk", oracle=f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), dl AS (
  SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl FROM d
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CAST(dl AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
           AS avgdl
  FROM dl
), q(query_id, term) AS (VALUES {_bm25_values_sql()}),
tf AS (
  SELECT doc_id, u.w AS term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM d, LATERAL (SELECT unnest(ws) AS w) u
  WHERE u.w IN (SELECT DISTINCT term FROM q)
  GROUP BY doc_id, u.w
), dfreq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
), scored AS (
  SELECT q.query_id, t.doc_id,
         CAST(((s.n_docs - f.df + 0.5) / (f.df + 0.5))
              * (t.tf * {_BM25_K1 + 1.0!r})
              / (t.tf + {_BM25_K1!r}
                 * ({1.0 - _BM25_B!r} + {_BM25_B!r} * (dl.dl / s.avgdl)))
           AS DECIMAL(28,12)) AS contrib
  FROM q
  JOIN tf t ON t.term = q.term
  JOIN dfreq f ON f.term = q.term
  JOIN dl ON dl.doc_id = t.doc_id
  CROSS JOIN stats s
), agg AS (
  SELECT query_id, doc_id, SUM(contrib) AS score_dec
  FROM scored GROUP BY query_id, doc_id
)
SELECT query_id, doc_id,
       ROUND(CAST(score_dec AS DOUBLE), 6) AS bm25
FROM (
  SELECT query_id, doc_id, score_dec,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score_dec DESC, doc_id) AS rn
  FROM agg
) WHERE rn <= 10
""", doc="BM25 top-10 retrieval over the documents table for a query "
         "workload read from storage (the workload rows are staged as "
         "a parquet table and scanned back — swap the staged dir for "
         "a real query-log path and the plan is unchanged) — the "
         "lexical half of every RAG / "
         "retrieval-eval pipeline, as one batch dataflow. Uses the "
         "RSJ RATIONAL idf (N - df + 0.5)/(df + 0.5) instead of its "
         "logarithm — per-term it is the same monotone evidence "
         "weight, and avoiding libm keeps both engines bit-identical "
         "(the repo-wide no-log convention; documented deviation "
         "from textbook BM25). Per-term contributions are cast to "
         "DECIMAL(28,12) before summing so the per-doc score is an "
         "exact associative sum (no float-order drift), and the "
         "top-10 ranks on the exact decimal with a doc_id tiebreak. "
         "Scale shape: token explode is pre-filtered by the "
         "BROADCAST query-term set, so tf/df shuffles carry only "
         "query-term postings (|terms| tiny, postings bounded by "
         "corpus df) — the corpus-wide vocabulary is never "
         "shuffled; avgdl is one map-side-combined scalar; final "
         "ranking is a per-query window over candidate docs only. Audit note (accepted 4-scan flag): the postings, doc-length, avgdl and candidate arms each read a term-pruned projection of documents; the pruned re-scans are smaller than any materialized postings table at this query count.")
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..operators.similarity import top_k_per_query
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", F.split("text", " ").alias("ws"))
    dl = d.select("doc_id", F.size("ws").cast("long").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("long").alias("n_docs"),
        (F.sum(F.col("dl").cast("decimal(18,6)")).cast("double")
         / F.count("*")).alias("avgdl"))
    # The query workload is READ FROM STORAGE, not a driver literal:
    # stage the (query_id, term) rows as a tiny parquet table and scan
    # it back, so the plan shape is the production one — a query-
    # workload table joined/broadcast against the corpus (swap the
    # staged dir for the real workload path and nothing else changes).
    # mkdtemp per invocation: concurrent sessions never share staging.
    # The rows are built as a JVM VALUES relation (functions/values.py)
    # — createDataFrame over Python rows is a 32-partition Python RDD
    # whose coalesce(1) write boots one Python worker per parent
    # partition serially (measured 5 s for 19 rows on local[32]).
    from ..functions.values import values_df
    qdir = os.path.join(staging_dir("ksds_bm25_"), "queries")
    (values_df(spark, list(_BM25_QUERIES), "query_id string, term string")
     .coalesce(1).write.parquet(qdir))
    q = spark.read.parquet(qdir)
    terms = q.select("term").distinct()
    words = (d.select("doc_id", F.explode("ws").alias("term"))
             .join(terms, "term"))
    tf = (words.groupBy("doc_id", "term")
          .agg(F.count("*").cast("long").alias("tf")))
    dfreq = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    k1, b = _BM25_K1, _BM25_B
    contrib = (((F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
               * (F.col("tf") * F.lit(k1 + 1.0))
               / (F.col("tf") + F.lit(k1)
                  * (F.lit(1.0 - b)
                     + F.lit(b) * (F.col("dl") / F.col("avgdl")))))
    scored = (q.join(tf, "term")
              # dfreq is one row per query term (_BM25_QUERIES).
              .join(F.broadcast(dfreq), "term")
              .join(dl, "doc_id")
              .crossJoin(stats)
              .select("query_id", "doc_id",
                      contrib.cast("decimal(28,12)").alias("contrib")))
    agg = (scored.groupBy("query_id", "doc_id")
           .agg(F.sum("contrib").alias("score_dec")))
    return (top_k_per_query(agg, 10, F.desc("score_dec"), "doc_id")
            .select("query_id", "doc_id",
                    F.round(F.col("score_dec").cast("double"), 6)
                    .alias("bm25")))


@register("text_bpe_merge_step", oracle="""
WITH w AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
), wc AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM w
  WHERE regexp_matches(word, '^[a-z]+$') GROUP BY word
), rep0 AS (
  SELECT word, n,
         array_to_string(regexp_extract_all(word, '.'), '|') AS seq
  FROM wc
), p0 AS (
  SELECT syms[i] AS a, syms[i + 1] AS b, SUM(n) AS cnt
  FROM (SELECT n, string_split(seq, '|') AS syms FROM rep0),
       LATERAL (SELECT unnest(range(1, len(syms))) AS i)
  GROUP BY a, b
), best AS (
  SELECT a AS ba, b AS bb FROM p0
  ORDER BY cnt DESC, a, b LIMIT 1
), rep1 AS (
  SELECT n, replace(seq, ba || '|' || bb, ba || bb) AS seq, ba, bb
  FROM rep0 CROSS JOIN best
), p1 AS (
  SELECT ba, bb, syms[i] AS sym_a, syms[i + 1] AS sym_b,
         CAST(SUM(n) AS BIGINT) AS cnt
  FROM (SELECT n, ba, bb, string_split(seq, '|') AS syms FROM rep1),
       LATERAL (SELECT unnest(range(1, len(syms))) AS i)
  GROUP BY ba, bb, sym_a, sym_b
)
SELECT rank, sym_a, sym_b, cnt, merged_pair FROM (
  SELECT row_number() OVER (ORDER BY cnt DESC, sym_a, sym_b)
           AS rank,
         sym_a, sym_b, cnt, ba || '+' || bb AS merged_pair
  FROM p1
) WHERE rank <= 20
""", doc="One BPE tokenizer-training merge iteration — the inner step "
         "of training a byte-pair-encoding vocabulary over the "
         "corpus, end to end: (1) weighted adjacent-symbol pair "
         "counts over the word-frequency dictionary, (2) the argmax "
         "pair (count desc, lexicographic tiebreak — deterministic "
         "on both engines), (3) the merge APPLIED to every word's "
         "symbol sequence via separator-joined string replace — "
         "left-to-right non-overlapping in both engines, exactly "
         "BPE's greedy merge semantics ('a a a' merges once, not "
         "twice) — and (4) the post-merge top-20 pair counts, i.e. "
         "the input to the NEXT iteration. Scale shape: everything "
         "past the first groupBy operates on the DISTINCT-WORD "
         "dictionary with frequency weights (the real BPE trainer's "
         "data structure), never corpus rows — the word count is "
         "one map-side-combined shuffle, pair counting shuffles "
         "|vocab|-bounded pair partials, and the chosen pair joins "
         "back as a broadcast 1-row table (no driver collect). "
         "Iterating = re-running steps 1-4 on rep1, same dataflow "
         "per round.")
def text_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    docs = load_table(spark, sf_dir, "documents")
    wc = (docs.select(F.explode(F.split("text", " ")).alias("word"))
          .filter(F.col("word").rlike("^[a-z]+$"))
          .groupBy("word").agg(F.count("*").cast("long").alias("n")))
    rep0 = wc.select(
        "n", F.expr("array_join(regexp_extract_all(word, '.', 0), '|')")
        .alias("seq"))

    def pair_counts(rep, extra_cols):
        syms = rep.select(*extra_cols, "n",
                          F.split("seq", "[|]").alias("syms"))
        pairs = syms.select(
            *extra_cols, "n",
            # sequence(1, 0) DESCENDS in Spark ([1, 0]), so 1-symbol
            # words need the explicit empty branch (DuckDB's range(1,1)
            # is empty on its own).
            F.explode(F.expr(
                "CASE WHEN size(syms) < 2 THEN"
                " array() "
                "ELSE transform(sequence(1, size(syms) - 1),"
                " i -> named_struct('a', element_at(syms, i),"
                " 'b', element_at(syms, i + 1))) END")).alias("p"))
        return (pairs.select(*extra_cols, "n", "p.a", "p.b")
                .groupBy(*extra_cols, "a", "b")
                .agg(F.sum("n").cast("long").alias("cnt")))

    p0 = pair_counts(rep0, [])
    best = (p0.orderBy(F.desc("cnt"), "a", "b").limit(1)
            .select(F.col("a").alias("ba"), F.col("b").alias("bb")))
    rep1 = (rep0.crossJoin(best)
            .select("n", "ba", "bb",
                    F.expr("replace(seq, concat(ba, '|', bb),"
                           " concat(ba, bb))").alias("seq")))
    p1 = (pair_counts(rep1, ["ba", "bb"])
          .withColumnRenamed("a", "sym_a").withColumnRenamed("b", "sym_b"))
    w = W.orderBy(F.desc("cnt"), "sym_a", "sym_b")
    return (p1.select(F.row_number().over(w).cast("long").alias("rank"),
                      "sym_a", "sym_b", "cnt",
                      F.concat("ba", F.lit("+"), "bb").alias("merged_pair"))
            .filter(F.col("rank") <= 20))


@register("text_bpe_merge_2step", oracle="""
WITH w AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
), wc AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM w
  WHERE regexp_matches(word, '^[a-z]+$') GROUP BY word
), rep0 AS (
  SELECT word, n,
         array_to_string(regexp_extract_all(word, '.'), '|') AS seq
  FROM wc
), p0 AS (
  SELECT syms[i] AS a, syms[i + 1] AS b, SUM(n) AS cnt
  FROM (SELECT n, string_split(seq, '|') AS syms FROM rep0),
       LATERAL (SELECT unnest(range(1, len(syms))) AS i)
  GROUP BY a, b
), best1 AS (
  SELECT a AS ba, b AS bb FROM p0
  ORDER BY cnt DESC, a, b LIMIT 1
), rep1 AS (
  SELECT n, replace(seq, ba || '|' || bb, ba || bb) AS seq
  FROM rep0 CROSS JOIN best1
), p1 AS (
  SELECT syms[i] AS a, syms[i + 1] AS b, SUM(n) AS cnt
  FROM (SELECT n, string_split(seq, '|') AS syms FROM rep1),
       LATERAL (SELECT unnest(range(1, len(syms))) AS i)
  GROUP BY a, b
), best2 AS (
  SELECT a AS ba2, b AS bb2 FROM p1
  ORDER BY cnt DESC, a, b LIMIT 1
), rep2 AS (
  SELECT n, replace(seq, ba2 || '|' || bb2, ba2 || bb2) AS seq
  FROM rep1 CROSS JOIN best2
), p2 AS (
  SELECT syms[i] AS sym_a, syms[i + 1] AS sym_b,
         CAST(SUM(n) AS BIGINT) AS cnt
  FROM (SELECT n, string_split(seq, '|') AS syms FROM rep2),
       LATERAL (SELECT unnest(range(1, len(syms))) AS i)
  GROUP BY sym_a, sym_b
)
SELECT rank, sym_a, sym_b, cnt, merge1, merge2 FROM (
  SELECT row_number() OVER (ORDER BY cnt DESC, sym_a, sym_b) AS rank,
         sym_a, sym_b, cnt,
         (SELECT ba || '+' || bb FROM best1) AS merge1,
         (SELECT ba2 || '+' || bb2 FROM best2) AS merge2
  FROM p2
) WHERE rank <= 20
""", doc="TWO chained BPE merge iterations over one dataflow — the "
         "proof of text_bpe_merge_step's 'iterating = re-running "
         "steps 1-4' claim: merge 1 is chosen and applied, merge 2 is "
         "chosen FROM THE MERGED SEQUENCES (its argmax ranges over "
         "pairs that can include the new symbol) and applied on top, "
         "and the output is the post-merge-2 top-20 pair table (the "
         "next iteration's input) tagged with both chosen merges. "
         "Same determinism contract per round: count-desc + "
         "lexicographic argmax, greedy left-to-right non-overlapping "
         "replace (engine-identical), exact integer weights. Scale "
         "shape per iteration is unchanged — everything past the word "
         "count runs on the distinct-word dictionary, each chosen "
         "pair rides back as a broadcast 1-row table; k merges = k "
         "repeats of the same |vocab|-bounded dataflow, never a "
         "corpus rescan (the word count is computed once per branch "
         "consumption, |corpus|-side cost only at the first groupBy).")
def text_bpe_merge_2step(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    docs = load_table(spark, sf_dir, "documents")
    wc = (docs.select(F.explode(F.split("text", " ")).alias("word"))
          .filter(F.col("word").rlike("^[a-z]+$"))
          .groupBy("word").agg(F.count("*").cast("long").alias("n")))
    rep0 = wc.select(
        "n", F.expr("array_join(regexp_extract_all(word, '.', 0), '|')")
        .alias("seq"))
    # The distinct-word dictionary is the reused operand of every
    # iteration: materialize it once (64-ish chars per word, |vocab|
    # rows) so the corpus explode+count never replays per branch.
    rep0 = truncated_checkpoint(rep0)

    def pair_counts(rep):
        syms = rep.select("n", F.split("seq", "[|]").alias("syms"))
        pairs = syms.select(
            "n",
            F.explode(F.expr(
                "CASE WHEN size(syms) < 2 THEN"
                " array() "
                "ELSE transform(sequence(1, size(syms) - 1),"
                " i -> named_struct('a', element_at(syms, i),"
                " 'b', element_at(syms, i + 1))) END")).alias("p"))
        return (pairs.select("n", "p.a", "p.b")
                .groupBy("a", "b")
                .agg(F.sum("n").cast("long").alias("cnt")))

    def choose_and_apply(rep):
        best = (pair_counts(rep).orderBy(F.desc("cnt"), "a", "b").limit(1)
                .select(F.col("a").alias("ba"), F.col("b").alias("bb")))
        merged = truncated_checkpoint(
            rep.crossJoin(best)
            .select("n",
                    F.expr("replace(seq, concat(ba, '|', bb),"
                           " concat(ba, bb))").alias("seq")))
        return merged, best

    rep1, best1 = choose_and_apply(rep0)
    rep2, best2 = choose_and_apply(rep1)
    p2 = (pair_counts(rep2)
          .withColumnRenamed("a", "sym_a").withColumnRenamed("b", "sym_b"))
    w = W.orderBy(F.desc("cnt"), "sym_a", "sym_b")
    m1 = best1.select(F.concat("ba", F.lit("+"), "bb").alias("merge1"))
    m2 = best2.select(F.concat("ba", F.lit("+"), "bb").alias("merge2"))
    return (p2.select(F.row_number().over(w).cast("long").alias("rank"),
                      "sym_a", "sym_b", "cnt")
            .filter(F.col("rank") <= 20)
            .crossJoin(m1)
            .crossJoin(m2))


@register("feature_hash_vectorize", oracle="""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
  FROM documents
), bt AS (
  SELECT (CAST('0x' || substr(md5(token), 1, 15) AS BIGINT) % 64)
           AS bucket,
         token, COUNT(*) AS n
  FROM tok GROUP BY 1, 2
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(SUM(n) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens,
       MIN(token) AS example_token
FROM bt GROUP BY bucket
""", doc="Feature hashing (the hashing trick, "
         "sklearn.HashingVectorizer / VW): tokens map to a FIXED "
         "64-bucket feature space via a content hash — no vocabulary "
         "dictionary to build, broadcast, or keep consistent across "
         "workers, which is why the trick scales where vocab-indexed "
         "bag-of-words (text_tfidf_top_terms' dictionary) doesn't. "
         "Bucket = md5-derived 60-bit uniform int mod 64, the "
         "engine-identical gate the sampling suite already pins. "
         "Reported per bucket: total token mass, distinct tokens "
         "(collisions made visible — the trick's accuracy cost), an "
         "example token. Scale shape: tokenize is scan-side explode; "
         "the (bucket, token) pre-agg map-side-combines the corpus "
         "down to the vocabulary before the 64-key rollup — the "
         "corpus-sized stream never shuffles raw, and per-doc hashed "
         "vectors (the training-time form) would be the same "
         "dataflow grouped by (doc_id, bucket), still "
         "dictionary-free.")
def feature_hash_vectorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.expr(
            "regexp_extract_all(lower(text), '[a-z]+', 0)"))
        .alias("token"))
    bt = (tok.groupBy(
            F.expr("pmod(CAST(conv(substring(md5(token), 1, 15), 16, 10)"
                   " AS BIGINT), 64)").alias("bucket"),
            "token")
          .agg(F.count("*").alias("n")))
    return (bt.groupBy("bucket")
            .agg(F.sum("n").cast("long").alias("n_tokens"),
                 F.count("*").cast("long").alias("n_distinct_tokens"),
                 F.min("token").alias("example_token"))
            .select(F.col("bucket").cast("long").alias("bucket"),
                    "n_tokens", "n_distinct_tokens", "example_token"))


@register("text_bpe_encode", oracle="""
WITH w AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word
  FROM documents
), wa AS (
  SELECT doc_id, word FROM w WHERE regexp_matches(word, '^[a-z]+$')
), wc AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM wa GROUP BY word
), rep0 AS (
  SELECT word, n,
         array_to_string(regexp_extract_all(word, '.'), '|') AS seq
  FROM wc
), p0 AS (
  SELECT syms[i] AS a, syms[i + 1] AS b, SUM(n) AS cnt
  FROM (SELECT n, string_split(seq, '|') AS syms FROM rep0),
       LATERAL (SELECT unnest(range(1, len(syms))) AS i)
  GROUP BY a, b
), best1 AS (
  SELECT a AS ba, b AS bb FROM p0
  ORDER BY cnt DESC, a, b LIMIT 1
), rep1 AS (
  SELECT word, n, replace(seq, ba || '|' || bb, ba || bb) AS seq
  FROM rep0 CROSS JOIN best1
), p1 AS (
  SELECT syms[i] AS a, syms[i + 1] AS b, SUM(n) AS cnt
  FROM (SELECT n, string_split(seq, '|') AS syms FROM rep1),
       LATERAL (SELECT unnest(range(1, len(syms))) AS i)
  GROUP BY a, b
), best2 AS (
  SELECT a AS ba2, b AS bb2 FROM p1
  ORDER BY cnt DESC, a, b LIMIT 1
), rep2 AS (
  SELECT word, n, replace(seq, ba2 || '|' || bb2, ba2 || bb2) AS seq
  FROM rep1 CROSS JOIN best2
), tok AS (
  SELECT word, CAST(len(string_split(seq, '|')) AS BIGINT) AS n_tok
  FROM rep2
)
SELECT wa.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(len(wa.word)) AS BIGINT) AS n_chars,
       CAST(SUM(t.n_tok) AS BIGINT) AS n_tokens
FROM wa JOIN tok t ON t.word = wa.word
GROUP BY wa.doc_id
""", doc="BPE ENCODE — the apply side that completes the "
         "text_bpe_merge_step/2step learn side: train two merges on "
         "the corpus (identical argmax/apply dataflow, word identity "
         "retained through the merge rounds), derive each distinct "
         "word's encoded TOKEN COUNT from its merged symbol "
         "sequence, and tokenize every document against that learned "
         "dictionary — per doc: word count, character count, and "
         "post-BPE token count (chars - tokens = merges fired, the "
         "compression the vocabulary buys). This is the real "
         "token-budget accounting step of a training-data pipeline, "
         "with the tokenizer LEARNED FROM the corpus it encodes, "
         "end to end in one plan. Scale shape: the merge rounds run "
         "on the checkpointed distinct-word dictionary (|vocab| "
         "rows, Heaps-law sublinear); encoding joins the per-doc "
         "word counts to that dictionary on the word key — a "
         "map-side-combined (doc, word) pre-agg keeps the join input "
         "at distinct-words-per-doc, and the final rollup is one "
         "doc_id-key agg. No corpus-sized operand ever carries "
         "symbol sequences; documents exchange only (word, count) "
         "pairs.")
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    wa = (docs.select("doc_id",
                      F.explode(F.split("text", " ")).alias("word"))
          .filter(F.col("word").rlike("^[a-z]+$")))
    wc = (wa.groupBy("word").agg(F.count("*").cast("long").alias("n")))
    rep0 = truncated_checkpoint(wc.select(
        "word", "n",
        F.expr("array_join(regexp_extract_all(word, '.', 0), '|')")
        .alias("seq")))

    def pair_counts(rep):
        syms = rep.select("n", F.split("seq", "[|]").alias("syms"))
        pairs = syms.select(
            "n",
            F.explode(F.expr(
                "CASE WHEN size(syms) < 2 THEN"
                " array() "
                "ELSE transform(sequence(1, size(syms) - 1),"
                " i -> named_struct('a', element_at(syms, i),"
                " 'b', element_at(syms, i + 1))) END")).alias("p"))
        return (pairs.select("n", "p.a", "p.b")
                .groupBy("a", "b")
                .agg(F.sum("n").cast("long").alias("cnt")))

    def choose_and_apply(rep):
        best = (pair_counts(rep).orderBy(F.desc("cnt"), "a", "b").limit(1)
                .select(F.col("a").alias("ba"), F.col("b").alias("bb")))
        return truncated_checkpoint(
            rep.crossJoin(best)
            .select("word", "n",
                    F.expr("replace(seq, concat(ba, '|', bb),"
                           " concat(ba, bb))").alias("seq")))

    rep2 = choose_and_apply(choose_and_apply(rep0))
    tok = rep2.select(
        "word",
        F.expr("CAST(size(split(seq, '[|]')) AS BIGINT)").alias("n_tok"))
    # Map-side combine: (doc, word) counts before the dictionary join,
    # so the join input is distinct-words-per-doc, not raw tokens.
    dw = (wa.groupBy("doc_id", "word")
          .agg(F.count("*").cast("long").alias("k")))
    return (dw.join(tok, "word")
            .groupBy("doc_id")
            .agg(F.sum("k").cast("long").alias("n_words"),
                 F.sum(F.col("k") * F.length("word")).cast("long")
                 .alias("n_chars"),
                 F.sum(F.col("k") * F.col("n_tok")).cast("long")
                 .alias("n_tokens")))


@register("text_bigram_lm_score", oracle="""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS syms FROM documents
), bg AS (
  SELECT doc_id, syms[i] AS a, syms[i + 1] AS b
  FROM d, LATERAL (SELECT unnest(range(1, len(syms))) AS i)
), cb AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY a, b
), top_bg AS (
  SELECT a, b, c FROM (
    SELECT a, b, c, row_number() OVER (ORDER BY c DESC, a, b) AS rn
    FROM cb
  ) WHERE rn <= 1000
), cu AS (
  SELECT a, CAST(SUM(c) AS BIGINT) AS c FROM cb GROUP BY a
)
SELECT bg.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(COALESCE(t.c, 0)) AS BIGINT) AS sum_bigram_freq,
       CAST(SUM(CASE WHEN t.a IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov_bigrams,
       CAST(SUM(u.c) AS BIGINT) AS sum_context_freq,
       CAST(SUM(COALESCE(t.c, 0)) AS DOUBLE)
         / CAST(SUM(u.c) AS DOUBLE) AS cond_mass
FROM bg
LEFT JOIN top_bg t ON t.a = bg.a AND t.b = bg.b
JOIN cu u ON u.a = bg.a
GROUP BY bg.doc_id
""", doc="Bigram language-model quality score — the conditional "
         "upgrade of text_unigram_lm_score's CCNet-style LM filter: "
         "documents are scored by how much CORPUS BIGRAM MASS their "
         "adjacent-token pairs carry relative to their contexts' "
         "total continuation mass (sum c(a,b) / sum c(a,*)), plus "
         "an out-of-model bigram count against a top-1000 capped "
         "bigram table. Production swaps the count tables for KenLM "
         "log-probs; the statistic here is exact-integer sums + ONE "
         "IEEE division, so the oracle hash-matches while the "
         "dataflow is the production shape: corpus bigram counts "
         "(one map-side-combined pair shuffle), the capped model "
         "via TakeOrderedAndProject broadcast back, CONTEXT totals "
         "derived from the bigram counts (|vocab| rows, never a "
         "second corpus pass), and per-doc scoring as one "
         "word-key join + doc rollup. Single-token documents have "
         "no bigram and drop out on both engines.")
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bg = (docs.select(
        "doc_id", F.split("text", " ").alias("syms"))
        .select("doc_id", F.explode(F.expr(
            "CASE WHEN size(syms) < 2 THEN array() "
            "ELSE transform(sequence(1, size(syms) - 1),"
            " i -> named_struct('a', element_at(syms, i),"
            " 'b', element_at(syms, i + 1))) END")).alias("p"))
        .select("doc_id", "p.a", "p.b"))
    cb = truncated_checkpoint(
        bg.groupBy("a", "b").agg(F.count("*").cast("long").alias("c")))
    top_bg = (cb.orderBy(F.desc("c"), "a", "b").limit(1000)
              .withColumnRenamed("c", "cb"))
    cu = (cb.groupBy("a").agg(F.sum("c").cast("long").alias("cu")))
    j = (bg.join(top_bg, ["a", "b"], "left")
         .join(cu, "a"))
    return (j.groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_bigrams"),
                 F.sum(F.coalesce("cb", F.lit(0))).cast("long")
                 .alias("sum_bigram_freq"),
                 F.sum(F.when(F.col("cb").isNull(), 1).otherwise(0))
                 .cast("long").alias("n_oov_bigrams"),
                 F.sum("cu").cast("long").alias("sum_context_freq"),
                 (F.sum(F.coalesce("cb", F.lit(0))).cast("double")
                  / F.sum("cu").cast("double")).alias("cond_mass")))


@register("grouped_quantile_normalize", oracle="""
WITH d AS (
  SELECT doc_id, lang, n_chars FROM documents
), g AS (
  SELECT d.*,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n_chars, doc_id) AS r,
         COUNT(*) OVER (PARTITION BY lang) AS n_g,
         row_number() OVER (ORDER BY n_chars, doc_id) AS grank,
         COUNT(*) OVER () AS n
  FROM d
), p AS (
  SELECT doc_id, lang, n_chars, r, n_g,
         CASE WHEN n_g > 1 THEN 1 + ((r - 1) * (n - 1)) // (n_g - 1)
              ELSE 1 + (n - 1) // 2 END AS pos
  FROM g
)
SELECT p.doc_id, p.lang, p.n_chars,
       CAST(p.r AS BIGINT) AS grp_rank,
       CAST(p.n_g AS BIGINT) AS n_g,
       CAST(g2.n_chars AS BIGINT) AS norm_chars
FROM p JOIN g g2 ON g2.grank = p.pos
""", doc="Quantile normalization across groups — the rank-based "
         "distribution-matching transform (limma/batch-effect "
         "correction, feature calibration across corpora): each "
         "document's length feature is replaced by the GLOBAL "
         "distribution's value at the document's within-group "
         "quantile, so every language's length distribution becomes "
         "the same (the pooled) distribution while preserving "
         "within-group order. The inverse-CDF pick is pure integer "
         "position arithmetic (pos = 1 + (r-1)(N-1) div (n_g-1), "
         "singleton groups map to the median) followed by an "
         "EQUI-join on global rank — no theta join, no value "
         "interpolation, engine-identical. Scale shape: the "
         "within-group rank is a per-lang window; the GLOBAL rank — "
         "the step that naively needs a single-partition window over "
         "the corpus — composes the distributed exact ranker "
         "(operators.ranks.attach_global_rank: bounded footer-sized "
         "sample, range-partitioned pid windows, <=num_parts count "
         "rows collected), the same machinery customer_rfm_segments "
         "and compute_range_splits already prove; the final lookup "
         "shuffles on the integer position key. The oracle states "
         "the same spec with ordinary global windows.")
def grouped_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    from ..operators.ranks import attach_global_rank, auto_sample_mod
    from ..sources.tables import table_row_count
    d = truncated_checkpoint(
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars"))
    wg = W.partitionBy("lang").orderBy("n_chars", "doc_id")
    ng = d.groupBy("lang").agg(F.count("*").alias("n_g"))
    # ng is one row per language; Spark sizes it at the documents scan.
    r = (d.withColumn("r", F.row_number().over(wg))
         .join(F.broadcast(ng), "lang"))
    mod = auto_sample_mod(table_row_count(sf_dir, "documents"), 32,
                          target_per_part=128)
    ranked, total = attach_global_rank(
        d, [("n_chars", "asc"), ("doc_id", "asc")],
        rank_col="grank", num_parts=32, sample_mod=mod)
    pos = (F.when(F.col("n_g") > 1,
                  F.expr(f"1 + ((r - 1) * {total - 1}) div (n_g - 1)"))
           .otherwise(F.lit(1 + (total - 1) // 2)))
    glook = ranked.select(F.col("grank").alias("pos"),
                          F.col("n_chars").alias("norm_chars"))
    return (r.withColumn("pos", pos)
            .join(glook, "pos")
            .select("doc_id", "lang", "n_chars",
                    F.col("r").cast("long").alias("grp_rank"),
                    F.col("n_g").cast("long").alias("n_g"),
                    F.col("norm_chars").cast("long").alias("norm_chars")))


@register("text_winnowing_fingerprint", oracle="""
WITH toks AS (
  SELECT doc_id,
         unnest(generate_series(1, len(string_split(text, ' ')))) AS pos,
         unnest(string_split(text, ' ')) AS w
  FROM documents
), grams AS (
  SELECT doc_id, pos,
         CAST('0x' || substr(md5(w || ' ' || lead(w, 1) OVER wd || ' '
                                 || lead(w, 2) OVER wd), 1, 15)
              AS BIGINT) AS h,
         lead(w, 2) OVER wd AS w2
  FROM toks
  WINDOW wd AS (PARTITION BY doc_id ORDER BY pos)
), g AS (
  SELECT doc_id, pos, h FROM grams WHERE w2 IS NOT NULL
), s AS (
  SELECT doc_id, h,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS pm,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS nm
  FROM g
), sel AS (
  SELECT doc_id, h,
         CASE WHEN (pm IS NULL OR h <= pm) AND (nm IS NULL OR h < nm)
              THEN 1 ELSE 0 END AS is_fp
  FROM s
)
SELECT doc_id,
       COUNT(*) AS n_grams,
       CAST(SUM(is_fp) AS BIGINT) AS n_selected,
       COUNT(DISTINCT CASE WHEN is_fp = 1 THEN h END) AS n_distinct_fp,
       CAST(SUM(is_fp) AS DOUBLE) / COUNT(*) AS density
FROM sel GROUP BY doc_id
""", doc="Winnowing document fingerprinting (Schleimer-Wilkerson-Aiken,"
         " the MOSS algorithm): word 3-gram rolling hashes, and a gram "
         "is SELECTED iff it is the window-local minimum — <= every "
         "hash in the 3 grams before it and strictly < every hash in "
         "the 3 after (the rightmost-min tie rule), i.e. the w=4 "
         "window-min selection that guarantees at least one "
         "fingerprint in every w consecutive grams while keeping the "
         "selected set ~2/(w+1) of all grams — position-robust where "
         "doc_fingerprint's fixed-stride sampling is not (an inserted "
         "word shifts every downstream stride gram; winnowing "
         "re-selects only within w of the edit). Per-doc output: gram "
         "count, selected count, distinct fingerprints, density. "
         "Scale shape: ONE doc_id shuffle end to end — the 3-gram "
         "build (two lead() frames), the two min frames, and the "
         "final per-doc rollup all ride the same per-doc sort; hashes "
         "are the repo's md5 convention so fingerprints are "
         "engine-portable and stable under retries, and cross-doc "
         "collision joins (the MOSS match step) would be an equi-join "
         "on the selected-fingerprint column, O(collisions) not "
         "O(n^2).")
def text_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id",
                       F.posexplode(F.split("text", " ")).alias("pos", "w"))
    wd = W.partitionBy("doc_id").orderBy("pos")
    grams = (toks
             .withColumn("w1", F.lead("w", 1).over(wd))
             .withColumn("w2", F.lead("w", 2).over(wd))
             .filter(F.col("w2").isNotNull())
             .select("doc_id", "pos",
                     F.expr("CAST(conv(substring(md5(concat_ws(' ', w, w1,"
                            " w2)), 1, 15), 16, 10) AS BIGINT)").alias("h")))
    s = (grams
         .withColumn("pm", F.min("h").over(wd.rowsBetween(-3, -1)))
         .withColumn("nm", F.min("h").over(wd.rowsBetween(1, 3))))
    is_fp = F.when((F.col("pm").isNull() | (F.col("h") <= F.col("pm")))
                   & (F.col("nm").isNull() | (F.col("h") < F.col("nm"))),
                   F.lit(1)).otherwise(F.lit(0))
    return (s.select("doc_id", "h", is_fp.alias("is_fp"))
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_grams"),
                 F.sum("is_fp").cast("long").alias("n_selected"),
                 F.countDistinct(F.when(F.col("is_fp") == 1, F.col("h")))
                 .alias("n_distinct_fp"),
                 (F.sum("is_fp").cast("double") / F.count("*"))
                 .alias("density")))


@register("text_keyword_rake", oracle=f"""
WITH ph AS (
  SELECT doc_id, unnest(list_filter(
    list_transform(
      string_split(array_to_string(
        list_transform(string_split(text, ' '),
                       w -> CASE WHEN w IN ({_SW_SQL}) THEN '|'
                            ELSE w END), ' '), '|'),
      p -> trim(p)),
    p -> p <> '')) AS phrase
  FROM documents
), pw AS (
  SELECT phrase, len(string_split(phrase, ' ')) AS plen,
         unnest(string_split(phrase, ' ')) AS word
  FROM ph
), ws AS (
  SELECT word,
         CAST(1000 * SUM(plen) AS BIGINT) // COUNT(*) AS score_m
  FROM pw GROUP BY word
), occ AS (
  SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occ FROM ph GROUP BY phrase
), dp AS (
  SELECT DISTINCT phrase FROM ph
), scored AS (
  SELECT d.phrase,
         CAST(SUM(w.score_m) AS BIGINT) AS score_m,
         CAST(len(string_split(d.phrase, ' ')) AS BIGINT) AS n_words
  FROM (SELECT phrase, unnest(string_split(phrase, ' ')) AS word
        FROM dp) d
  JOIN ws w USING (word)
  GROUP BY d.phrase
)
SELECT s.phrase, s.n_words, o.n_occ, s.score_m
FROM scored s JOIN occ o USING (phrase)
ORDER BY s.score_m DESC, s.phrase
LIMIT 20
""", doc="RAKE keyword extraction (Rose et al. 2010) — the unsupervised "
         "keyphrase miner: candidate phrases are maximal stopword-free "
         "word runs (stopwords become '|' separators inside the row, "
         "one split — no lookahead regex, so the Java and RE2 engines "
         "agree by construction), each word scores degree/frequency "
         "(degree = summed length of phrases containing it), and a "
         "phrase scores the sum of its member words. Word scores are "
         "floor-quantized to integer milli-units (the text_dsir move) "
         "so every reduction is an exact integer sum — no float "
         "accumulation anywhere, bit-identical top-20. Scale shape: "
         "phrase extraction is row-local HOFs; word stats are ONE "
         "map-side-combined vocabulary agg; phrase scoring re-joins "
         "the vocab-sized score table to the distinct-phrase word "
         "explode (both dictionary-scale, not corpus-scale); the "
         "final top-20 is TakeOrderedAndProject, never a full sort.")
def text_keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sw = ", ".join(f"'{w}'" for w in STOPWORDS)
    ph = docs.select(F.explode(F.expr(
        f"filter(transform(split(concat_ws(' ',"
        f" transform(split(text, ' '),"
        f"  w -> IF(w IN ({sw}), '|', w))), '[|]'),"
        f" p -> trim(p)), p -> p != '')")).alias("phrase"))
    pw = ph.select(
        "phrase", F.size(F.split("phrase", " ")).alias("plen"),
        F.explode(F.split("phrase", " ")).alias("word"))
    ws = (pw.groupBy("word")
          .agg(F.expr("CAST(1000 * SUM(plen) AS BIGINT) div COUNT(*)")
               .alias("score_m")))
    occ = ph.groupBy("phrase").agg(F.count("*").cast("long").alias("n_occ"))
    dp = ph.distinct()
    dw = dp.select("phrase", F.explode(F.split("phrase", " ")).alias("word"))
    scored = (dw.join(ws, "word")
              .groupBy("phrase")
              .agg(F.sum("score_m").cast("long").alias("score_m"),
                   F.count("*").cast("long").alias("n_words")))
    return (scored.join(occ, "phrase")
            .select("phrase", "n_words", "n_occ", "score_m")
            .orderBy(F.desc("score_m"), "phrase").limit(20))


@register("pack_sequences_bestfit", oracle=f"""
WITH d AS (
  SELECT doc_id, doc_id % {_PACK_SHARDS} AS shard,
         LEAST(CAST(len(string_split(text, ' ')) AS BIGINT),
               {_PACK_CAP}) AS n_tok
  FROM documents
), s AS (
  SELECT shard,
         list(n_tok ORDER BY n_tok DESC, doc_id) AS lens,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS total_tok
  FROM d GROUP BY shard
), f AS (
  SELECT shard, n_docs, total_tok,
         list_reduce(
           list_prepend(CAST([] AS BIGINT[]),
                        list_transform(lens, l -> [l])),
           (acc, e) -> CASE
             WHEN len(list_filter(acc,
                        b -> b + e[1] <= {_PACK_CAP})) = 0
             THEN list_append(acc, e[1])
             ELSE list_transform(acc, (b, i) -> CASE
               WHEN i = list_position(acc,
                          list_max(list_filter(acc,
                            b2 -> b2 + e[1] <= {_PACK_CAP})))
               THEN b + e[1] ELSE b END)
           END) AS bins
  FROM s
)
SELECT shard, n_docs, total_tok,
       CAST(len(bins) AS BIGINT) AS n_bins,
       CAST((total_tok + {_PACK_CAP} - 1) // {_PACK_CAP} AS BIGINT)
         AS lower_bound,
       CAST(len(bins) * {_PACK_CAP} - total_tok AS BIGINT)
         AS waste_tok,
       ROUND(CAST(total_tok AS DOUBLE)
             / (len(bins) * {_PACK_CAP}), 6) AS fill_ratio,
       CAST(list_max(bins) AS BIGINT) AS max_load,
       CAST(list_min(bins) AS BIGINT) AS min_load
FROM f
""", doc="Best-fit-decreasing WHOLE-DOCUMENT packing — the no-split "
         "complement of pack_sequences (split packing truncates "
         "attention context mid-document; sample-aware pipelines pack "
         "documents intact and pad): docs sort length-DESC per shard "
         "(doc_id tiebreak), each placed into the FULLEST bin that "
         "still fits, else a new bin — the classic BFD 11/9·OPT+1 "
         "bound. The bin state is a LIST accumulator in the in-row "
         "fold (the events_cusum shape one rung up: list, not "
         "scalar), updated via position-indexed transform; the "
         "oracle's list_reduce needs elements lifted to one-element "
         "lists (acc/element types must match) but has no "
         "field-assignment sequencing, so the holt quirk does not "
         "apply — and all arithmetic is integers, hash-exact. "
         "Reported per shard: bins used vs the ceil(total/cap) lower "
         "bound, waste, fill ratio, extreme loads. Scale shape: ONE "
         "shard shuffle (shards scale with the cluster exactly as "
         "pack_sequences documents); the fold is O(docs x bins) "
         "in-row with bins bounded by docs-per-shard; overlong docs "
         "clamp to cap rather than opening unfillable bins.")
def pack_sequences_bestfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cap = _PACK_CAP
    d = docs.select(
        "doc_id",
        F.pmod("doc_id", F.lit(_PACK_SHARDS)).alias("shard"),
        F.least(F.size(F.split("text", " ")).cast("long"),
                F.lit(cap).cast("long")).alias("n_tok"))
    s = (d.groupBy("shard")
         .agg(F.expr(f"array_sort(collect_list(struct("
                     f"CAST({cap} AS BIGINT) - n_tok AS inv,"
                     f" doc_id AS doc_id, n_tok AS n_tok)))").alias("a"),
              F.count("*").cast("long").alias("n_docs"),
              F.sum("n_tok").cast("long").alias("total_tok"))
         .select("shard", "n_docs", "total_tok",
                 F.expr("transform(a, e -> e.n_tok)").alias("lens")))
    best = (f"array_max(filter(acc, b -> b + l <= {cap}))")
    step = (f"IF(size(filter(acc, b -> b + l <= {cap})) = 0,"
            f" concat(acc, array(l)),"
            f" transform(acc, (b, i) ->"
            f"  IF(i = array_position(acc, {best}) - 1, b + l, b)))")
    fold = F.expr(
        f"aggregate(lens, CAST(array() AS ARRAY<BIGINT>),"
        f" (acc, l) -> {step})")
    f_ = s.select("shard", "n_docs", "total_tok", fold.alias("bins"))
    return f_.select(
        "shard", "n_docs", "total_tok",
        F.size("bins").cast("long").alias("n_bins"),
        F.expr(f"(total_tok + {cap} - 1) div {cap}").cast("long")
        .alias("lower_bound"),
        (F.size("bins").cast("long") * cap - F.col("total_tok"))
        .cast("long").alias("waste_tok"),
        F.round(F.col("total_tok").cast("double")
                / (F.size("bins").cast("long") * cap), 6)
        .alias("fill_ratio"),
        F.expr("array_max(bins)").cast("long").alias("max_load"),
        F.expr("array_min(bins)").cast("long").alias("min_load"))


@register("text_ngram_novelty", oracle="""
WITH d AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, len(string_split(text, ' ')) - 1),
           i -> md5(array_to_string(
                  string_split(text, ' ')[i:i+2], ' ')))) AS grams
  FROM documents
), per_doc AS (
  SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams FROM d
), g AS (
  SELECT doc_id, unnest(grams) AS gram FROM d
), first_seen AS (
  SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram
), novel AS (
  SELECT first_doc AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_novel
  FROM first_seen GROUP BY 1
)
SELECT p.doc_id, p.n_grams,
       COALESCE(n.n_novel, 0) AS n_novel,
       CASE WHEN p.n_grams = 0 THEN 0.0 ELSE
         ROUND(CAST(COALESCE(n.n_novel, 0) AS DOUBLE) / p.n_grams, 6)
       END AS novelty
FROM per_doc p LEFT JOIN novel n USING (doc_id)
""", doc="First-occurrence n-gram novelty scoring — the contribution/"
         "freshness metric diversity-aware data selection ranks by "
         "(a doc whose 3-grams all appeared in earlier docs adds "
         "little; dedup finds copies, THIS finds near-zero-marginal-"
         "value remixes): every distinct word-3-gram is attributed "
         "to its earliest doc_id (in corpus order — swap in a "
         "timestamp at 100 TB), and a doc's novelty is the fraction "
         "of its distinct grams it introduced. Dataflow: in-row gram "
         "build + md5 (the winnowing/doc_fingerprint machinery), ONE "
         "digest-keyed shuffle carrying (16-byte gram hash, doc_id) "
         "for the global first-occurrence MIN, then doc-keyed "
         "integer rollups joined on doc_id — all counts exact, one "
         "final division. The gram text itself never shuffles.")
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Per-doc distinct grams built IN ROW (array_distinct before the
    # explode): the digest shuffle receives each (doc, gram) once with
    # NO (doc_id, gram) distinct exchange, and the per-doc gram count
    # is a scan-side projection, not an aggregation.
    # Short-document guard (matches text_bigram_lm_score's): with <3
    # words Spark's sequence(1, n-2) STEPS DOWN (start > stop), so the
    # transform would evaluate slice(w, 0, 3) and throw — the oracle's
    # range() is empty there instead.  Empty grams also zeroes n_grams,
    # which the novelty division guards on both sides.
    # let-bound token split (operators.dedup.let): the naive spelling
    # re-evaluates split(text, ' ') inside the transform lambda — once
    # per gram, O(words^2) splits per document (the CollapseProject
    # pitfall the minhash pipeline documented; r12: this was the
    # sweep's worst honest hot spot at sf0.1, 20.8 s -> 2.8 s).
    from ..operators.dedup import let
    d = docs.select(
        "doc_id",
        F.expr(let(
            "split(text, ' ')", "w",
            "CASE WHEN size(w) < 3"
            " THEN CAST(array() AS ARRAY<STRING>)"
            " ELSE array_distinct(transform("
            " sequence(1, size(w) - 2),"
            " i -> md5(array_join(slice(w, i, 3),"
            " ' ')))) END")).alias("grams"))
    per_doc = d.select(
        "doc_id", F.size("grams").cast("long").alias("n_grams"))
    g = d.select("doc_id", F.explode("grams").alias("gram"))
    first_seen = g.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    novel = (first_seen.groupBy(F.col("first_doc").alias("doc_id"))
             .agg(F.count("*").cast("long").alias("n_novel")))
    return (per_doc.join(novel, "doc_id", "left")
            .select("doc_id", "n_grams",
                    F.coalesce("n_novel", F.lit(0)).cast("long")
                    .alias("n_novel"),
                            F.when(F.col("n_grams") == 0, F.lit(0.0))
                    .otherwise(F.round(
                        F.coalesce("n_novel", F.lit(0)).cast("double")
                        / F.col("n_grams"), 6)).alias("novelty")))


#: CDC boundary gate: a chunk boundary opens BEFORE word i (i>0) iff
#: the 60-bit md5 integer of the bigram (w[i-1] + ' ' + w[i]) is
#: divisible by _CDC_MOD — expected chunk length = _CDC_MOD words.
_CDC_MOD = 8


@register("text_cdc_chunks", oracle=f"""
WITH ws AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), flags AS (
  SELECT doc_id,
         list_transform(w, (x, i) -> struct_pack(
           pos := CAST(i AS BIGINT), word := x,
           b := CASE WHEN i = 1 THEN 0
                WHEN (CAST('0x' || substr(md5(w[i - 1] || ' ' || x),
                           1, 15) AS BIGINT) % {_CDC_MOD}) = 0
                THEN 1 ELSE 0 END)) AS toks
  FROM ws
), tok AS (
  SELECT doc_id, unnest(toks) AS t FROM flags
), chunked AS (
  SELECT doc_id, t.pos AS pos, t.word AS word,
         SUM(t.b) OVER (PARTITION BY doc_id ORDER BY t.pos) AS chunk_id
  FROM tok
), chunks AS (
  SELECT doc_id, chunk_id,
         md5(string_agg(word, ' ' ORDER BY pos)) AS digest,
         CAST(COUNT(*) AS BIGINT) AS n_words
  FROM chunked GROUP BY doc_id, chunk_id
)
SELECT digest AS chunk_digest, MIN(n_words) AS chunk_words,
       CAST(COUNT(*) AS BIGINT) AS n_occ,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       MIN(doc_id) AS first_doc
FROM chunks
GROUP BY digest
ORDER BY n_occ DESC, chunk_digest
LIMIT 25
""", doc="Content-defined chunking (the LBFS/rsync/restic rolling-hash "
         "primitive, here Gear-style over words): a chunk boundary "
         "opens wherever the md5 of the local 2-word window hits "
         "0 mod 8 — boundaries depend only on LOCAL content, so an "
         "insertion reshapes only its own chunk while every chunk "
         "downstream keeps its identity, the property that lets "
         "chunk-level dedup catch shifted/excerpted near-dups that "
         "fixed-stride blocking misses (and the storage-side "
         "complement of the token-level dedup family).  Top-25 most "
         "duplicated chunk digests with occurrence/document counts "
         "and earliest owner.  Dataflow: boundary flags are computed "
         "IN-ROW by an indexed transform over the split array (no "
         "lag window, no self-join); ONE doc_id shuffle carries "
         "(pos, word, flag) for the running-sum chunk-id window and "
         "the per-chunk rollup rides the same sort; the digest agg "
         "map-side combines and TakeOrdered bounds the result.  "
         "Scale: at 100 TB the only corpus-sized exchanges are the "
         "doc-keyed window sort and the digest agg — both linear, "
         "no quadratic term at any duplication rate (cf. the LSH "
         "families, whose candidate sets grow with dup clusters).")
def text_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators.dedup import let
    docs = load_table(spark, sf_dir, "documents")
    gate = (f"pmod(CAST(conv(substring(md5(concat(element_at(w, i), "
            f"' ', x)), 1, 15), 16, 10) AS BIGINT), {_CDC_MOD})")
    # let-bind the token split (operators.dedup.let): the boundary
    # lambda reads element_at(w, i), and a plain aliased-column w
    # collapses INTO the lambda (CollapseProject), re-running
    # split(text) once per token — the r12 O(words^2) pitfall, found
    # live by the r13 invariant-lambda audit heuristic this gate now
    # pins to zero (tests/test_plan_audit_gate.py).
    toks = docs.select(
        "doc_id",
        F.expr(let(
            "split(text, ' ')", "w",
            f"transform(w, (x, i) -> struct("
            f"CAST(i AS BIGINT) AS pos, x AS word, "
            f"CASE WHEN i = 0 THEN 0 WHEN {gate} = 0 THEN 1 "
            f"ELSE 0 END AS b))")).alias("toks"))
    tok = toks.select("doc_id", F.explode("toks").alias("t"))
    wc = W.partitionBy("doc_id").orderBy("t.pos")
    chunked = tok.select(
        "doc_id", F.col("t.pos").alias("pos"),
        F.col("t.word").alias("word"),
        F.sum("t.b").over(wc).alias("chunk_id"))
    chunks = (chunked.groupBy("doc_id", "chunk_id")
              .agg(F.expr("md5(concat_ws(' ', transform(array_sort("
                          "collect_list(struct(pos, word))), "
                          "e -> e.word)))").alias("digest"),
                   F.count("*").cast("long").alias("n_words")))
    return (chunks.groupBy(F.col("digest").alias("chunk_digest"))
            .agg(F.min("n_words").alias("chunk_words"),
                 F.count("*").cast("long").alias("n_occ"),
                 F.countDistinct("doc_id").cast("long").alias("n_docs"),
                 F.min("doc_id").alias("first_doc"))
            .orderBy(F.desc("n_occ"), "chunk_digest")
            .limit(25))


@register("text_kneser_ney_counts", oracle="""
WITH ws AS (
  SELECT string_split(text, ' ') AS w FROM documents
), bi AS (
  SELECT t.b.w1 AS w1, t.b.w2 AS w2 FROM (
    SELECT unnest(list_transform(range(2, len(w) + 1),
           i -> struct_pack(w1 := w[i - 1], w2 := w[i]))) AS b
    FROM ws
  ) t
), c2 AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM bi GROUP BY w1, w2
), uni AS (
  SELECT w2 AS word, CAST(SUM(c) AS BIGINT) AS c_w FROM c2 GROUP BY w2
), lc AS (
  SELECT w2 AS word, CAST(COUNT(*) AS BIGINT) AS n_left FROM c2
  GROUP BY w2
), rc AS (
  SELECT w1 AS word, CAST(COUNT(*) AS BIGINT) AS n_right FROM c2
  GROUP BY w1
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS t_bigrams,
         CAST(COUNT(*) AS BIGINT) AS b_types
  FROM c2
)
SELECT u.word, u.c_w, l.n_left,
       COALESCE(r.n_right, 0) AS n_right,
       (1000 * u.c_w) // t.t_bigrams AS p_raw_milli,
       (1000 * l.n_left) // t.b_types AS p_cont_milli
FROM uni u
JOIN lc l ON u.word = l.word
LEFT JOIN rc r ON u.word = r.word
CROSS JOIN tot t
ORDER BY l.n_left DESC, u.word
LIMIT 20
""", doc="Kneser-Ney continuation-count tables — the count statistics "
         "the best classical LM smoothing runs on (Kneser-Ney's "
         "insight: a word's unigram weight should be how many "
         "DISTINCT contexts it follows, not how often it occurs — "
         "'Francisco' is frequent but only ever follows 'San'): "
         "bigram type/token counts, per-word left-context fan-in "
         "N1+(.w) and right-context fan-out N1+(w.), raw vs "
         "continuation probability in integer per-mille, top-20 by "
         "continuation count.  The divergence between p_raw and "
         "p_cont IS the Kneser-Ney correction.  Scale shape: bigrams "
         "build IN-ROW (indexed transform over the split array — no "
         "lag window), ONE map-side-combined (w1, w2) count, and "
         "everything after runs on the bigram-TYPE dictionary, never "
         "token occurrences; scalars broadcast back; TakeOrdered "
         "bounds the result.")
def text_kneser_ney_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # 1-word guard (the bpe_encode/pair_counts convention): Spark's
    # sequence(2, 1) steps DOWN to [2, 1], so i=1 would evaluate
    # element_at(w, 0) and throw; the oracle's range(2, len+1) is
    # simply empty for len=1.  Explode drops the empty arrays.
    bi = (docs.select(F.split("text", " ").alias("w"))
          .select(F.explode(F.expr(
              "CASE WHEN size(w) < 2"
              " THEN CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>)"
              " ELSE transform(sequence(2, size(w)), "
              "i -> struct(element_at(w, i - 1) AS w1, "
              "element_at(w, i) AS w2)) END")).alias("b"))
          .select("b.w1", "b.w2"))
    # The bigram-TYPE dictionary feeds four branches (unigram mass,
    # left fan-in, right fan-out, totals); materialized once so the
    # corpus explode + count doesn't re-derive per branch (r08 plan
    # audit: 4 documents scans).  DISK_ONLY — dictionary-scale.
    from pyspark.storagelevel import StorageLevel
    c2 = truncated_checkpoint(
        bi.groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("c")),
        StorageLevel.DISK_ONLY)
    uni = (c2.groupBy(F.col("w2").alias("word"))
           .agg(F.sum("c").cast("long").alias("c_w")))
    lc = (c2.groupBy(F.col("w2").alias("word"))
          .agg(F.count("*").cast("long").alias("n_left")))
    rc = (c2.groupBy(F.col("w1").alias("word"))
          .agg(F.count("*").cast("long").alias("n_right")))
    tot = c2.agg(F.sum("c").cast("long").alias("t_bigrams"),
                 F.count("*").cast("long").alias("b_types"))
    return (uni.join(lc, "word")
            .join(rc, "word", "left")
            .crossJoin(tot)
            .select("word", "c_w", "n_left",
                    F.coalesce("n_right", F.lit(0)).cast("long")
                    .alias("n_right"),
                    F.expr("(1000 * c_w) div t_bigrams")
                    .alias("p_raw_milli"),
                    F.expr("(1000 * n_left) div b_types")
                    .alias("p_cont_milli"))
            .orderBy(F.desc("n_left"), "word")
            .limit(20))
