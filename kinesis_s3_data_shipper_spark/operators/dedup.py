"""Deduplication operators for large-scale text pipelines.

Every operator is built from JVM expressions only (higher-order array
functions, md5, xxhash64) — no Python in the hot path, nothing that
can't run inside WholeStageCodegen:

- MinHash-LSH:  :func:`minhash_lsh_index` builds each document's
                shingle hashes, signature and band buckets in ONE
                projection (no shuffle); :func:`band_probe` pairs
                documents that share a bucket (the only shuffle, its
                fan-in bounded by band collisions, not n²); each
                operator then verifies the candidates its own way.
- SimHash:      frequency-weighted bit votes from per-word md5 nibbles,
                one projection per doc.
- PPJoin:       exact set-similarity joins (char n-grams within
                blocking keys, or whitespace tokens) through one
                candidate front, :func:`_ppjoin_reps`, and one member
                expansion, :func:`_member_pairs`.

Every hash a DuckDB oracle has to reproduce (shingle hashes,
signatures, band buckets, SimHash bits) is md5-derived, so results are
deterministic and engine-portable.  PPJoin's candidate generation
hashes tokens with Spark's xxhash64 instead: no emitted value depends
on it (see :func:`_ppjoin_reps`), so no oracle needs to mirror it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .checkpoint import fixpoint, truncated_checkpoint


def let(bound_expr: str, var: str, body: str) -> str:
    """SQL let-binding: evaluate ``bound_expr`` ONCE, visible as ``var``
    inside ``body`` — spelled ``transform(array(e), v -> body)[0]``.

    Why it exists: Catalyst's CollapseProject inlines aliased columns
    into every consumer, so a chained select(tokens).select(shingles)
    .select(signature) re-evaluates the token split once per lambda
    iteration of every downstream higher-order function — measured
    ~3,500 re-splits per row for the minhash pipeline. Binding the
    expensive sub-expression to a lambda variable pins it to exactly
    one evaluation per row however the projections collapse, while
    staying 100% JVM expression (no UDF, no shuffle, no persist)."""
    return f"transform(array({bound_expr}), {var} -> {body})[0]"


#: Hashed-token slack: the PPJoin positional bound (_ppjoin_reps) and
#: the n-gram verify's hashed prefilter (_ngram_rep_pairs) both run at
#: threshold - HASH_MARGIN.  The margin absorbs up to 0.02*|union|
#: xxhash64 collisions per pair — ~10 orders of magnitude beyond the
#: collision expectation — at the cost of a handful of extra pairs
#: verified exactly.
HASH_MARGIN = 0.02


def _tap(df: DataFrame, diag: dict | None, name: str) -> DataFrame:
    """Candidate-economy tap: when ``diag`` is a dict, attach a named
    row-count Observation (a CollectMetrics node, computed as rows
    FLOW — no extra action, no plan re-execution) and record it under
    ``diag[name]``; read the numbers after an action with
    :func:`diag_counts`.  ``diag=None`` (the default everywhere)
    returns ``df`` untouched, so registered-query plans and the
    executed-plan audit never see the node.  Taps are only attached at
    single-consumer points of the DAG — a twice-referenced observed
    subtree may count rows once or twice depending on subtree reuse,
    which would make the record protocol-dependent."""
    if diag is None:
        return df
    from pyspark.sql import Observation
    obs = Observation(name)
    diag[name] = obs
    return df.observe(obs, F.count(F.lit(1)).alias("rows"))


def diag_counts(diag: dict) -> dict[str, int]:
    """Resolve a ``diag`` dict of Observations into plain row counts
    (blocks until the observed query's action has completed)."""
    return {name: int(obs.get["rows"]) for name, obs in diag.items()}


def _shingles_sql(text_col: str, k: int) -> str:
    """Distinct word k-gram shingles; the token split is let-bound so it
    runs once per row, not once per shingle."""
    body = (f"array_distinct(transform("
            f" sequence(1, greatest(size(toks) - {k - 1}, 1)),"
            f" i -> array_join(slice(toks, i, {k}), ' ')))")
    return let(f"split({text_col}, ' ')", "toks", body)


def word_shingles(text_col: str, k: int = 3) -> Column:
    """Distinct word k-gram shingles of a space-separated text column."""
    return F.expr(_shingles_sql(text_col, k))


#: The MinHash-LSH geometry of every caller: word 3-gram shingles, 16
#: permutations in 4 bands of 4 rows, pairs verified at Jaccard >= 0.5.
SHINGLE_K = 3
NUM_HASHES = 16
NUM_BANDS = 4
LSH_THRESHOLD = 0.5

#: Smallest prime above 2^32 — the modulus of the minhash permutation
#: family. (a*h' + b) with a,b < 2^28 and h' < 2^32 peaks below 2^60,
#: so the whole family is exact int64 arithmetic in ANY engine.
MINHASH_PRIME = 4_294_967_311


def perm_params(tag: str, num: int) -> list[tuple[int, int]]:
    """Deterministic (a_j, b_j) coefficients of the family
    h_j(x) = (a_j*x + b_j) mod MINHASH_PRIME, md5-derived from ``tag``
    and the index alone, so every engine (Spark, the DuckDB oracle,
    anything else) regenerates the identical family.  a_j is odd and
    below 2^28.  ``minhash`` tags the signature permutations."""
    import hashlib

    def _c(part: str, j: int) -> int:
        return int(hashlib.md5(f"{tag}-{part}-{j}".encode())
                   .hexdigest()[:7], 16)

    return [(_c("a", j) | 1, _c("b", j)) for j in range(num)]


#: Bloom-filter geometry: m bits, k=3 probe positions per key.
BLOOM_M = 8192


def bloom_pos_spark(key: str) -> list[str]:
    """The k=3 md5-derived bit positions of the string expression
    ``key`` in an m-bit bloom filter, in Spark SQL."""
    return [f"CAST(conv(substring(md5({key}), {j * 8 + 1}, 8), 16, 10)"
            f" AS BIGINT) % {BLOOM_M}" for j in range(3)]


def bloom_pos_duck(key: str) -> list[str]:
    """:func:`bloom_pos_spark` in DuckDB SQL."""
    return [f"CAST('0x' || substr(md5({key}), {j * 8 + 1}, 8) AS BIGINT)"
            f" % {BLOOM_M}" for j in range(3)]


def _signature_sql(hashes_sql: str) -> str:
    """MinHash signature over a 60-bit shingle-hash array expression.

    One md5 per shingle total: each permutation is pure int64
    arithmetic over the low 32 bits of the shingle hash — the classic
    (a*x + b) mod p universal family — instead of a salted md5 per
    (shingle, hash) pair, which costs NUM_HASHES× more hashing for the
    same collision statistics. The hash array is let-bound so it is
    computed once per row however Catalyst collapses the projections."""
    mins = ", ".join(
        f"array_min(transform(hs, h -> ({a} * (h % 4294967296) + {b})"
        f" % {MINHASH_PRIME}))"
        for a, b in perm_params("minhash", NUM_HASHES))
    return let(hashes_sql, "hs", f"array({mins})")


def lsh_bands(sig_sql: str) -> Column:
    """Band buckets: each band's signature slice joined to a string.

    The bucket only ever feeds an equality join, so the join key is the
    raw '|'-joined int slice — hashing it again (the usual md5 step)
    would burn a digest per (row, band) for zero extra selectivity."""
    rows = NUM_HASHES // NUM_BANDS
    return F.expr(let(
        sig_sql, "sig",
        f"transform(sequence(0, {NUM_BANDS - 1}),"
        f" b -> array_join(transform(slice(sig, b * {rows} + 1,"
        f" {rows}), x -> CAST(x AS STRING)), '|'))"))


def shingle_hashes(shingles_sql: str) -> Column:
    """Shingle strings → 60-bit ints (first 15 md5 hex digits).

    The exact-Jaccard verify only needs set intersect/union SIZES, so
    hashing each shingle to a fixed-width int before the candidate
    joins cuts the shuffled array bytes to 8B/element regardless of
    shingle length. md5-derived (not xxhash64) so any engine — and the
    DuckDB oracle — reproduces identical values; a collision would hit
    both sides identically. The SAME 60-bit hash seeds the minhash
    permutation family (its low 32 bits), so the whole LSH pipeline
    costs exactly one md5 per shingle.
    """
    return F.expr(f"transform({shingles_sql},"
                  f" s -> CAST(conv(substring(md5(s), 1, 15), 16, 10)"
                  f" AS BIGINT))")


def _spread(docs: DataFrame) -> DataFrame:
    """Round-robin the corpus across the cluster before the signature
    build. That projection costs ~NUM_HASHES ops per TOKEN — orders of
    magnitude more than one linear shuffle of the raw rows — so its
    stage parallelism must come from the cluster, not from however the
    input happened to be laid out (single-row-group files, one giant
    gzip, skewed file sizes all serialize it otherwise)."""
    return docs.repartition(docs.sparkSession.sparkContext
                            .defaultParallelism)


def shingle_hash_rows(docs: DataFrame, *, id_col: str,
                      text_col: str) -> DataFrame:
    """``(_id, _hsh)``: each document's 60-bit shingle hashes, the
    per-doc side of the MinHash verifies and the input of the
    signature.  Not round-robined: a verify side that only feeds a
    join gains nothing from :func:`_spread`'s extra shuffle."""
    return docs.select(F.col(id_col).alias("_id"),
                       shingle_hashes(_shingles_sql(text_col, SHINGLE_K))
                       .alias("_hsh"))


def minhash_lsh_index(docs: DataFrame, *, id_col: str,
                      text_col: str) -> DataFrame:
    """The per-document LSH index rows ``(_id, _bands, _hsh)`` — what
    an LSH index TABLE stores: band buckets for candidate probing,
    8-byte shingle hashes for the verify.  The only place a signature
    is built.  Every MinHash operator probes it with
    :func:`band_probe`; it can also be PERSISTED (parquet round-trips
    the array columns) and maintained append-only: new corpus slices
    are signed once and appended, the existing corpus is never
    re-shingled or re-signed.
    """
    return (shingle_hash_rows(_spread(docs), id_col=id_col,
                              text_col=text_col)
            .select("_id", lsh_bands(_signature_sql("_hsh")).alias("_bands"),
                    "_hsh"))


def band_probe(index: DataFrame, probe: str | None = None) -> DataFrame:
    """Candidate pairs ``(doc_a < doc_b)`` sharing >=1 band bucket of
    ``index``: each probe row (``probe`` set) is paired with the index
    rows in its buckets.  A pair is kept when the index row is not a
    probe row or has the larger id, so every pair is generated from
    one side only.  Without ``probe`` every row probes — the batch
    self-join on ``a._id < b._id``.

    ``index`` is persisted here: the join's two sides (and any verify
    that joins it to the pair ends) read it, so the signature build
    runs once.  The persist is evictable MEMORY_AND_DISK cache of
    O(docs x (bands + shingles) x 8B), spilling beyond memory."""
    index.persist(StorageLevel.MEMORY_AND_DISK)
    banded = index.select("_id", *([probe] if probe else []),
                          F.posexplode("_bands").alias("band_idx", "bucket"))
    probes, keep = banded, F.col("a._id") < F.col("b._id")
    ends = [F.col("a._id"), F.col("b._id")]
    if probe:
        probes, keep = banded.filter(probe), ~F.col(f"b.{probe}") | keep
        ends = [F.least(*ends), F.greatest(*ends)]
    return (probes.alias("a")
            .join(banded.alias("b"),
                  (F.col("a.band_idx") == F.col("b.band_idx"))
                  & (F.col("a.bucket") == F.col("b.bucket")) & keep)
            .select(ends[0].alias("doc_a"), ends[1].alias("doc_b"))
            .distinct())


def join_ends(pairs: DataFrame, per_doc: DataFrame, key: str,
              *cols: str) -> DataFrame:
    """``pairs`` (doc_a, doc_b, ...) with ``per_doc``'s ``cols`` joined
    to both ends on ``key``: column c arrives as ``c_a`` for doc_a and
    ``c_b`` for doc_b."""
    for end in ("a", "b"):
        pairs = pairs.join(per_doc.select(
            F.col(key).alias(f"doc_{end}"),
            *[F.col(c).alias(f"{c}_{end}") for c in cols]), f"doc_{end}")
    return pairs


def _lsh_jaccard(cand: DataFrame, index: DataFrame) -> DataFrame:
    """The verify of the pairs operators: hashed-shingle Jaccard of
    each candidate, kept at >= LSH_THRESHOLD.  The Jaccard is a raw
    IEEE division of two exact ints — bit-identical in any engine (no
    round(), whose half-way modes differ)."""
    return (join_ends(cand, index, "_id", "_hsh")
            .select("doc_a", "doc_b",
                    (F.size(F.array_intersect("_hsh_a", "_hsh_b"))
                     .cast("double")
                     / F.size(F.array_union("_hsh_a", "_hsh_b")))
                    .alias("jaccard"))
            .filter(F.col("jaccard") >= LSH_THRESHOLD))


def minhash_lsh_pairs(docs: DataFrame, *, id_col: str,
                      text_col: str) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH with exact Jaccard verify.

    Returns (doc_a, doc_b, jaccard) for candidate pairs sharing ≥1 LSH
    band bucket whose hashed shingle-Jaccard ≥ LSH_THRESHOLD.
    """
    index = minhash_lsh_index(docs, id_col=id_col, text_col=text_col)
    return _lsh_jaccard(band_probe(index), index)


def minhash_lsh_candidates(docs: DataFrame, *, id_col: str,
                           text_col: str) -> DataFrame:
    """Candidate pairs (doc_a, doc_b) sharing >=1 LSH band bucket.

    The candidate-generation half of minhash_lsh_pairs, exposed for
    verifies other than Jaccard (e.g. edit distance): any pairwise
    predicate applied to this set costs O(candidates), not O(n^2).
    Only the band buckets are kept in the probe's cache.
    """
    return band_probe(minhash_lsh_index(docs, id_col=id_col,
                                         text_col=text_col)
                       .select("_id", "_bands"))


def minhash_lsh_pairs_incremental(base_index: DataFrame,
                                  delta_index: DataFrame) -> DataFrame:
    """Near-dup pairs INVOLVING AT LEAST ONE DELTA doc — the
    append-only maintenance step of MinHash-LSH dedup (the streaming
    counterpart of :func:`minhash_lsh_pairs`): only the delta's band
    rows probe the (base ∪ delta) index, so per-epoch cost is
    O(|delta| x bucket-collision width), independent of corpus size —
    base x base is never re-paired and base docs are never re-signed
    (their index rows come straight from the stored table). Output
    matches the batch pipeline filtered to delta-involving pairs
    (oracle-proven in plans/dedup.py); dedup decisions already made
    for the old corpus are therefore never revisited.

    Cache lifetime: as the designated PER-EPOCH maintenance step this
    would otherwise accumulate the probe's index cache across
    invocations until eviction pressure, so the small pair output is
    materialized here (:func:`truncated_checkpoint`) and the index
    cache is dropped before returning.
    """
    index = (base_index.withColumn("_probe", F.lit(False))
             .unionByName(delta_index.withColumn("_probe", F.lit(True))))
    out = truncated_checkpoint(
        _lsh_jaccard(band_probe(index, "_probe"), index))
    index.unpersist()
    return out


#: Cap on label-propagation rounds, the initial labels included.
_CC_ROUNDS = 25


def connected_components(edges: DataFrame) -> DataFrame:
    """Connected components over an undirected (doc_a, doc_b) edge list
    via min-label propagation: every node's label converges to the
    smallest node id reachable from it. Returns (node, component_id).

    This is the step that turns near-dup PAIRS into dedup CLUSTERS —
    transitive closure (A~B, B~C → {A,B,C} one group, keep one doc) —
    which pair output alone cannot express.

    Scale design: each round is one shuffle join + one min-agg, i.e.
    the same dataflow GraphFrames/Pregel uses, run through
    :func:`~.checkpoint.fixpoint` (lineage truncated every round, one
    observed change count per round). Rounds needed = graph diameter,
    and near-dup graphs are unions of small dense clusters (diameter
    ≲ a few), so the loop exits after 2-4 rounds. For adversarial
    long-chain graphs, swap in large-star/small-star (O(log n) rounds)
    — the per-round dataflow is identical.
    """
    from pyspark.sql import Observation

    sym = (edges.select(F.col("doc_a").alias("s"), F.col("doc_b").alias("d"))
           .union(edges.select(F.col("doc_b").alias("s"),
                               F.col("doc_a").alias("d")))
           .distinct()
           .persist(StorageLevel.MEMORY_AND_DISK))
    # Round one straight off the edge list (it is symmetric, so every
    # node is some edge's d): the least of a node's id and its
    # neighbours' ids.
    first = truncated_checkpoint(
        sym.groupBy(F.col("d").alias("node"))
        .agg(F.least(F.col("node"), F.min("s")).alias("label")))

    def step(labels):
        nbr = (sym.join(labels, F.col("s") == F.col("node"))
               .groupBy(F.col("d").alias("node"))
               .agg(F.min("label").alias("nbr_label")))
        obs = Observation()
        new = truncated_checkpoint(
            labels.join(nbr, "node", "left")
            .select("node",
                    F.least("label", F.coalesce("nbr_label", "label"))
                    .alias("label"),
                    (F.coalesce("nbr_label", "label") < F.col("label"))
                    .cast("long").alias("_changed"))
            .observe(obs, F.sum("_changed").alias("n_changed")))
        return new.drop("_changed"), obs.get["n_changed"], ()

    labels = fixpoint(first, step, rounds=_CC_ROUNDS - 1)
    sym.unpersist()
    return labels.select("node", F.col("label").alias("component_id"))


#: SimHash fingerprint width in bits.
_SIMHASH_BITS = 32


def simhash_bits(text_col: str) -> Column:
    """SimHash fingerprint as a bit-string column.

    Per bit j: every word votes ±1 by the parity of hex digit j of its
    md5; the sign of the vote sum is bit j. Frequency-weighted (words
    kept with multiplicity). Output as a '0'/'1' string of length
    _SIMHASH_BITS — portable across engines with no 64-bit signedness
    traps.
    """
    # Per-word md5s are let-bound so the split+hash pass runs once per
    # row, not once per output bit (see `let`).
    body = (f"array_join(transform(sequence(1, {_SIMHASH_BITS}),"
            f" j -> CASE WHEN"
            f"  aggregate(hs, 0, (acc, h) -> acc +"
            f"    (CASE WHEN pmod(instr('0123456789abcdef',"
            f"         substring(h, j, 1)) - 1, 2) = 1"
            f"     THEN 1 ELSE -1 END)) >= 0"
            f"  THEN '1' ELSE '0' END), '')")
    return F.expr(let(
        f"transform(split({text_col}, ' '), x -> md5(x))", "hs", body))


def char_ngrams(text_col: str, n: int = 5) -> Column:
    """Distinct character n-grams of a text column."""
    return F.expr(
        f"array_distinct(transform("
        f"  sequence(1, greatest(length({text_col}) - {n - 1}, 1)),"
        f"  i -> substring({text_col}, i, {n})))"
    )


def blocked_ngram_jaccard_pairs(docs: DataFrame, *, id_col: str,
                                text_col: str, block_cols: list[str],
                                ngram_n: int = 5,
                                threshold: float = 0.6,
                                diag: dict | None = None) -> DataFrame:
    """Exact char-n-gram Jaccard over pairs inside blocking keys,
    candidate-pruned by PPJoin prefix filtering (Xiao et al. 2008).

    Returns (doc_a < doc_b, jaccard) for every pair of docs with equal,
    non-null block columns (caller-chosen, like lang + length bucket)
    and non-null text whose char-``ngram_n``-gram set Jaccard is >=
    ``threshold``.  Candidates come from :func:`_ppjoin_reps`; the
    verify is two-stage (:func:`_ngram_rep_pairs`); the expansion to
    member pairs is :func:`_member_pairs`.  The registered oracle is
    the brute-force all-pairs Jaccard, so the filters' no-miss
    guarantee is itself under test.

    Within-group expansion is quadratic in exact-duplicate GROUP size
    because the contract is to emit every qualifying pair — that is
    the output floor, not a join inefficiency.  A corpus with
    million-copy boilerplate groups should consume the GROUP form
    (:func:`blocked_ngram_jaccard_groups`) instead.
    """
    members, rep_pairs = _ngram_rep_pairs(
        docs, id_col=id_col, text_col=text_col, block_cols=block_cols,
        ngram_n=ngram_n, threshold=threshold, diag=diag)
    # diag tap: rep_pairs is single-consumer in this form, so the
    # count is exact.
    return _member_pairs(
        members, _tap(rep_pairs, diag, "qualifying_rep_pairs"), threshold)


def _ppjoin_reps(docs: DataFrame, *, id_col: str, text_col: str,
                 block_cols: list[str], tokens, threshold: float,
                 diag: dict | None
                 ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The PPJoin candidate front of the n-gram and word-token
    set-similarity operators.  ``tokens`` maps a text column name to
    its array of DISTINCT string tokens.  Returns ``(members, reps,
    cands)``:

    - ``members`` (_id, _rep): every doc with non-null text and block
      columns, mapped to the min id of its exact-duplicate group;
    - ``reps`` (_id, *block_cols, _txt): the groups' representatives
      with their text;
    - ``cands`` (doc_a < doc_b, _sa, _sb): candidate representative
      pairs with their true token-set sizes, hash-partitioned on the
      pair.

    Steps, and why each is safe:

    - EXACT-DUPLICATE COLLAPSE (the C4/RefinedWeb order: exact dedup,
      then near-dup).  Docs group by (block, md5(text)) — a row-local
      digest, so nothing text-sized shuffles — and only each group's
      min-id representative enters the pipeline.  Identical text means
      identical token sets, so every member scores like its rep
      (:func:`_member_pairs` expands).  Without it candidate volume
      grows with (replication factor)^2.  Docs with NULL text or a NULL
      block column are dropped: the candidate equi-join is null-unsafe,
      so they never pair, while a window partition would group NULLs.
      The member map persists at two int64s per row (evictable
      MEMORY_AND_DISK cache, never dropped by the lazy plan: a
      long-lived session accumulates one per call until memory
      pressure or ``spark.catalog.clearCache()``).
    - TEXT FIRST: the rep ids join the text BEFORE any token is
      computed, so tokenizing costs O(reps), not O(docs), however
      replicated the corpus is.
    - HASHED SPACE: tokens are xxhash64'ed before they flow through the
      two window shuffles and the prefix equi-join (an 8-byte long
      shuffles, sorts and hash-joins cheaper than a string).  The
      prefix theorem holds for ANY token order consistent within a
      block; a cross-doc collision only MERGES universe elements
      (extra candidates, never a miss); the within-doc array_distinct
      keeps a collision from silently shortening a prefix; and ``_s``
      stays the TRUE string-token set size (>= the hashed size), so
      prefix length and the bounds below err long.  No emitted value is
      computed in hashed space.
    - PREFIX FILTER: tokens are ranked rarest-first by per-block
      document frequency (a count window over (block, token): block-
      local rarity is valid because pairs only form within a block),
      hash value as tiebreak; each doc keeps its prefix of
      p = s - ceil(t*s) + 1 tokens, and two docs are candidates only
      if their prefixes share a token — no pair with Jaccard >= t is
      missed.  The 1e-9 nudge keeps ceil() on the safe side of IEEE:
      if rounding pushed t*s infinitesimally past the intended
      integer, ceil would overshoot and the prefix come out one token
      SHORT, breaking the guarantee; erring long only adds candidates.
    - LENGTH FILTER: J(A,B) >= t forces t*sa <= sb <= sa/t
      (qualifying pairs have O >= t/(1+t)*(sa+sb) and O <= sb).
    - AGGREGATED POSITIONAL BOUND (PPJoin's suffix bound, per pair):
      the join emits one row per shared prefix token; per pair, with
      k shared prefix tokens at max positions (pam, pbm), the overlap
      is o <= k + least(sa - pam, sb - pbm), and qualifying pairs need
      o >= alpha = ceil(t/(1+t)*(sa+sb)).  Valid because positions
      rank tokens in one block-consistent order, so the order-largest
      shared prefix token sits at both max positions and every common
      token not counted in k lies after both of them.  In hashed space
      positions can only be <= the true ones and sa/sb are true sizes,
      so the bound errs long, and alpha is taken at threshold -
      HASH_MARGIN.
    - KEYED REPARTITION: AQE coalesces the candidate partitions by
      BYTES, but each verify is CPU-bound per PAIR, so byte-sized
      partitions leave cores idle; a hash repartition on the pair
      (deterministic under retry) sized from defaultParallelism
      spreads the verify over every core.

    ``diag`` taps (:func:`_tap`): ``cand_rows`` (candidate-join rows
    surviving the length filter — the aggregation's input) and
    ``cand_pairs`` (pairs passing the positional bound — what the
    verify touches).
    """
    from pyspark.sql import Window as W
    nn = docs.filter(F.col(text_col).isNotNull())
    for bc in block_cols:
        nn = nn.filter(F.col(bc).isNotNull())
    members = (nn
               .select(F.col(id_col).alias("_id"), *block_cols,
                       F.md5(text_col).alias("_dg"))
               .withColumn("_rep", F.min("_id").over(
                   W.partitionBy(*block_cols, "_dg")))
               .select("_id", "_rep")
               .persist(StorageLevel.MEMORY_AND_DISK))
    repids = members.filter(F.col("_id") == F.col("_rep")) \
                    .select(F.col("_id").alias("_rid"))
    txt = nn.select(F.col(id_col).alias("_id"), *block_cols,
                    F.col(text_col).alias("_txt"))
    reps = txt.join(repids, txt._id == repids._rid).drop("_rid")
    toks = (reps.select("_id", *block_cols, tokens("_txt").alias("_t"))
            .select("_id", *block_cols, F.size("_t").alias("_s"),
                    F.explode(F.array_distinct(F.transform(
                        "_t", lambda g: F.xxhash64(g)))).alias("_g")))
    ranked = (toks
              .withColumn("_df", F.count("*").over(
                  W.partitionBy(*block_cols, "_g")))
              .withColumn("_pos", F.row_number().over(
                  W.partitionBy("_id").orderBy("_df", "_g"))))
    prefix = ranked.filter(
        F.col("_pos")
        <= F.col("_s") - F.ceil(F.lit(threshold) * F.col("_s")
                                - F.lit(1e-9)) + 1)
    pa = prefix.select(*block_cols, "_g", F.col("_id").alias("doc_a"),
                       F.col("_s").alias("_sa"), F.col("_pos").alias("_pa"))
    pb = prefix.select(*block_cols, "_g", F.col("_id").alias("doc_b"),
                       F.col("_s").alias("_sb"), F.col("_pos").alias("_pb"))
    cand_rows = (pa.join(pb, [*block_cols, "_g"])
                 .filter((F.col("doc_a") < F.col("doc_b"))
                         & (F.col("_sb")
                            >= F.lit(threshold) * F.col("_sa")
                            - F.lit(1e-9))
                         & (F.col("_sa")
                            >= F.lit(threshold) * F.col("_sb")
                            - F.lit(1e-9)))
                 .select("doc_a", "doc_b", "_sa", "_sb", "_pa", "_pb"))
    th_h = threshold - HASH_MARGIN
    alpha_h = F.ceil(F.lit(th_h / (1.0 + th_h))
                     * (F.col("_sa") + F.col("_sb")) - F.lit(1e-9))
    cands = (_tap(cand_rows, diag, "cand_rows")
             .groupBy("doc_a", "doc_b", "_sa", "_sb")
             .agg(F.count("*").alias("_k"),
                  F.max("_pa").alias("_pam"),
                  F.max("_pb").alias("_pbm"))
             .filter(F.col("_k")
                     + F.least(F.col("_sa") - F.col("_pam"),
                               F.col("_sb") - F.col("_pbm"))
                     >= alpha_h)
             .select("doc_a", "doc_b", "_sa", "_sb"))
    cands = _tap(cands, diag, "cand_pairs").repartition(
        docs.sparkSession.sparkContext.defaultParallelism, "doc_a", "doc_b")
    return members, reps, cands


def _member_pairs(members: DataFrame, rep_pairs: DataFrame,
                  threshold: float,
                  sizes: DataFrame | None = None) -> DataFrame:
    """Expands qualifying representative pairs (doc_a, doc_b, *scores)
    to member pairs: a rep pair scores every cross-group member pair
    (identical token sets => identical scores), and each group's own
    member pairs score exactly 1.0 — the value array_intersect ==
    array_union gives on equal sets.  ``sizes`` (_rep, n_common) adds
    the within-group overlap, a group's token-set size."""
    scores = [c for c in rep_pairs.columns if c not in ("doc_a", "doc_b")]
    cross = (join_ends(rep_pairs, members, "_rep", "_id")
             .select(F.least("_id_a", "_id_b").alias("doc_a"),
                     F.greatest("_id_a", "_id_b").alias("doc_b"), *scores))
    within = (members.alias("x")
              .join(members.alias("y"),
                    (F.col("x._rep") == F.col("y._rep"))
                    & (F.col("x._id") < F.col("y._id")))
              .select(F.col("x._rep").alias("_rep"),
                      F.col("x._id").alias("doc_a"),
                      F.col("y._id").alias("doc_b")))
    if sizes is not None:
        within = within.join(sizes, "_rep")
    return cross.unionByName(
        within.drop("_rep").withColumn("jaccard", F.lit(1.0))
        .filter(F.lit(1.0) >= F.lit(threshold)))


def _ngram_rep_pairs(docs: DataFrame, *, id_col: str, text_col: str,
                     block_cols: list[str], ngram_n: int,
                     threshold: float, diag: dict | None
                     ) -> tuple[DataFrame, DataFrame]:
    """The n-gram operators' core: :func:`_ppjoin_reps` plus the
    two-stage verify.  Returns (members, rep_pairs (doc_a, doc_b,
    jaccard)).

    Stage 1 prefilters candidates on xxhash64-hashed gram sets (8-byte
    elements: less join payload, long compares instead of string
    compares) at threshold - HASH_MARGIN; stage 2 re-verifies the
    survivors EXACTLY on the true string grams, gramming only survivor
    texts.  Stage 2 decides every emitted score, so a hash collision can
    only cost work, never correctness, provided no true pair dies in
    stage 1: c colliding gram pairs move hashed Jaccard by <= c/|union|,
    and the margin absorbs c <= 0.02*|union| — orders of magnitude
    beyond anything reachable.  On this corpus few candidates qualify,
    so the prefilter pays; ``diag`` adds the ``hash_survivors`` tap.
    Both stages read the rep-filtered text (candidate ids are always
    reps), each side re-deriving the rep join — rep-sized re-scans
    instead of a corpus-sized gram checkpoint."""
    members, reps, cands = _ppjoin_reps(
        docs, id_col=id_col, text_col=text_col, block_cols=block_cols,
        tokens=lambda c: char_ngrams(c, ngram_n), threshold=threshold,
        diag=diag)
    hashed = F.array_distinct(F.transform(
        char_ngrams("_txt", ngram_n), lambda g: F.xxhash64(g)))
    # let-binds the intersect size (see `let`): referenced twice in
    # the Jaccard expression, and CollapseProject would otherwise
    # inline the array_intersect per reference.
    j_hash = F.expr(let(
        "size(array_intersect(_h_a, _h_b))", "i",
        "i / cast(size(_h_a) + size(_h_b) - i as double)"))
    survivors = (join_ends(cands, reps.select("_id", hashed.alias("_h")),
                           "_id", "_h")
                 .filter(j_hash >= threshold - HASH_MARGIN)
                 .select("doc_a", "doc_b"))
    survivors = _tap(survivors, diag, "hash_survivors")
    rep_pairs = (join_ends(survivors, reps, "_id", "_txt")
                 .select("doc_a", "doc_b",
                         char_ngrams("_txt_a", ngram_n).alias("_ga"),
                         char_ngrams("_txt_b", ngram_n).alias("_gb"))
                 .select("doc_a", "doc_b",
                         (F.size(F.array_intersect("_ga", "_gb"))
                          .cast("double")
                          / F.size(F.array_union("_ga", "_gb")))
                         .alias("jaccard"))
                 .filter(F.col("jaccard") >= threshold))
    return members, rep_pairs


def blocked_ngram_jaccard_groups(docs: DataFrame, *, id_col: str,
                                 text_col: str, block_cols: list[str],
                                 ngram_n: int = 5,
                                 threshold: float = 0.6,
                                 diag: dict | None = None) -> DataFrame:
    """GROUP form of :func:`blocked_ngram_jaccard_pairs` — one row per
    document: (doc_id, rep, jaccard_to_rep), where ``rep`` is the
    smallest doc id in {doc} ∪ {neighbors with Jaccard >= t in the
    same block} and ``jaccard_to_rep`` is the similarity to it (1.0
    when rep is the doc itself or an exact duplicate).

    The pairs form's output is quadratic in exact-duplicate GROUP size
    by contract, so a corpus with million-copy boilerplate pays an
    O(copies^2) output floor that no join strategy can remove.  The
    group form's output is O(docs) — the shape a production dedup
    pipeline consumes (keep rep, drop the rest, or weight by group
    size) — while the expensive part (the PPJoin over collapsed
    representatives) is IDENTICAL, so runtime is near-flat in the
    replication factor (gated by tests/test_ngram_jaccard_operator.py).

    Semantics (and why one min-label step suffices, no transitive
    closure): every member of an exact-dup group has the group's
    min-id REP as a J=1.0 neighbor, and its cross-group neighbors
    are exactly the members of groups whose rep qualifies against
    its own rep (identical gram sets => identical Jaccard).  Each
    partner group's minimum member IS its rep, so
    min({doc} ∪ neighbors) = min(own rep, min qualifying partner
    rep) — computable from the member map plus the rep-pair output
    with one symmetric min/min_by aggregation, never materializing
    member-level pairs.  Docs with NULL text or a NULL block column
    have no neighbors (null-unsafe equi-join semantics) and emit
    (doc, doc, 1.0).  For full transitive clusters use
    dedup_clusters_cc / dedup_cluster_canonicalize, which run
    connected components over pair output.
    """
    members, rep_pairs = _ngram_rep_pairs(
        docs, id_col=id_col, text_col=text_col, block_cols=block_cols,
        ngram_n=ngram_n, threshold=threshold, diag=diag)
    sym = rep_pairs.select(
        F.col("doc_a").alias("_r"), F.col("doc_b").alias("_partner"),
        "jaccard").unionByName(rep_pairs.select(
            F.col("doc_b").alias("_r"), F.col("doc_a").alias("_partner"),
            "jaccard"))
    # diag tap: rep_pairs itself is referenced twice here (both union
    # arms), so the exact-count tap sits on the single-consumer
    # symmetrized stream — sym_rows == 2 x qualifying rep pairs.
    sym = _tap(sym, diag, "sym_rows")
    best = sym.groupBy("_r").agg(
        F.min("_partner").alias("_pmin"),
        F.min_by("jaccard", "_partner").alias("_pjac"))
    scored = (members.join(best, members._rep == best._r, "left")
              .select(
                  F.col("_id").alias("doc_id"),
                  F.when(F.col("_pmin") < F.col("_rep"), F.col("_pmin"))
                   .otherwise(F.col("_rep")).alias("rep"),
                  F.when(F.col("_pmin") < F.col("_rep"), F.col("_pjac"))
                   .otherwise(F.lit(1.0)).alias("jaccard_to_rep")))
    # docs excluded from the pipeline (NULL text / NULL block) are
    # their own reps at similarity 1.0 — the brute-force answer for
    # a doc with no qualifying neighbors
    return (docs.select(F.col(id_col).alias("doc_id"))
            .join(scored, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("rep", F.col("doc_id")).alias("rep"),
                    F.coalesce("jaccard_to_rep", F.lit(1.0))
                    .alias("jaccard_to_rep")))


def setsim_prefix_pairs(docs: DataFrame, *, id_col: str = "doc_id",
                        text_col: str = "text",
                        threshold: float = 0.7,
                        diag: dict | None = None) -> DataFrame:
    """EXACT whitespace-token set-similarity self-join via PPJoin
    prefix filtering (Xiao et al. 2008) — the word-token sibling of
    :func:`blocked_ngram_jaccard_pairs`.

    Output: (doc_a < doc_b, n_common, jaccard) for every pair with
    token-set Jaccard >= ``threshold`` (jaccard rounded to 6 places);
    exact duplicates pair at jaccard 1.0 with n_common = their
    token-set size.  Candidates come from :func:`_ppjoin_reps` with no
    blocking columns.  The verify counts common STRING tokens by an
    exploded equi-join per candidate: n_common is an OUTPUT value,
    which a hashed count could inflate on a collision, and about three
    in four candidates qualify on this corpus, so a hashed prefilter
    would be wasted work.  The registered oracle is the brute-force
    all-pairs Jaccard, so the no-miss guarantee is under test.
    """
    def words(c):
        return F.array_distinct(F.split(c, " "))

    members, reps, cands = _ppjoin_reps(
        docs, id_col=id_col, text_col=text_col, block_cols=[],
        tokens=words, threshold=threshold, diag=diag)
    toks = reps.select("_id", F.explode(words("_txt")).alias("w"))
    inter = (join_ends(cands, toks, "_id", "w")
             .filter(F.col("w_a") == F.col("w_b"))
             .groupBy("doc_a", "doc_b", "_sa", "_sb")
             .agg(F.count("*").alias("n_common")))
    jac = (F.col("n_common").cast("double")
           / (F.col("_sa") + F.col("_sb") - F.col("n_common")))
    rep_pairs = (inter.filter(jac >= threshold)
                 .select("doc_a", "doc_b", "n_common",
                         F.round(jac, 6).alias("jaccard")))
    sizes = reps.select(F.col("_id").alias("_rep"),
                        F.size(words("_txt")).alias("n_common"))
    return _member_pairs(
        members, _tap(rep_pairs, diag, "qualifying_rep_pairs"), threshold,
        sizes)


def token_window_spans(docs: DataFrame, *, id_col: str, text_col: str,
                       window: int = 20,
                       with_pos: bool = False) -> DataFrame:
    """Every contiguous ``window``-token span of every document, one row
    per (doc, position): columns (doc_id, span) — plus a 0-based
    ``pos`` token offset when ``with_pos`` (posexplode), which lets a
    caller re-derive any span's text later from just (doc_id, pos)
    without carrying the text (see plans.dedup.dedup_substring_spans).

    The substring-dedup primitive: grouping these spans by content
    finds verbatim passages repeated ACROSS documents — duplication
    that document-level dedup (exact or near) cannot see, e.g. boiler-
    plate headers or licence blocks embedded in otherwise-unique pages.
    A suffix-array finds arbitrary-length repeats; the fixed-window
    rolling form is the shuffle-friendly equivalent (any repeat of
    length >= window is caught by at least one of its windows).

    The token split is let-bound so it runs once per row, not once per
    span. Output size is (n_tokens - window + 1) rows/doc — linear in
    corpus size, the same blow-up as the shingle explode in MinHash.
    """
    spans = let(
        f"split({text_col}, ' ')", "toks",
        f"transform(sequence(1, size(toks) - {window - 1}),"
        f" i -> array_join(slice(toks, i, {window}), ' '))")
    filtered = (docs
                .filter(F.expr(f"size(split({text_col}, ' ')) >= {window}")))
    if with_pos:
        return filtered.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.expr(spans)).alias("pos", "span"))
    return filtered.select(F.col(id_col).alias("doc_id"),
                           F.explode(F.expr(spans)).alias("span"))


def span_text_at(text_col: str, pos_col: str, window: int):
    """The text of the ``window``-token span of ``text_col`` starting
    at 0-based token offset ``pos_col`` — the inverse of
    :func:`token_window_spans` ``with_pos`` for one location. Built
    from the same split/slice/array_join ops so the recovered string
    is byte-identical to the exploded span."""
    return F.expr(f"array_join(slice(split({text_col}, ' '),"
                  f" {pos_col} + 1, {window}), ' ')")
