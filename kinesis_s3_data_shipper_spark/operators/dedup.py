"""Deduplication operators for large-scale text pipelines.

All four variants are built from JVM expressions only (higher-order
array functions + md5) — no Python in the hot path, nothing that can't
run inside WholeStageCodegen:

- exact:        groupBy(text) / groupBy(sha2(text)).
- MinHash+LSH:  shingle → md5 minhash signature → banded buckets →
                bucket self-join → verified Jaccard. The signature is
                computed in ONE projection (no shuffle); the only
                shuffle is the bucket join, whose fan-in is bounded by
                band collisions, not n².
- SimHash:      frequency-weighted bit votes from per-word md5 nibbles,
                one projection per doc.
- n-gram Jaccard: exact pairwise Jaccard *within blocking keys*
                (lang × length bucket) so the pair count stays linear-
                ish at scale instead of n².

Every hash is md5-derived, so results are deterministic and engine-
portable (the DuckDB oracles mirror the same md5 pipeline exactly).

Why md5 and not Spark's xxhash64/hash: those are Spark-specific; a
portable fingerprint lets the oracle (and any other engine) reproduce
signatures bit-for-bit. md5 is ~2× slower but still JVM-side and
vectorizable; swap in xxhash64 for pure-Spark deployments if desired.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


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


#: Two-stage verify prefilter slack (see _ngram_members_and_rep_pairs):
#: hashed-gram Jaccard must clear threshold - HASH_MARGIN before the
#: exact string verify runs.  The margin absorbs up to
#: 0.02*|union| xxhash64 collisions per pair — ~10 orders of magnitude
#: beyond the collision expectation — at the cost of a handful of
#: extra survivor pairs re-verified exactly.
HASH_MARGIN = 0.02


def _tap(df: DataFrame, diag: dict | None, name: str) -> DataFrame:
    """Candidate-economy tap (r12 verdict ask #2): when ``diag`` is a
    dict, attach a named row-count Observation (a CollectMetrics node,
    computed as rows FLOW — no extra action, no plan re-execution) and
    record it under ``diag[name]``; read the numbers after an action
    with :func:`diag_counts`.  ``diag=None`` (the default everywhere)
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


#: Smallest prime above 2^32 — the modulus of the minhash permutation
#: family. (a*h' + b) with a,b < 2^28 and h' < 2^32 peaks below 2^60,
#: so the whole family is exact int64 arithmetic in ANY engine.
MINHASH_PRIME = 4_294_967_311


def minhash_perm_params(num_hashes: int = 16) -> list[tuple[int, int]]:
    """Deterministic (a_j, b_j) coefficients for the permutation family
    h_j(x) = (a_j*x + b_j) mod MINHASH_PRIME — md5-derived so every
    engine (Spark, the DuckDB oracle, anything else) regenerates the
    identical family from the index alone. a_j is odd and below 2^28."""
    import hashlib

    def _c(tag: str, j: int) -> int:
        return int(hashlib.md5(f"minhash-{tag}-{j}".encode())
                   .hexdigest()[:7], 16)

    return [(_c("a", j) | 1, _c("b", j)) for j in range(num_hashes)]


def _signature_sql(hashes_sql: str, num_hashes: int) -> str:
    """MinHash signature over a 60-bit shingle-hash array expression.

    One md5 per shingle total: each permutation is pure int64
    arithmetic over the low 32 bits of the shingle hash — the classic
    (a*x + b) mod p universal family — instead of a salted md5 per
    (shingle, hash) pair, which costs num_hashes× more hashing for the
    same collision statistics. The hash array is let-bound so it is
    computed once per row however Catalyst collapses the projections."""
    mins = ", ".join(
        f"array_min(transform(hs, h -> ({a} * (h % 4294967296) + {b})"
        f" % {MINHASH_PRIME}))"
        for a, b in minhash_perm_params(num_hashes))
    return let(hashes_sql, "hs", f"array({mins})")


def _bands_sql(sig_sql: str, num_bands: int, band_size: int) -> str:
    body = (f"transform(sequence(0, {num_bands - 1}),"
            f" b -> array_join(transform(slice(sig, b * {band_size} + 1,"
            f" {band_size}), x -> CAST(x AS STRING)), '|'))")
    return let(sig_sql, "sig", body)


def lsh_bands(sig_col: str, num_bands: int, band_size: int) -> Column:
    """Band buckets: each band's signature slice joined to a string.

    The bucket only ever feeds an equality join, so the join key is the
    raw '|'-joined int slice — hashing it again (the usual md5 step)
    would burn a digest per (row, band) for zero extra selectivity."""
    return F.expr(_bands_sql(sig_col, num_bands, band_size))


def _shingle_hashes_sql(shingles_sql: str) -> str:
    return (f"transform({shingles_sql},"
            f" s -> CAST(conv(substring(md5(s), 1, 15), 16, 10)"
            f" AS BIGINT))")


def shingle_hashes(shingles_col: str) -> Column:
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
    return F.expr(_shingle_hashes_sql(shingles_col))


def _spread(docs: DataFrame) -> DataFrame:
    """Round-robin the corpus across the cluster before the signature
    build. That projection costs ~num_hashes ops per TOKEN — orders of
    magnitude more than one linear shuffle of the raw rows — so its
    stage parallelism must come from the cluster, not from however the
    input happened to be laid out (single-row-group files, one giant
    gzip, skewed file sizes all serialize it otherwise)."""
    return docs.repartition(docs.sparkSession.sparkContext
                            .defaultParallelism)


def minhash_lsh_pairs(docs: DataFrame, *, id_col: str, text_col: str,
                      shingle_k: int = 3, num_hashes: int = 16,
                      num_bands: int = 4, threshold: float = 0.5) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH with exact Jaccard verify.

    Returns (doc_a, doc_b, jaccard) for candidate pairs sharing ≥1 LSH
    band bucket whose true shingle-Jaccard ≥ threshold.
    """
    band_size = num_hashes // num_bands
    prepared = (_spread(docs)
                .select(F.col(id_col).alias("_id"),
                        word_shingles(text_col, shingle_k).alias("_shingles"))
                .withColumn("_hsh", shingle_hashes("_shingles"))
                .withColumn("_bands", lsh_bands(
                    _signature_sql("_hsh", num_hashes), num_bands, band_size))
                # Only what downstream consumes is persisted: band
                # buckets for the candidate join, 8-byte shingle hashes
                # (not raw shingle strings, not the 32B/hash signature)
                # for the Jaccard verify. The plan consumes this 4×
                # (both sides of the bucket self-join + both sides of
                # the verify); persist so the signature build runs
                # ONCE. Size is O(docs × (num_bands + shingles) × 8B)
                # — spills to disk beyond memory, which is the 100 TB
                # posture too.
                .select("_id", "_bands", "_hsh")
                .persist(StorageLevel.MEMORY_AND_DISK))

    banded = prepared.select(
        "_id", F.posexplode("_bands").alias("band_idx", "bucket"))

    a, b = banded.alias("a"), banded.alias("b")
    candidates = (
        a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
                  & (F.col("a.bucket") == F.col("b.bucket"))
                  & (F.col("a._id") < F.col("b._id")))
        .select(F.col("a._id").alias("doc_a"), F.col("b._id").alias("doc_b"))
        .distinct())

    sh = prepared.select("_id", "_hsh")
    return (
        candidates
        .join(sh.select(F.col("_id").alias("doc_a"),
                        F.col("_hsh").alias("_sh_a")), "doc_a")
        .join(sh.select(F.col("_id").alias("doc_b"),
                        F.col("_hsh").alias("_sh_b")), "doc_b")
        .select(
            "doc_a", "doc_b",
            # Raw IEEE division of two exact ints — bit-identical in any
            # engine (no round(), whose half-way modes differ).
            (F.size(F.array_intersect("_sh_a", "_sh_b")).cast("double")
             / F.size(F.array_union("_sh_a", "_sh_b"))).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold))


def minhash_lsh_index(docs: DataFrame, *, id_col: str, text_col: str,
                      shingle_k: int = 3, num_hashes: int = 16,
                      num_bands: int = 4) -> DataFrame:
    """The per-document LSH index rows ``(_id, _bands, _hsh)`` — what
    an LSH index TABLE stores: band buckets for candidate probing,
    8-byte shingle hashes for the exact-Jaccard verify. Exactly the
    projection :func:`minhash_lsh_pairs` builds internally, exposed so
    the index can be PERSISTED (parquet round-trips the array columns)
    and maintained append-only: new corpus slices are signed once and
    appended; the existing corpus is never re-shingled or re-signed.
    """
    band_size = num_hashes // num_bands
    return (_spread(docs)
            .select(F.col(id_col).alias("_id"),
                    word_shingles(text_col, shingle_k).alias("_shingles"))
            .withColumn("_hsh", shingle_hashes("_shingles"))
            .withColumn("_bands", lsh_bands(
                _signature_sql("_hsh", num_hashes), num_bands, band_size))
            .select("_id", "_bands", "_hsh"))


def minhash_lsh_pairs_incremental(base_index: DataFrame,
                                  delta_index: DataFrame, *,
                                  threshold: float = 0.5,
                                  eager_release: bool = True) -> DataFrame:
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

    Cache lifetime: the unioned index is persisted because the plan
    reads it three times (band probe + both verify sides). As the
    designated PER-EPOCH maintenance step this would otherwise
    accumulate cached blocks across invocations until eviction
    pressure, so by default (``eager_release=True``) the small pair
    output is materialized here (localCheckpoint) and the index cache
    is dropped before returning. Pass ``eager_release=False`` to keep
    the result lazy for plan composition — the CALLER then owns the
    unioned index's cache lifetime (it is released only by eviction
    or ``spark.catalog.clearCache()``).
    """
    full = (base_index.withColumn("_is_delta", F.lit(False))
            .unionByName(delta_index.withColumn("_is_delta", F.lit(True)))
            .persist(StorageLevel.MEMORY_AND_DISK))
    banded = full.select("_id", "_is_delta",
                         F.posexplode("_bands").alias("band_idx", "bucket"))
    probe = banded.filter("_is_delta").alias("a")
    cand = (probe.join(banded.alias("b"),
                       (F.col("a.band_idx") == F.col("b.band_idx"))
                       & (F.col("a.bucket") == F.col("b.bucket"))
                       & (F.col("a._id") != F.col("b._id")))
            .select(F.least("a._id", "b._id").alias("doc_a"),
                    F.greatest("a._id", "b._id").alias("doc_b"))
            .distinct())
    sh = full.select("_id", "_hsh")
    out = (cand
           .join(sh.select(F.col("_id").alias("doc_a"),
                           F.col("_hsh").alias("_sh_a")), "doc_a")
           .join(sh.select(F.col("_id").alias("doc_b"),
                           F.col("_hsh").alias("_sh_b")), "doc_b")
           .select("doc_a", "doc_b",
                   (F.size(F.array_intersect("_sh_a", "_sh_b"))
                    .cast("double")
                    / F.size(F.array_union("_sh_a", "_sh_b")))
                   .alias("jaccard"))
           .filter(F.col("jaccard") >= threshold))
    if eager_release:
        out = out.localCheckpoint()
        full.unpersist()
    return out


def connected_components(edges: DataFrame, *, src: str = "doc_a",
                         dst: str = "doc_b",
                         max_iters: int = 25) -> DataFrame:
    """Connected components over an undirected edge list via min-label
    propagation: every node's label converges to the smallest node id
    reachable from it. Returns (node, component_id).

    This is the step that turns near-dup PAIRS into dedup CLUSTERS —
    transitive closure (A~B, B~C → {A,B,C} one group, keep one doc) —
    which pair output alone cannot express.

    Scale design: each iteration is one shuffle join + one min-agg,
    i.e. the same dataflow GraphFrames/Pregel uses; `localCheckpoint`
    truncates lineage every round so plan depth stays O(1) instead of
    O(iters). Iterations needed = graph diameter, and near-dup graphs
    are unions of small dense clusters (diameter ≲ a few), so the loop
    exits after 2-4 rounds with the early-convergence check. For
    adversarial long-chain graphs, swap in large-star/small-star
    (O(log n) rounds) — the per-round dataflow is identical.

    The per-iteration driver action (the convergence count) is loop
    control, not data movement — it collects ONE number.
    """
    from pyspark.sql import Observation

    from .checkpoint import release_checkpoint, truncated_checkpoint

    sym = (edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
           .union(edges.select(F.col(dst).alias("s"), F.col(src).alias("d")))
           .distinct()
           .persist(StorageLevel.MEMORY_AND_DISK))
    # truncated_checkpoint, not plain localCheckpoint: the rounds CHAIN
    # checkpoints, the exact shape whose inherited join-product stats
    # compound exponentially (operators/checkpoint.py) — invisible at
    # the 2-4 rounds near-dup graphs need, a driver stall on the
    # long-chain graphs the large-star fallback note contemplates.
    labels = truncated_checkpoint(
        sym.select(F.col("s").alias("node")).distinct()
        .select("node", F.col("node").alias("label")))
    for i in range(max_iters):
        if i == 0:
            # Round 0: labels are still the identity (label == node),
            # so min-label-over-neighbors is just min(s) per d straight
            # off the edge list — same result, one join saved.
            nbr = (sym.groupBy(F.col("d").alias("node"))
                   .agg(F.min("s").alias("nbr_label")))
        else:
            nbr = (sym.join(labels, F.col("s") == F.col("node"))
                   .groupBy(F.col("d").alias("node"))
                   .agg(F.min("label").alias("nbr_label")))
        # One job per round: the eager localCheckpoint materializes the
        # new labels AND (via observe) counts label changes in the same
        # pass — no separate convergence-scan job.
        obs = Observation(f"cc_round_{i}")
        new = truncated_checkpoint(
            labels.join(nbr, "node", "left")
            .select("node",
                    F.least("label", F.coalesce("nbr_label", "label"))
                    .alias("label"),
                    (F.coalesce("nbr_label", "label") < F.col("label"))
                    .cast("long").alias("_changed"))
            .observe(obs, F.sum("_changed").alias("n_changed")))
        # The eager materialization above fully consumed the previous
        # round's labels — release them so live blocks stay O(1)
        # rounds, not O(rounds).  After round 0 `labels` is a Project
        # (.drop) over the checkpoint's LogicalRDD; release_checkpoint
        # unwraps unary nodes to the leaf, so this frees the previous
        # round's blocks, not a silent no-op (r09 advice).
        release_checkpoint(labels)
        labels = new.drop("_changed")
        if not obs.get["n_changed"]:
            break
    sym.unpersist()
    return labels.select("node", F.col("label").alias("component_id"))


def simhash_bits(text_col: str, num_bits: int = 32) -> Column:
    """SimHash fingerprint as a bit-string column.

    Per bit j: every word votes ±1 by the parity of hex digit j of its
    md5; the sign of the vote sum is bit j. Frequency-weighted (words
    kept with multiplicity). Output as a '0'/'1' string of length
    num_bits — portable across engines with no 64-bit signedness traps.
    """
    # Per-word md5s are let-bound so the split+hash pass runs once per
    # row, not once per output bit (see `let`).
    body = (f"array_join(transform(sequence(1, {num_bits}), j -> CASE WHEN"
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
                                eager_release: bool = False,
                                diag: dict | None = None) -> DataFrame:
    """Exact char-n-gram Jaccard over pairs inside blocking keys,
    candidate-pruned by PPJoin prefix filtering (Xiao et al. 2008).

    Blocking (caller-chosen columns like lang + length bucket) bounds
    which pairs are ELIGIBLE; the prefix filter bounds which eligible
    pairs are ever MATERIALIZED: grams are ordered rarest-first by
    per-block document frequency, each doc emits only its prefix of
    p = s - ceil(t*s) + 1 rarest grams, and two docs become a
    candidate only if their prefixes share a gram — the classical
    no-miss guarantee for Jaccard >= t.  Candidates are then verified
    exactly on the full gram arrays.

    This replaced an all-pairs-within-block self-join in r10: block
    sizes grow linearly with the corpus, so within-block pairs grow
    QUADRATICALLY — the registry-wide timing record caught the plan
    at 2.2 s (sf0.01) -> 128 s (sf0.1), a 60x blowup for 10x data
    that the blocking alone was wrongly claimed to prevent.  With the
    prefix filter every stage is linear in gram volume except the
    verify, which touches only candidate pairs.  The registered
    oracle stays the brute-force all-pairs Jaccard, so the prefix
    filter's no-miss guarantee is itself under test.

    r10b adds PPJoin's other two filters to the candidate join — the
    bare prefix join still passed 502k candidates for 77 true pairs
    at sf0.1 (natural-language grams co-occur heavily even in the
    rare 40% of each doc), so the verify dominated:

    - LENGTH: J(A,B) >= t forces t*sa <= sb <= sa/t.  (Qualifying
      pairs satisfy it: O >= t/(1+t)*(sa+sb) and O <= sb give
      sb >= t*sa.)
    - POSITIONAL (Xiao et al. 2008): a shared prefix gram at
      1-indexed order positions (pa, pb) bounds the true overlap by
      O <= 1 + min(sa-pa, sb-pb), because every other common gram
      sorts AFTER it on both sides.  Qualifying pairs need
      O >= alpha = ceil(t/(1+t)*(sa+sb)), so a candidate row may be
      dropped when 1 + min(sa-pa, sb-pb) < alpha.  No-miss: for a
      qualifying pair, its FIRST common gram in the block order lies
      within both prefixes (alpha >= ceil(t*s) on both sides given
      the length bound, and the prefix lemma puts the first common
      gram within the first s - alpha + 1 <= p positions), and THAT
      row passes the bound since 1 + min(...) >= O >= alpha.  Later
      shared rows may fail individually — a pair survives if ANY
      generating row survives, so pruning them is safe.

    Per-block df is attached with a count window over
    (block, gram) — the same shuffle the old groupBy produced, minus
    the extra 1-row-per-token join shuffle that followed it.

    r10c collapses EXACT duplicates before the near-dup machinery —
    the C4/RefinedWeb pipeline order (exact dedup, then near-dup),
    done inside the operator so callers keep one call: docs are
    grouped by (block, md5(text)) — row-local digest, so nothing
    corpus-text-sized shuffles — and only each group's min-id
    REPRESENTATIVE enters the prefix/verify pipeline.  Identical
    text means identical gram sets, and Jaccard is a set function,
    so every member of a group has the SAME similarity to everything
    as its rep: within-group pairs are emitted directly with
    jaccard = 1.0, and each qualifying rep pair expands to all
    cross-group member pairs carrying the rep pair's score.  On a
    duplication-heavy corpus this is the difference between
    candidate volume growing with (replication factor)^2 and not
    growing at all: the 10x-replicated sf0.1 step (50k docs, 10
    verbatim copies each) ran the un-collapsed plan at 39.4M
    candidates / ~290 s; collapsed, the pipeline sees the same
    4,999 distinct texts as sf0.1 (~0.4M candidates) and the rest
    is output materialization (232,700 pairs, the floor).  The
    member map (_id, _rep) persists at two int64s per row — the
    lightest corpus-rows table, NOT the gram sets the module doc
    calls the anti-goal.

    r11 makes the collapse's COMPUTE match its candidate bound:
    every gram evaluation now happens AFTER the rep-id join
    (text-first, gram-second — inline comments at the join sites).
    r10c had left char_ngrams below the rep join in the prefix
    path and fed the verify from corpus-wide scan-projections, so
    gram CPU (and, at 10x, a driver broadcast of the whole corpus's
    gram arrays) still grew with the replication factor: the x10
    step ran rep_pairs at 53 s for the identical 76-pair rep set
    that sf0.1 answers in 26 s.  Text-first takes the x10 core to
    ~sf0.1 cost (near-flat, the collapse's actual contract) and
    caps the verify's broadcast candidates at rep-sized.
    Null-text docs are excluded up front: their gram array is
    [null], which can never equi-join a candidate in the
    un-collapsed plan either.  Docs with a NULL in ANY block column
    are excluded for the same reason (r11, advice fix): the
    un-collapsed plan's candidate join is null-UNSAFE equality on
    the block columns, so such docs can never pair with anything —
    but a window PARTITION BY groups NULLs into a real partition,
    so routing them through the collapse would have let identical-
    text NULL-block docs emit jaccard=1.0 'within' pairs the
    un-collapsed plan (and the brute-force oracle) never produced.
    Filtering them out of BOTH the member map and the rep pipeline
    restores exact expansion parity (gated by
    tests/test_ngram_jaccard_operator.py::test_null_block_docs_never_pair).

    Two honest bounds on the collapse: (1) the member-map persist is
    MEMORY_AND_DISK and re-derivable, so it is evictable cache, not
    pinned blocks — the same lifetime contract as
    minhash_lsh_candidates' banded persist, and materially unlike
    the unrecoverable truncated-checkpoint blocks that need explicit
    release.  It is, however, never dropped by the lazy plan itself:
    a long-lived session invoking the operator repeatedly
    accumulates one evictable member map per call until memory
    pressure or ``spark.catalog.clearCache()``.  Per-epoch callers
    should pass ``eager_release=True`` — the pair output is
    materialized here (localCheckpoint) and the member map is
    unpersisted before returning, the
    :func:`minhash_lsh_pairs_incremental` lifecycle; the default
    stays lazy because registered-query plans must compose (and be
    audited) unexecuted.  (2) within-group expansion is quadratic in
    GROUP size
    because the operator's contract is to emit every qualifying pair
    — that is the output floor, not a join inefficiency (the
    un-collapsed plan verified AND emitted those same pairs).  A
    production corpus with million-copy boilerplate groups should
    consume the (doc, rep) GROUP form instead — dedup_exact /
    dedup_cluster_canonicalize in the registry — and skip pair
    materialization entirely.
    """
    members, rep_pairs = _ngram_members_and_rep_pairs(
        docs, id_col=id_col, text_col=text_col, block_cols=block_cols,
        ngram_n=ngram_n, threshold=threshold, diag=diag)
    # diag tap: qualifying rep pairs (post exact verify) — rep_pairs
    # is single-consumer in this form, so the count is exact.
    rep_pairs = _tap(rep_pairs, diag, "qualifying_rep_pairs")
    # Expansion: a rep pair scores every cross-group member pair
    # (identical gram sets => identical Jaccard); groups score their
    # own member pairs at exactly 1.0 (array_intersect == array_union
    # on equal sets — the value the un-collapsed plan computed).
    ma = members.select(F.col("_rep").alias("_ra"),
                        F.col("_id").alias("_ida"))
    mb = members.select(F.col("_rep").alias("_rb"),
                        F.col("_id").alias("_idb"))
    cross = (rep_pairs.join(ma, "_ra").join(mb, "_rb")
             .select(F.least("_ida", "_idb").alias("doc_a"),
                     F.greatest("_ida", "_idb").alias("doc_b"),
                     "jaccard"))
    within = (members.alias("x").join(members.alias("y"),
                                      (F.col("x._rep") == F.col("y._rep"))
                                      & (F.col("x._id") < F.col("y._id")))
              .select(F.col("x._id").alias("doc_a"),
                      F.col("y._id").alias("doc_b"),
                      F.lit(1.0).alias("jaccard"))
              .filter(F.lit(1.0) >= F.lit(threshold)))
    out = cross.unionByName(within)
    if eager_release:
        out = out.localCheckpoint()
        members.unpersist()
    return out


def _ngram_members_and_rep_pairs(
        docs: DataFrame, *, id_col: str, text_col: str,
        block_cols: list[str], ngram_n: int, threshold: float,
        diag: dict | None = None) -> tuple[DataFrame, DataFrame]:
    """Shared core of the pairs and groups forms: the exact-duplicate
    collapse plus the PPJoin rep pipeline.  Returns (members,
    rep_pairs): the persisted (_id, _rep) member map over docs with
    non-null text AND non-null block columns, and the qualifying
    (_ra < _rb, jaccard) pairs over group REPRESENTATIVES.  All
    filter derivations and safety notes live in
    :func:`blocked_ngram_jaccard_pairs`'s docstring.  ``diag`` taps
    (see :func:`_tap`): ``reps`` (collapsed representatives entering
    the PPJoin), ``cand_rows`` (candidate-join output rows surviving
    the length+positional filters, BEFORE distinct — the join/shuffle
    volume), ``cand_pairs`` (distinct candidate pairs — exactly the
    pairs the exact verify touches)."""
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
    # r11: join TEXT to the rep ids, then gram — not gram-then-join.
    # The projection below a join runs for every scanned row, so
    # gram-then-join computed char n-grams for the whole corpus and
    # discarded non-reps; on a replication-heavy corpus that made
    # the "collapsed" pipeline's CPU grow with the replication
    # factor (x10 step: rep_pairs 26 s -> 53 s for an IDENTICAL rep
    # set).  Text-first keeps every gram evaluation O(reps) — the
    # shape dedup_setsim_prefix always had (it joins repids before
    # the token explode), which is why its replicated step was flat
    # while this operator's was not.
    txt = nn.select(F.col(id_col).alias("_id"), *block_cols,
                    F.col(text_col).alias("_txt"))
    rep_txt = txt.join(repids, txt._id == repids._rid).drop("_rid")
    prepared = rep_txt.select(
        "_id", *block_cols, char_ngrams("_txt", ngram_n).alias("_grams"))
    # r13: the generation pipeline runs in HASHED gram space — the
    # exploded rows below pass through two window shuffles (per-block
    # df count, per-doc rank) and the prefix equi-join, and an 8-byte
    # long is cheaper than a UTF8String to shuffle, sort, and
    # hash-join at every one of those steps.  No-miss is preserved:
    # the prefix-filter theorem holds for ANY gram order consistent
    # within a block (here: per-block df of the HASH, hash value as
    # tiebreak), a cross-doc hash collision only MERGES universe
    # elements (df inflates identically for both docs, the candidate
    # join matches a superset — extra candidates, never a miss), the
    # within-doc array_distinct keeps a collision from silently
    # shortening a doc's effective prefix, and _s stays the TRUE
    # string-gram set size, so prefix length and the alpha bound are
    # computed against s >= s_hashed — erring long, which admits
    # candidates and never drops one.  Stage 2 decides every emitted
    # score on true string grams regardless.
    toks = prepared.select(
        "_id", *block_cols, F.size("_grams").alias("_s"),
        F.explode(F.array_distinct(F.transform(
            "_grams", lambda g: F.xxhash64(g)))).alias("_g"))
    # Per-block df: pairs only form within a block, so any order
    # that is CONSISTENT WITHIN the block is valid — block-local
    # rarity is strictly more selective than global rarity.  A count
    # window (not groupBy + join) attaches it in the ONE shuffle.
    ranked = (toks
              .withColumn("_df", F.count("*").over(
                  W.partitionBy(*block_cols, "_g")))
              .withColumn("_pos", F.row_number().over(
                  W.partitionBy("_id").orderBy("_df", "_g"))))
    # The 1e-9 nudge keeps ceil() on the safe side of IEEE: if float
    # rounding ever pushes t*s infinitesimally past the intended
    # integer, ceil overshoots by one and the prefix comes out one
    # gram SHORT — breaking the no-miss guarantee.  Short-decimal
    # constants provably never diverge (scanned to s=100k); this is
    # insurance for arbitrary thresholds (2/3, computed values).
    # Erring long is always safe — extra candidates, never misses.
    ranked = ranked.withColumn(
        "_p", F.col("_s")
        - F.ceil(F.lit(threshold) * F.col("_s") - F.lit(1e-9)) + 1)
    prefix = ranked.filter(F.col("_pos") <= F.col("_p"))
    pa = prefix.select(*block_cols, "_g", F.col("_id").alias("_ida"),
                       F.col("_s").alias("_sa"), F.col("_pos").alias("_pa"))
    pb = prefix.select(*block_cols, "_g", F.col("_id").alias("_idb"),
                       F.col("_s").alias("_sb"), F.col("_pos").alias("_pb"))
    cand_rows = (pa.join(pb, [*block_cols, "_g"])
                 .filter((F.col("_ida") < F.col("_idb"))
                         # length filter
                         & (F.col("_sb")
                            >= F.lit(threshold) * F.col("_sa")
                            - F.lit(1e-9))
                         & (F.col("_sa")
                            >= F.lit(threshold) * F.col("_sb")
                            - F.lit(1e-9)))
                 .select("_ida", "_idb", "_sa", "_sb", "_pa", "_pb"))
    cand_rows = _tap(cand_rows, diag, "cand_rows")
    # r14: AGGREGATED positional filter (PPJoin's suffix bound applied
    # per PAIR instead of per matched row).  The join emits one row
    # per SHARED prefix gram; the r13 shape deduplicated them with
    # distinct() and kept a pair if ANY single row passed the per-row
    # bound 1 + least(sa-pa, sb-pb) >= alpha — which on this corpus
    # pruned ~nothing (templated substrings put a shared gram early in
    # almost every candidate) and fed 391k pairs into the stage-1
    # verify for 76 qualifiers (NGRAM_CANDIDATE_ECONOMY.json).  The
    # same groupBy shuffle that distinct() already paid can instead
    # count the shared prefix grams k and take the max matched
    # positions, giving the far tighter TRUE upper bound on overlap:
    #
    #   o  <=  k + least(sa - max(_pa), sb - max(_pb))
    #
    # Validity: positions rank each doc's grams in the block-consistent
    # (df, hash) order, so g < g' implies pos(g) < pos(g') in EVERY doc
    # containing both.  Let g* be the order-largest shared prefix gram
    # — max(_pa) and max(_pb) are BOTH g*'s positions (order
    # consistency).  Any common gram not counted in k is outside at
    # least one prefix, hence order-greater than that doc's entire
    # prefix, hence > g* (g* sits inside both prefixes) — so it lies
    # at positions > max(_pa) AND > max(_pb), and there are at most
    # least(sa - max(_pa), sb - max(_pb)) of those.  Hashed-space
    # caveats err safe: positions come from the array_distinct'ed
    # hashed arrays (<= true positions, so the suffix terms err LONG),
    # sa/sb are TRUE string-set sizes (>= hashed sizes), and alpha is
    # computed at threshold - HASH_MARGIN — the stage-1 relaxation —
    # so the bound can only drop a qualifying pair if cross-gram hash
    # collisions eat the whole margin (~orders of magnitude beyond
    # reachable, same analysis as the stage-1 filter below; the
    # brute-force no-miss oracle gate re-attests every round).
    # Measured at sf0.1 (economy taps re-run): cand_pairs 391,303 ->
    # 39,655 entering stage 1 and cand_rows 1.46M -> 3.29M flowing into
    # this aggregation (the dropped per-row filter pruned rows, not
    # pairs — and the groupBy partial-aggregates map-side, so the extra
    # rows never cross the exchange as rows, while the verify stage
    # downstream shrinks 10x).  Qualifying pairs unchanged at 76;
    # sf0.01 cand_pairs 3,163 -> 328 at 6 qualifying.
    th_h = threshold - HASH_MARGIN
    alpha_h = F.ceil(F.lit(th_h / (1.0 + th_h))
                     * (F.col("_sa") + F.col("_sb")) - F.lit(1e-9))
    cands = (cand_rows
             .groupBy("_ida", "_idb", "_sa", "_sb")
             .agg(F.count("*").alias("_k"),
                  F.max("_pa").alias("_pam"),
                  F.max("_pb").alias("_pbm"))
             .filter(F.col("_k")
                     + F.least(F.col("_sa") - F.col("_pam"),
                               F.col("_sb") - F.col("_pbm"))
                     >= alpha_h)
             .select("_ida", "_idb"))
    cands = _tap(cands, diag, "cand_pairs")
    # r13 (optimization round): AQE coalesces the post-distinct
    # candidate partitions by BYTES (~6 MB of id pairs -> ~10
    # partitions at sf0.1), but the stage-1 verify below is CPU-bound
    # per ROW (two ~400-element hashed-gram set intersects per pair),
    # so byte-sized partitions left 2/3 of the cores idle.  An
    # explicit hash repartition on the pair key spreads the intersect
    # over every core — keyed, so it is deterministic under retry and
    # skips the keyless repartition's sort-before-repartition; sized
    # from defaultParallelism, which tracks executor core count at
    # any deployment scale (a CPU knob for a CPU-bound stage, guide
    # §2.5).  Measured min-of-3 at sf0.1: the survivors subplan
    # 7.9 s -> 5.7 s.
    cands = cands.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, "_ida", "_idb")
    # Verify sides read the REP-filtered text-first gram projection:
    # candidate ids are always reps, so corpus-wide gram arrays were
    # pure waste — and at 10x replication the old scan-projection was
    # broadcast-ESTIMATED from parquet stats and shipped the entire
    # corpus's gram arrays through the driver.  Each side re-derives
    # the (broadcast-repids) join — two rep-sized recomputes, the
    # same column-pruned-re-scan trade the module doc accepts over a
    # corpus-sized gram checkpoint; AQE picks the cands join strategy
    # from the candidates' RUNTIME size (broadcast when small,
    # shuffle of rep-sized gram arrays when not).
    #
    # r13 two-stage verify, driven by the candidate-economy record
    # (NGRAM_CANDIDATE_ECONOMY.json): candidate pairs grow ~124x for
    # a 10x corpus on this data (shared templated substrings keep
    # even block-local-rarest prefix grams collidy), and profiling
    # put ~75% of the operator's sf0.1 cost in this verify — the
    # per-pair joins ship two ~400-gram STRING arrays per candidate.
    # Stage 1 prefilters on xxhash64-hashed gram sets (8-byte
    # elements: ~2.4x less join payload, long compares instead of
    # string compares — measured 28.0 s -> 11.6 s end-to-end at
    # sf0.1) with the threshold relaxed by HASH_MARGIN; stage 2
    # re-verifies the surviving pairs EXACTLY on the true string
    # grams, gramming only survivor texts (join text first, gram
    # after — the r11 text-first rule).  Exactness: stage 2 decides
    # every emitted score, so a hash collision can only cost work
    # (an extra survivor), never correctness, PROVIDED no true pair
    # dies in stage 1 — a collision among a pair's sa+sb <= ~2k
    # grams has probability <= (sa+sb)^2/2^64 ~= 2e-13, and even c
    # colliding gram pairs move hashed Jaccard by <= c/|union|, so
    # the 0.02 margin absorbs c <= 0.02*|union| collisions — orders
    # of magnitude beyond anything reachable.  The no-miss oracle
    # gate (brute-force all-pairs) re-attests this every round.
    hashed = F.array_distinct(F.transform(
        char_ngrams("_txt", ngram_n), lambda g: F.xxhash64(g)))
    ha = rep_txt.select(F.col("_id").alias("_ida"), hashed.alias("_ha"))
    hb = rep_txt.select(F.col("_id").alias("_idb"), hashed.alias("_hb"))
    # let-binds the intersect size (see `let`): referenced twice in
    # the Jaccard expression, and CollapseProject would otherwise
    # inline the array_intersect per reference.
    j_hash = F.expr(let(
        "size(array_intersect(_ha, _hb))", "i",
        "i / cast(size(_ha) + size(_hb) - i as double)"))
    survivors = (cands.join(ha, "_ida").join(hb, "_idb")
                 .filter(j_hash >= threshold - HASH_MARGIN)
                 .select("_ida", "_idb"))
    survivors = _tap(survivors, diag, "hash_survivors")
    sa_txt = rep_txt.select(F.col("_id").alias("_ida"),
                            F.col("_txt").alias("_txta"))
    sb_txt = rep_txt.select(F.col("_id").alias("_idb"),
                            F.col("_txt").alias("_txtb"))
    rep_pairs = (survivors.join(sa_txt, "_ida").join(sb_txt, "_idb")
                 .select("_ida", "_idb",
                         char_ngrams("_txta", ngram_n).alias("_ga"),
                         char_ngrams("_txtb", ngram_n).alias("_gb"))
                 .select(
                     F.col("_ida").alias("_ra"), F.col("_idb").alias("_rb"),
                     (F.size(F.array_intersect("_ga", "_gb")).cast("double")
                      / F.size(F.array_union("_ga", "_gb")))
                     .alias("jaccard"))
                 .filter(F.col("jaccard") >= threshold))
    return members, rep_pairs


def blocked_ngram_jaccard_groups(docs: DataFrame, *, id_col: str,
                                 text_col: str, block_cols: list[str],
                                 ngram_n: int = 5,
                                 threshold: float = 0.6,
                                 eager_release: bool = False,
                                 diag: dict | None = None) -> DataFrame:
    """GROUP form of :func:`blocked_ngram_jaccard_pairs` — one row per
    document: (doc_id, rep, jaccard_to_rep), where ``rep`` is the
    smallest doc id in {doc} ∪ {neighbors with Jaccard >= t in the
    same block} and ``jaccard_to_rep`` is the similarity to it (1.0
    when rep is the doc itself or an exact duplicate).

    This is the documented escape hatch of the pairs form's second
    honest bound: pair output is quadratic in exact-duplicate GROUP
    size by contract, so a corpus with million-copy boilerplate pays
    an O(copies^2) output floor that no join strategy can remove.
    The group form's output is O(docs) — the shape a production
    dedup pipeline actually consumes (keep rep, drop the rest, or
    weight by group size) — while the expensive part of the
    computation (the PPJoin over collapsed representatives) is
    IDENTICAL, so runtime is near-flat in the replication factor
    (gated by tests/test_ngram_jaccard_operator.py).

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
    members, rep_pairs = _ngram_members_and_rep_pairs(
        docs, id_col=id_col, text_col=text_col, block_cols=block_cols,
        ngram_n=ngram_n, threshold=threshold, diag=diag)
    sym = rep_pairs.select(
        F.col("_ra").alias("_r"), F.col("_rb").alias("_partner"),
        "jaccard").unionByName(rep_pairs.select(
            F.col("_rb").alias("_r"), F.col("_ra").alias("_partner"),
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
    out = (docs.select(F.col(id_col).alias("doc_id"))
           .join(scored, "doc_id", "left")
           .select("doc_id",
                   F.coalesce("rep", F.col("doc_id")).alias("rep"),
                   F.coalesce("jaccard_to_rep", F.lit(1.0))
                   .alias("jaccard_to_rep")))
    if eager_release:
        out = out.localCheckpoint()
        members.unpersist()
    return out


def setsim_prefix_pairs(docs: DataFrame, *, id_col: str = "doc_id",
                        text_col: str = "text",
                        threshold: float = 0.7,
                        eager_release: bool = False,
                        diag: dict | None = None) -> DataFrame:
    """EXACT whitespace-token set-similarity self-join via PPJoin
    prefix filtering (Xiao et al. 2008) — the word-token sibling of
    :func:`blocked_ngram_jaccard_pairs`, extracted from the
    ``dedup_setsim_prefix`` plan so per-epoch callers get the same
    ``eager_release`` lifecycle (r11 verdict ask #6: the plan carried
    the identical per-invocation member-map persist with only a
    docstring caveat).

    Output: (doc_a < doc_b, n_common, jaccard) for every pair with
    token-set Jaccard >= ``threshold``.  Pipeline: exact-duplicate
    collapse on md5(text) (min-id representatives; members inherit
    rep scores, within-group pairs emit at jaccard 1.0 with
    n_common = s), then rarest-first global token ordering, prefix
    emission of p = s - ceil(t*s) + 1 tokens, candidate equi-join on
    prefix tokens with PPJoin's length + positional filters, and
    exact intersection-count verification.  All filter derivations,
    IEEE ceil nudges, and the collapse's two honest bounds are
    documented at :func:`blocked_ngram_jaccard_pairs`; the no-miss
    guarantee is itself oracle-gated (brute-force all-pairs) through
    the registered plan.

    ``eager_release=True`` materializes the pair output
    (localCheckpoint) and unpersists the member map before returning
    — the per-epoch lifecycle; the default stays lazy because
    registered-query plans must compose (and be audited) unexecuted,
    leaving one evictable MEMORY_AND_DISK member map per invocation
    until memory pressure or ``spark.catalog.clearCache()``.
    """
    from pyspark.sql import Window as W

    t = threshold
    nn = docs.filter(F.col(text_col).isNotNull())
    members = (nn.select(F.col(id_col).alias("_id"),
                         F.md5(text_col).alias("_dg"))
               .withColumn("_rep", F.min("_id").over(
                   W.partitionBy("_dg")))
               .select("_id", "_rep")
               .persist(StorageLevel.MEMORY_AND_DISK))
    repids = members.filter(F.col("_id") == F.col("_rep")) \
                    .select(F.col("_id").alias("_rid"))
    toks = (nn.join(repids, nn[id_col] == repids._rid).drop("_rid")
            .select(F.col(id_col).alias("doc_id"),
                    F.explode(F.array_distinct(F.split(text_col, " ")))
                    .alias("word")))
    # r13: candidate GENERATION runs in HASHED token space (the
    # blocked_ngram_jaccard_pairs rationale verbatim: 8-byte longs
    # beat UTF8Strings through the df aggregate, the broadcast build,
    # the rank window sort, and the prefix equi-join; a collision
    # only merges universe elements — candidates become a superset,
    # never fewer; within-doc array_distinct runs BEFORE hashing so
    # s is the true token-set size and the prefix/alpha bounds err
    # long).  The VERIFY below stays on STRING tokens — unlike the
    # ngram operator's two-stage shape, n_common here is an OUTPUT
    # value, and counting hashed matches could inflate it on a
    # collision instead of merely costing work.
    toksh = toks.select("doc_id", F.xxhash64("word").alias("word"))
    df = toksh.groupBy("word").agg(F.count("*").alias("df"))
    ranked = (toksh.join(F.broadcast(df), "word")
              .withColumn("pos", F.row_number().over(
                  W.partitionBy("doc_id").orderBy("df", "word")))
              .withColumn("s", F.count("*").over(W.partitionBy("doc_id"))))
    # 1e-9 ceil nudge: see blocked_ngram_jaccard_pairs (a float
    # rounding overshoot would silently shorten the prefix — erring
    # long never misses, only adds candidates).
    prefix = ranked.filter(
        F.col("pos") <= F.col("s")
        - F.ceil(F.lit(t) * F.col("s") - F.lit(1e-9)) + 1)
    pa = prefix.select(F.col("doc_id").alias("doc_a"), "word",
                       F.col("s").alias("sa"), F.col("pos").alias("pa"))
    pb = prefix.select(F.col("doc_id").alias("doc_b"), "word",
                       F.col("s").alias("sb"), F.col("pos").alias("pb"))
    # PPJoin length + positional filters — derivations in
    # blocked_ngram_jaccard_pairs; unlike the char-ngram operator's
    # length-bucketed blocks, nothing pre-constrains sizes here, so
    # the length filter does real work.
    alpha = F.ceil(F.lit(t / (1.0 + t))
                   * (F.col("sa") + F.col("sb")) - F.lit(1e-9))
    cand_rows = (pa.join(pb, "word")
                 .filter((F.col("doc_a") < F.col("doc_b"))
                         & (F.col("sb")
                            >= F.lit(t) * F.col("sa") - F.lit(1e-9))
                         & (F.col("sa")
                            >= F.lit(t) * F.col("sb") - F.lit(1e-9))
                         & (1 + F.least(F.col("sa") - F.col("pa"),
                                        F.col("sb") - F.col("pb"))
                            >= alpha))
                 .select("doc_a", "doc_b", "sa", "sb"))
    cands = _tap(cand_rows, diag, "cand_rows").distinct()
    cands = _tap(cands, diag, "cand_pairs")
    # r13: same CPU-vs-bytes repartition as the char-ngram operator's
    # stage-1 (see blocked_ngram_jaccard_pairs) — the exploded
    # intersection count below fans each pair out by its token lists,
    # and AQE's byte-coalesced candidate partitions under-parallelize
    # that CPU-bound fan-out.
    cands = cands.repartition(
        docs.sparkSession.sparkContext.defaultParallelism,
        "doc_a", "doc_b")
    ta = toks.select(F.col("doc_id").alias("doc_a"),
                     F.col("word").alias("wa"))
    tb = toks.select(F.col("doc_id").alias("doc_b"),
                     F.col("word").alias("wb"))
    inter = (cands.join(ta, "doc_a").join(tb, "doc_b")
             .filter(F.col("wa") == F.col("wb"))
             .groupBy("doc_a", "doc_b", "sa", "sb")
             .agg(F.count("*").alias("n_common")))
    jac = (F.col("n_common").cast("double")
           / (F.col("sa") + F.col("sb") - F.col("n_common")))
    rep_out = (inter.filter(jac >= t)
               .select(F.col("doc_a").alias("_ra"),
                       F.col("doc_b").alias("_rb"), "n_common",
                       F.round(jac, 6).alias("jaccard")))
    # diag tap: qualifying rep pairs — rep_out is single-consumer
    # (the cross-expansion join below).
    rep_out = _tap(rep_out, diag, "qualifying_rep_pairs")
    # Expansion: rep scores ARE member scores; within-group pairs are
    # exact duplicates with n_common = s (the group text's distinct-
    # token count) and jaccard exactly 1.0 — the values the
    # un-collapsed verify computes for identical token sets.
    ma = members.select(F.col("_rep").alias("_ra"),
                        F.col("_id").alias("_ma"))
    mb = members.select(F.col("_rep").alias("_rb"),
                        F.col("_id").alias("_mb"))
    cross = (rep_out.join(ma, "_ra").join(mb, "_rb")
             .select(F.least("_ma", "_mb").alias("doc_a"),
                     F.greatest("_ma", "_mb").alias("doc_b"),
                     "n_common", "jaccard"))
    sizes = toks.groupBy(F.col("doc_id").alias("_srep")) \
                .agg(F.count("*").alias("_s_rep"))
    within = (members.alias("x")
              .join(members.alias("y"),
                    (F.col("x._rep") == F.col("y._rep"))
                    & (F.col("x._id") < F.col("y._id")))
              .join(sizes, F.col("x._rep") == F.col("_srep"))
              .select(F.col("x._id").alias("doc_a"),
                      F.col("y._id").alias("doc_b"),
                      F.col("_s_rep").alias("n_common"),
                      F.lit(1.0).alias("jaccard"))
              .filter(F.lit(1.0) >= F.lit(t)))
    out = cross.unionByName(within)
    if eager_release:
        out = out.localCheckpoint()
        members.unpersist()
    return out


def minhash_lsh_candidates(docs: DataFrame, *, id_col: str, text_col: str,
                           shingle_k: int = 3, num_hashes: int = 16,
                           num_bands: int = 4) -> DataFrame:
    """Candidate pairs (doc_a, doc_b) sharing >=1 LSH band bucket.

    The candidate-generation half of minhash_lsh_pairs, exposed for
    verifies other than Jaccard (e.g. edit distance): any pairwise
    predicate applied to this set costs O(candidates), not O(n^2).
    """
    band_size = num_hashes // num_bands
    banded = (_spread(docs)
              .select(F.col(id_col).alias("_id"),
                      word_shingles(text_col, shingle_k).alias("_shingles"))
              .withColumn("_bands", lsh_bands(
                  _signature_sql(_shingle_hashes_sql("_shingles"),
                                 num_hashes),
                  num_bands, band_size))
              .select("_id", F.posexplode("_bands").alias("band_idx",
                                                          "bucket"))
              # Both sides of the self-join read this; persist so the
              # signature build runs once.
              .persist(StorageLevel.MEMORY_AND_DISK))
    a, b = banded.alias("a"), banded.alias("b")
    return (a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
                      & (F.col("a.bucket") == F.col("b.bucket"))
                      & (F.col("a._id") < F.col("b._id")))
            .select(F.col("a._id").alias("doc_a"),
                    F.col("b._id").alias("doc_b"))
            .distinct())


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
