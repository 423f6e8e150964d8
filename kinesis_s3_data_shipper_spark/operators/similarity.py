"""Similarity search over embedding columns.

Two paths, per the standard large-scale ANN playbook:

- **Brute-force cosine top-k** (the exactness baseline): broadcast the
  (small) query set against the corpus — a map-side-only join, no
  shuffle of the corpus — then per-query top-k via window row_number.
  O(|Q|·n·d); correct at any scale where |Q| is bounded.

- **Sign-LSH bucketing** (the scale path): 8 deterministic random
  hyperplanes → 8 sign bits → bucket key. Hyperplane weights are
  generated driver-side from a seeded PRNG derived from md5, embedded
  as literals into the plan (and into the DuckDB oracle), so both
  engines compute identical buckets. Search cost drops from n to
  n/2^bits per query at matching recall tradeoffs; at 100 TB this is
  the difference between a broadcast of everything and a bucket-pruned
  scan (bucket key is also a fine partition/cluster key for storage).
"""

from __future__ import annotations

import hashlib
import struct

import pandas as pd
from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions.vectors import cosine, dot, norm


def hyperplanes(num_planes: int, dim: int, seed: str = "ksds-lsh-v1") -> list[list[float]]:
    """Deterministic pseudo-random hyperplane weights in [-0.5, 0.5].

    Derived from md5(seed|plane|dim-chunk) so any engine/language can
    regenerate them exactly; embedded as plan literals on both the
    Spark and oracle sides.
    """
    planes: list[list[float]] = []
    for p in range(num_planes):
        weights: list[float] = []
        counter = 0
        while len(weights) < dim:
            digest = hashlib.md5(f"{seed}|{p}|{counter}".encode()).digest()
            for off in range(0, 16, 4):
                (u,) = struct.unpack_from(">I", digest, off)
                weights.append(u / 4294967295.0 - 0.5)
            counter += 1
        planes.append(weights[:dim])
    return planes


def _plane_literal(weights: list[float]) -> str:
    return "array(" + ",".join(f"CAST({w!r} AS DOUBLE)" for w in weights) + ")"


def lsh_bucket(vec_col: str, planes: list[list[float]]) -> Column:
    """Sign-bit bucket string for a float-array column.

    Kept as HOF folds: A/B-measured, the 8-plane × 64-term unrolled
    form is ~2× SLOWER here (one projection with 512 arithmetic terms
    + 8 CASEs pays more in codegen size/compile than the interpreted
    lambda costs — bucket assignment is once per row, not per pair).
    Only the per-PAIR scoring dots unroll (functions.vectors.dot).
    """
    bits = []
    for weights in planes:
        lit = _plane_literal(weights)
        bits.append(
            f"CASE WHEN aggregate(zip_with({vec_col}, {lit},"
            f" (x, w) -> CAST(x AS DOUBLE) * w), CAST(0 AS DOUBLE),"
            f" (acc, v) -> acc + v) >= 0 THEN '1' ELSE '0' END")
    return F.expr("concat(" + ",".join(bits) + ")")


def sql_lsh_bucket(vec_col: str, planes: list[list[float]]) -> str:
    """DuckDB spelling of the same bucket (same literals, same fold)."""
    bits = []
    for weights in planes:
        lit = "[" + ",".join(f"CAST({w!r} AS DOUBLE)" for w in weights) + "]"
        bits.append(
            f"CASE WHEN list_reduce(list_transform(list_zip({vec_col}, {lit}),"
            f" p -> CAST(p[1] AS DOUBLE) * p[2]), (acc, v) -> acc + v) >= 0"
            f" THEN '1' ELSE '0' END")
    return "concat(" + ", ".join(bits) + ")"


# ----------------------------------------------------------------- IVF

def fold_norm(vec: list[float]) -> float:
    """The engines' sequential-fold L2 norm, replicated in Python.

    Every op is an IEEE double op in the same order as functions.
    vectors.norm / sql_norm (acc + x*x left fold, then sqrt), so the
    value embedded as a plan literal is bit-identical to what either
    engine would compute from the same vector."""
    import math
    acc = 0.0
    for x in vec:
        acc = acc + float(x) * float(x)
    return math.sqrt(acc)


def ivf_cluster(vec_col: str, centroids: list[list[float]]) -> Column:
    """IVF coarse-quantizer assignment as ONE shuffle-free projection.

    centroid_id = argmax_j cosine(vec, C_j), ties → lowest j (matches
    an ORDER BY cos DESC, cid pick). The centroid vectors and their
    fold-norms are embedded as plan literals, so assignment costs
    K·d flops per row inside WholeStageCodegen — no join, no shuffle,
    which is what lets a 100 TB corpus be clustered in the scan
    itself. The row's own norm and the cosine array are let-bound
    (operators.dedup.let) so each fold runs once per row however
    Catalyst collapses the projections.
    """
    # array_position is 1-based and returns the FIRST match → lowest
    # centroid id wins ties, exactly like the oracle's window pick.
    return F.expr(_ivf_cosines_sql(
        vec_col, centroids,
        "CAST(array_position(cs, array_max(cs)) - 1 AS BIGINT)"))


def _ivf_cosines_sql(vec_col: str, centroids: list[list[float]],
                     body: str) -> str:
    """SQL where ``body`` sees ``cs`` = the array of cosines from
    ``vec_col`` to every centroid (index = centroid id).

    HOF folds on purpose (unrolling measured slower — see
    functions.vectors.dot), and the centroid matrix is ONE
    array-of-arrays literal iterated by zip_with rather than K
    separate fold expressions: same arithmetic, but the expression
    tree is O(1) in K instead of O(K) (measured ~20% faster at K=44,
    and analysis cost stays flat as K grows with sqrt(n) —
    plans/similarity._ivf_k).
    """
    from .dedup import let
    cc = "array(" + ",".join(_plane_literal(c) for c in centroids) + ")"
    nn = ("array(" + ",".join(f"CAST({fold_norm(c)!r} AS DOUBLE)"
                              for c in centroids) + ")")
    norm_sql = (f"sqrt(aggregate({vec_col}, CAST(0 AS DOUBLE),"
                f" (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))")
    cs = (f"zip_with({cc}, {nn}, (c, n) ->"
          f" aggregate(zip_with({vec_col}, c,"
          f" (x, y) -> CAST(x AS DOUBLE) * y), CAST(0 AS DOUBLE),"
          f" (acc, v) -> acc + v) / (nv * n))")
    return let(norm_sql, "nv", let(cs, "cs", body))


def ivf_cosines(vec_col: str, centroids: list[list[float]]) -> Column:
    """The full array of cosines to every centroid (index = centroid
    id) — the multi-probe primitive: a query ranks this array to pick
    its nprobe nearest clusters instead of just the argmax."""
    return F.expr(_ivf_cosines_sql(vec_col, centroids, "cs"))


def _ivf_cos_matrix(values, centroids_f64, cent_norms):
    """(rows x K) cosine matrix, BIT-IDENTICAL to the SQL fold.

    numpy reproduces the sequential left fold exactly: float32→float64
    casts are exact, elementwise multiply is the same IEEE op as the
    lambda's ``CAST(x AS DOUBLE) * y``, and ``np.cumsum`` accumulates
    strictly left-to-right — the same add sequence as ``aggregate``'s
    ``acc + v`` (verified element-for-element against the HOF plan in
    tests/test_similarity_ops.py). Division groups as dot / (nv * n),
    matching the expression tree.
    """
    import numpy as np
    V = np.vstack(values).astype(np.float64)               # rows x d
    nv = np.sqrt(np.cumsum(V * V, axis=1)[:, -1])          # fold norms
    # rows x K x d products, folded sequentially over d. Chunked by
    # caller; at chunk=1024, K=4096, d=64 this is ~2 GB transient max.
    prods = V[:, None, :] * centroids_f64[None, :, :]
    dots = np.cumsum(prods, axis=2)[:, :, -1]
    return dots / (nv[:, None] * cent_norms[None, :])


def _cent_arrays(centroids: list[list[float]]):
    import numpy as np
    C = np.asarray(centroids, dtype=np.float64)
    cn = np.sqrt(np.cumsum(C * C, axis=1)[:, -1])  # fold_norm, vectorized
    return C, cn


def ivf_cluster_arrow(vec_col: str, centroids: list[list[float]]) -> Column:
    """Arrow-vectorized twin of :func:`ivf_cluster` — same argmax
    (np.argmax = first max = lowest centroid id on ties), same fold
    arithmetic (see _ivf_cos_matrix), ~100x faster once K grows with
    sqrt(n): the HOF lambda evaluator is interpreted per element
    (O(n·K·d) interpreter steps — 28 s at n=20k, K=141), while the
    Arrow path is three numpy kernels per batch. This is the
    "built-ins genuinely can't express it efficiently" escape hatch,
    Arrow-batched, never row-at-a-time."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C, cn = _cent_arrays(centroids)

    def assign(s: pd.Series) -> pd.Series:
        if s.empty:
            return pd.Series([], dtype="int64")
        out = []
        for start in range(0, len(s), 1024):
            cos = _ivf_cos_matrix(s.iloc[start:start + 1024].to_numpy(),
                                  C, cn)
            out.append(np.argmax(cos, axis=1))
        return pd.Series(np.concatenate(out).astype("int64"))

    return pandas_udf(assign, "long")(F.col(vec_col))


def ivf_cosines_arrow(vec_col: str,
                      centroids: list[list[float]]) -> Column:
    """Arrow-vectorized twin of :func:`ivf_cosines` (array of per-
    centroid cosines; same fold arithmetic bit-for-bit)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C, cn = _cent_arrays(centroids)

    def cosines(s: pd.Series) -> pd.Series:
        if s.empty:
            return pd.Series([], dtype="object")
        out = []
        for start in range(0, len(s), 1024):
            cos = _ivf_cos_matrix(s.iloc[start:start + 1024].to_numpy(),
                                  C, cn)
            out.extend(list(cos))
        return pd.Series(out)

    return pandas_udf(cosines, "array<double>")(F.col(vec_col))


def ivf_assign_broadcast(vectors: DataFrame, centroids: DataFrame, *,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         out_col: str = "cluster",
                         dim: int | None = None) -> DataFrame:
    """IVF assignment past the closure cap: broadcast centroid TABLE
    + argmax aggregate instead of a plan-literal codebook.

    The closure paths (:func:`ivf_cluster` / :func:`ivf_cluster_arrow`)
    ship all K centroids inside the expression/UDF — ideal until K
    grows past ~4096 (n > ~16M per index shard at K = sqrt(n)), where
    a multi-MB task closure starts dominating scheduling. This is the
    graduation SCALE.md documents: ``centroids`` is a (cid, cvec)
    DataFrame, broadcast once per executor; each row scores all K via
    a broadcast nested-loop join, and a partial-aggregated
    ``max(struct(cos, -cid, cid))`` per row id picks the SAME winner
    as the kernels — nearest cosine, ties to the LOWEST cid — with
    the SAME sequential-fold arithmetic (functions.vectors), so
    assignments are bit-identical (tests/test_similarity_ops.py
    forces this path against the Arrow kernel and the oracle).

    Returns (id_col, out_col). Scale shape: the n x K score stream is
    reduced map-side to one row per input row before the single
    shuffle on the (unique) row id; callers join the assignment back
    on that key.
    """
    c = centroids.select(F.col("cid"),
                         F.col("cvec"),
                         norm("cvec", dim).alias("_cn"))
    v = vectors.select(F.col(id_col), F.col(vec_col),
                       norm(vec_col, dim).alias("_nv"))
    cos = dot(vec_col, "cvec", dim) / (F.col("_nv") * F.col("_cn"))
    best = F.max(F.struct(F.col("_cos").alias("c"),
                          (-F.col("cid")).alias("neg_cid"),
                          F.col("cid").alias("cid")))
    return (v.crossJoin(F.broadcast(c))
            .select(id_col, cos.alias("_cos"), "cid")
            .groupBy(id_col)
            .agg(best.alias("_best"))
            .select(id_col, F.col("_best.cid").alias(out_col)))


# ------------------------------------------------------------------ PQ

def pq_codebook(train: list[list[float]],
                num_sub: int) -> list[list[list[float]]]:
    """Product-quantization codebook from K training vectors:
    cb[m][k] = subvector m of training vector k. Deterministic and
    data-derived (the IVF-centroid pattern); production would k-means
    each subspace — the encode/ADC machinery is unchanged either way."""
    dim = len(train[0])
    d = dim // num_sub
    return [[list(map(float, v[m * d:(m + 1) * d])) for v in train]
            for m in range(num_sub)]


def pq_codes(vec_col: str, cb: list[list[list[float]]]) -> Column:
    """PQ encoding as ONE shuffle-free projection: codes[m] = 1-based
    argmin_k of the squared-L2 distance between the row's m-th
    subvector and codeword k (ties → lowest k, matching an ORDER BY
    dist, cid window pick). 8 subspaces × 1 small int = the 100 TB
    memory story: the scan-resident index stores codes (bytes/vector),
    not floats."""
    from .dedup import let
    # NOT unrolled: the 16-codeword × 8-dim distance array sits inside
    # a let() lambda, which whole-stage codegen cannot split — the
    # unrolled form blows janino's 64 KB method limit and forces an
    # expensive compile-then-fallback. The HOF fold is interpreted
    # either way, and encode is a once-per-corpus-row cost.
    d = len(cb[0][0])
    codes = []
    for m, words in enumerate(cb):
        dists = ",".join(
            f"aggregate(zip_with(slice({vec_col}, {m * d + 1}, {d}),"
            f" {_plane_literal(w)},"
            f" (x, c) -> (CAST(x AS DOUBLE) - c) * (CAST(x AS DOUBLE) - c)),"
            f" CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
            for w in words)
        codes.append(let(f"array({dists})", "ds",
                         "array_position(ds, array_min(ds))"))
    return F.expr("array(" + ",".join(codes) + ")")


def pq_codes_arrow(vec_col: str, cb: list[list[list[float]]]) -> Column:
    """Arrow-vectorized twin of :func:`pq_codes` — bit-identical
    encode (the _ivf_cos_matrix argument, applied to squared-L2:
    float64 subtraction/multiply are the same IEEE ops as the
    lambda's, np.cumsum is the same left fold over the subspace dims,
    and np.argmin's first-min matches array_position's first-match of
    array_min, 1-based via +1). Encode is O(M·K·d) per corpus row —
    the same interpreted-HOF shape that went superlinear for IVF
    assignment — so the corpus-side encode rides the Arrow kernel;
    exact-equality-tested in tests/test_similarity_ops.py."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    CB = np.asarray(cb, dtype=np.float64)            # M x K x d
    m_, k_, d_ = CB.shape

    def codes(s: pd.Series) -> pd.Series:
        if s.empty:
            return pd.Series([], dtype="object")
        out = []
        for start in range(0, len(s), 1024):
            V = np.vstack(s.iloc[start:start + 1024].to_numpy()
                          ).astype(np.float64)
            Vs = V.reshape(len(V), m_, d_)
            diff = Vs[:, :, None, :] - CB[None, :, :, :]
            dist = np.cumsum(diff * diff, axis=3)[..., -1]
            code = (np.argmin(dist, axis=2) + 1).astype("int64")
            out.extend(list(code))
        return pd.Series(out)

    return pandas_udf(codes, "array<long>")(F.col(vec_col))


def pq_adc_lut(qv_col: str, cb: list[list[list[float]]]) -> Column:
    """Per-QUERY ADC lookup table: lut[m][k] = dot(q_sub_m, cb[m][k]),
    each a dim-order left fold. Computed once per query row (M*K*d
    flops on the tiny query side); after the join every candidate
    costs M lookups + M adds instead of a full-dimension dot — the
    table-lookup half of Jegou et al.'s ADC."""
    # HOF folds on purpose: computed once per QUERY row (tiny side);
    # the unrolled 16×8-per-subspace form bloats generated code for no
    # hot-loop benefit (see pq_codes).
    d = len(cb[0][0])
    tables = []
    for m, words in enumerate(cb):
        dots = ",".join(
            f"aggregate(zip_with(slice({qv_col}, {m * d + 1}, {d}),"
            f" {_plane_literal(w)},"
            f" (x, c) -> CAST(x AS DOUBLE) * c),"
            f" CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
            for w in words)
        tables.append(f"array({dots})")
    return F.expr("array(" + ",".join(tables) + ")")


def pq_sumsq_literal(cb: list[list[list[float]]]) -> str:
    """Literal M×K table of codeword squared norms (left-fold in
    Python doubles — the fold_norm trick — so the values are exactly
    what either engine computes from the same codewords). Lets each
    candidate derive ‖reconstruct(codes)‖ from M lookups with no
    per-pair flatten/decode."""
    rows = []
    for words in cb:
        vals = []
        for w in words:
            acc = 0.0
            for x in w:
                acc = acc + float(x) * float(x)
            vals.append(acc)
        rows.append("array(" + ",".join(f"CAST({v!r} AS DOUBLE)"
                                        for v in vals) + ")")
    return "array(" + ",".join(rows) + ")"


def pq_adc_score(lut_col: str, codes_col: str,
                 num_sub: int | None = None) -> Column:
    """Per-pair ADC dot: fold over subspaces of lut[m][codes[m]] —
    8 array lookups + 8 adds per candidate, association (((s1+s2)+…)
    in subspace order on both engines. With ``num_sub`` the fold is
    unrolled into codegen-able arithmetic (same order, same result)."""
    if num_sub is not None:
        terms = " + ".join(
            f"element_at(({lut_col})[{m}],"
            f" CAST(({codes_col})[{m}] AS INT))"
            for m in range(num_sub))
        return F.expr(f"(CAST(0 AS DOUBLE) + {terms})")
    return F.expr(
        f"aggregate(zip_with({lut_col}, {codes_col},"
        f" (l, c) -> element_at(l, CAST(c AS INT))),"
        f" CAST(0 AS DOUBLE), (acc, v) -> acc + v)")


def cosine_topk(corpus: DataFrame, queries: DataFrame, *, id_col: str,
                vec_col: str, k: int, round_dp: int = 6,
                dim: int | None = None) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output: query_id, neighbor_id, cos (rounded), rank. Ordering uses
    (rounded cos DESC, neighbor_id) so ranks are deterministic even if
    two engines' unrounded doubles differ in the last ulp.
    """
    # Norms are projected per ROW before the join — the per-pair work
    # is then a single dot product. (Inlining cosine() after the join
    # would recompute ‖q‖ once per corpus row and ‖c‖ once per query:
    # O((|Q|+1)·n·d) wasted flops. Same arithmetic, same result —
    # dot/(‖a‖·‖b‖) on identical operands.)
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("_qv"),
                       norm(vec_col, dim).alias("_qn"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("_cv"),
                      norm(vec_col, dim).alias("_cn"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id",
                F.round(dot("_qv", "_cv", dim)
                        / (F.col("_qn") * F.col("_cn")),
                        round_dp).alias("cos")))
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (scored.select("query_id", "neighbor_id", "cos",
                          F.row_number().over(w).cast("long").alias("rank"))
            .filter(F.col("rank") <= k))


def cosine_pairs(vectors: DataFrame, *, id_col: str, vec_col: str,
                 block_col: str, threshold: float,
                 dim: int | None = None) -> DataFrame:
    """Embedding near-duplicate pairs (cos ≥ threshold) within blocks.

    Blocking (label, or an LSH bucket at scale) bounds the quadratic
    verify to within-block pairs.
    """
    # Per-row norms before the self-join (see cosine_topk): per-pair
    # cost is one dot product, not dot + two norm recomputations.
    v = vectors.select(F.col(id_col).alias("_id"),
                       F.col(block_col).alias("_blk"),
                       F.col(vec_col).alias("_v"),
                       norm(vec_col, dim).alias("_n"))
    a, b = v.alias("a"), v.alias("b")
    return (
        a.join(b, (F.col("a._blk") == F.col("b._blk"))
                  & (F.col("a._id") < F.col("b._id")))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"),
                F.col("a._blk").alias("block"),
                (dot("a._v", "b._v", dim)
                 / (F.col("a._n") * F.col("b._n")))
                .alias("_cos_raw"))
        .filter(F.col("_cos_raw") >= threshold)
        .select("id_a", "id_b", "block",
                F.round("_cos_raw", 6).alias("cos")))


def lsh_bucket_stats(vectors: DataFrame, *, id_col: str, vec_col: str,
                     num_planes: int = 8, dim: int = 64) -> DataFrame:
    """Assign sign-LSH buckets and summarize occupancy (the IVF-style
    coarse index a scale deployment would partition by)."""
    planes = hyperplanes(num_planes, dim)
    return (vectors
            .select(F.col(id_col).alias("vid"),
                    lsh_bucket(vec_col, planes).alias("bucket"))
            .groupBy("bucket")
            .agg(F.count("*").alias("n_vecs"),
                 F.min("vid").alias("min_vec_id")))
