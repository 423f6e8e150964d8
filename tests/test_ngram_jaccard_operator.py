"""Boundary/property pins for blocked_ngram_jaccard_pairs after the
r10 PPJoin prefix-filter rewrite.

The oracle gate proves Spark==DuckDB on the fixture corpus at two
sfs; these prove the DEFINITION on adversarial shapes the fixture may
never hit: an exact-threshold pair (J == t must be KEPT — the filter
is inclusive), prefix-filter no-miss on a corpus crafted so prefixes
are maximally unlucky, and blocking semantics (equal grams in a
different block must NOT pair).  ngram_n=1 makes gram sets fully
controllable (grams == distinct chars).
"""

from __future__ import annotations

import itertools
import random

from kinesis_s3_data_shipper_spark.operators.dedup import (
    blocked_ngram_jaccard_groups, blocked_ngram_jaccard_pairs)

T = 0.6


def _pairs(spark, rows, threshold=T, n=1):
    df = spark.createDataFrame(rows, "doc_id long, blk string, text string")
    out = blocked_ngram_jaccard_pairs(
        df, id_col="doc_id", text_col="text", block_cols=["blk"],
        ngram_n=n, threshold=threshold)
    return {(r.doc_a, r.doc_b): r.jaccard for r in out.collect()}


def _brute(rows, threshold=T):
    """Reference all-pairs over distinct-char gram sets."""
    want = {}
    for (ia, ba, ta), (ib, bb, tb) in itertools.combinations(rows, 2):
        if ba != bb:
            continue
        a, b = min(ia, ib), max(ia, ib)
        ga, gb = set(ta if a == ia else tb), set(tb if a == ia else ta)
        j = len(ga & gb) / len(ga | gb)
        if j >= threshold:
            want[(a, b)] = j
    return want


def test_exact_threshold_pair_is_kept(spark):
    """J == t exactly (|A∩B|=3, |A∪B|=5 at t=0.6): the >= filter is
    inclusive, and the prefix filter must not have dropped the
    candidate — the boundary where an off-by-one prefix (the IEEE
    ceil hazard the 1e-9 nudge guards) would first show."""
    rows = [(1, "x", "abcde"), (2, "x", "abc")]
    got = _pairs(spark, rows)
    assert got == {(1, 2): 0.6}


def test_blocking_prevents_cross_block_pairs(spark):
    """Identical gram sets in different blocks never pair; the same
    pair inside one block does."""
    rows = [(1, "x", "abcde"), (2, "y", "abcde"), (3, "x", "abcde")]
    got = _pairs(spark, rows)
    assert set(got) == {(1, 3)} and got[(1, 3)] == 1.0


def test_no_miss_on_seeded_random_corpus(spark):
    """Every qualifying pair of a seeded random corpus is found, and
    nothing below threshold leaks through — the operator vs an
    in-process brute force (a third implementation, independent of
    both engines' oracle pair)."""
    rng = random.Random(42)
    alphabet = "abcdefghijklmnop"
    rows = []
    for i in range(60):
        k = rng.randint(3, 10)
        rows.append((i, rng.choice("xy"),
                     "".join(sorted(rng.sample(alphabet, k)))))
    # plant exact near-dups and threshold-straddlers
    rows += [(100, "x", "abcdefgh"), (101, "x", "abcdefgh"),   # J=1
             (102, "x", "abcdefghij"), (103, "x", "abcdefg")]  # J=0.7
    got = _pairs(spark, rows)
    want = _brute(rows)
    assert set(got) == set(want), (
        set(want) - set(got), set(got) - set(want))
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12


def test_no_miss_across_thresholds_where_filters_bite(spark):
    """r10b added PPJoin's length + positional filters to the
    candidate join.  Their pruning power grows with t (prefixes
    shrink, alpha approaches s), so a wrong alpha or an off-by-one in
    the positional bound drops true pairs FIRST at high thresholds —
    sweep t over the range where the filters go from lazy to
    aggressive, against the in-process brute force."""
    rng = random.Random(7)
    alphabet = "abcdefghijklmnop"
    rows = []
    for i in range(50):
        k = rng.randint(3, 12)
        rows.append((i, "x", "".join(sorted(rng.sample(alphabet, k)))))
    # planted gradations: J = 1, 11/12, 6/7, 3/4, 2/3
    rows += [(200, "x", "abcdefghijkl"), (201, "x", "abcdefghijkl"),
             (202, "x", "abcdefghijk"),   # vs 200: J = 11/12
             (203, "x", "abcdefghijmn"),  # vs 200: J = 10/14 = 5/7
             (204, "x", "abcdefgh"),      # vs 200: J = 8/12 = 2/3
             ]
    for t in (0.6, 0.7, 0.75, 0.8, 0.9, 0.95, 1.0):
        got = _pairs(spark, rows, threshold=t)
        want = _brute(rows, threshold=t)
        assert set(got) == set(want), (
            t, set(want) - set(got), set(got) - set(want))


def test_duplication_heavy_corpus_matches_brute_force(spark):
    """The r10c exact-dup collapse routes verbatim copies around the
    PPJoin pipeline (group by (block, md5(text)), rep-only join,
    within/cross expansion).  Pin its output equality on the regime
    it exists for: every distinct text present in FIVE verbatim
    copies, so the result is dominated by within-group (J = 1) pairs
    and by cross-group pairs that must inherit their reps' scores —
    including across interleaved doc-id ranges (copies get ids far
    from their originals, exercising the least/greatest ordering)."""
    rng = random.Random(11)
    alphabet = "abcdefghijklmnop"
    texts = []
    for i in range(12):
        k = rng.randint(3, 10)
        texts.append("".join(sorted(rng.sample(alphabet, k))))
    texts += ["abcdefgh", "abcdefg"]  # a planted J=7/8 cross pair
    rows = []
    for copy in range(5):
        for j, txt in enumerate(texts):
            # interleave: copies of text j get ids j, 1000+j,
            # 2000+j, ... (copy*1000 + j), so a group's members span
            # the whole id range instead of sitting adjacent
            rows.append((copy * 1000 + j, "x", txt))
    got = _pairs(spark, rows)
    want = _brute(rows)
    assert set(got) == set(want), (
        len(got), len(want),
        set(want) - set(got), set(got) - set(want))
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12
    # sanity: the dup groups actually produced within-group pairs
    n_exact = sum(1 for v in want.values() if v == 1.0)
    assert n_exact >= len(texts) * 10  # C(5,2) per distinct text


def test_no_miss_at_unlucky_thresholds(spark):
    """Thresholds that are NOT short decimals (2/3: the computed-
    threshold class the ceil nudge insures) on sets sized to sit at
    the boundary: J = 2/3 exactly must be kept at t = 2/3."""
    rows = [(1, "x", "abcd"), (2, "x", "abc"),    # J = 3/4 >= 2/3
            (3, "x", "ab"),                        # vs 2: J = 2/3
            (4, "x", "xyzu")]                      # J = 0 with all
    got = _pairs(spark, rows, threshold=2 / 3)
    want = _brute(rows, threshold=2 / 3)
    assert set(got) == set(want)
    assert (2, 3) in got  # the exact-2/3 pair survived the prefix


def test_null_block_docs_never_pair(spark):
    """r11 advice fix: a NULL block column means a doc can never pair
    under the un-collapsed plan's null-UNSAFE candidate equi-join —
    but before the fix, Window.partitionBy grouped NULL blocks into a
    real partition, so identical-text NULL-block docs leaked
    jaccard=1.0 'within' pairs the brute force (and the DuckDB
    oracle) never produced.  Mixed corpus: duplicate text under a
    NULL block (must emit NOTHING), the same duplicate text under a
    real block (must emit its J=1 pair), and NULL text alongside."""
    rows = [(1, None, "abcdefgh"), (2, None, "abcdefgh"),  # NULL block
            (3, "x", "abcdefgh"), (4, "x", "abcdefgh"),    # real block
            (5, None, None), (6, "x", "qrstuv")]
    got = _pairs(spark, rows)
    assert got == {(3, 4): 1.0}, got
    # and the brute force agrees (None != None under equi-join)
    want = {k: v for k, v in _brute(
        [r for r in rows if r[1] is not None and r[2] is not None]).items()}
    assert got == want


def _brute_groups(rows, threshold=T):
    """Reference group form: per doc, the min id over {doc} ∪ {same-
    block neighbors with J >= t} plus the similarity to it."""
    out = {}
    for (i, b, t) in rows:
        nbrs = {}
        if b is not None and t is not None:
            for (j, bb, tt) in rows:
                if j == i or bb != b or bb is None or tt is None:
                    continue
                ga, gb = set(t), set(tt)
                jac = len(ga & gb) / len(ga | gb)
                if jac >= threshold:
                    nbrs[j] = jac
        mn = min(nbrs) if nbrs else i
        out[i] = (mn, nbrs[mn]) if mn < i else (i, 1.0)
    return out


def _groups(spark, rows, threshold=T):
    df = spark.createDataFrame(rows, "doc_id long, blk string, text string")
    out = blocked_ngram_jaccard_groups(
        df, id_col="doc_id", text_col="text", block_cols=["blk"],
        ngram_n=1, threshold=threshold)
    return {r.doc_id: (r.rep, r.jaccard_to_rep) for r in out.collect()}


def test_groups_match_brute_force_on_mixed_corpus(spark):
    """The O(docs) group form vs an in-process brute force on a
    corpus mixing exact-dup groups (interleaved ids), near-dup
    chains, NULL blocks, NULL text, and isolated docs — every doc
    must appear exactly once with the right (rep, similarity)."""
    rng = random.Random(23)
    alphabet = "abcdefghijklmnop"
    rows = []
    for i in range(40):
        k = rng.randint(3, 10)
        rows.append((i, rng.choice("xy"),
                     "".join(sorted(rng.sample(alphabet, k)))))
    rows += [
        (100, "x", "abcdefgh"), (50, "x", "abcdefgh"),   # dup group,
        (300, "x", "abcdefgh"),                          # min id 50
        (101, "x", "abcdefg"),     # J=7/8 to the group -> rep 50
        (102, None, "abcdefgh"),   # NULL block: rep=self despite dups
        (103, "x", None),          # NULL text: rep=self
    ]
    got = _groups(spark, rows)
    want = _brute_groups(rows)
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0], (k, got[k], want[k])
        assert abs(got[k][1] - want[k][1]) < 1e-12, (k, got[k], want[k])
    # the planted shapes resolved as designed
    assert got[100] == (50, 1.0) and got[300] == (50, 1.0)
    assert got[101][0] == 50 and abs(got[101][1] - 7 / 8) < 1e-12
    assert got[102] == (102, 1.0) and got[103] == (103, 1.0)


def test_groups_output_is_linear_in_replication(spark):
    """The group form's whole point: with every text replicated R
    ways, pair output grows O(R^2) per group but group output stays
    exactly n_docs rows — and the rep pipeline cost is identical
    (same collapsed reps).  Pin output CARDINALITY = corpus size at
    two replication factors and rep consistency (all copies of one
    text agree on the group-min rep)."""
    texts = ["abcdefgh", "abcdefg", "klmnop", "qrstuv"]
    for reps in (3, 10):
        rows = [(copy * 1000 + j, "x", txt)
                for copy in range(reps) for j, txt in enumerate(texts)]
        got = _groups(spark, rows)
        assert len(got) == len(rows)          # O(docs), not O(pairs)
        want = _brute_groups(rows)
        assert got == {k: (v[0], v[1]) for k, v in want.items()} or all(
            got[k][0] == want[k][0]
            and abs(got[k][1] - want[k][1]) < 1e-12 for k in want)


def test_diag_taps_change_nothing_and_count_consistently(spark):
    """The candidate-economy taps (r12 verdict ask #2) are pure
    observers: same output with and without, and the recorded counts
    obey the pipeline's containments (distinct pairs <= join rows;
    hash-prefilter survivors <= candidate pairs; qualifying <=
    survivors).  The sym tap is 2x the qualifying pairs by
    construction."""
    from kinesis_s3_data_shipper_spark.operators.dedup import diag_counts
    random.seed(13)
    alphabet = "abcdef"
    rows = [(i, "x", "".join(random.choice(alphabet) for _ in range(12)))
            for i in range(60)]
    rows += [(1000 + i, "x", rows[i][2]) for i in range(10)]  # exact dups
    base = _pairs(spark, rows)
    df = spark.createDataFrame(rows, "doc_id long, blk string, text string")
    diag: dict = {}
    out = blocked_ngram_jaccard_pairs(
        df, id_col="doc_id", text_col="text", block_cols=["blk"],
        ngram_n=1, threshold=T, diag=diag)
    tapped = {(r.doc_a, r.doc_b): r.jaccard for r in out.collect()}
    assert tapped == base
    c = diag_counts(diag)
    assert c["cand_pairs"] <= c["cand_rows"]
    assert c["hash_survivors"] <= c["cand_pairs"]
    assert c["qualifying_rep_pairs"] <= c["hash_survivors"]
    assert c["qualifying_rep_pairs"] >= 1  # the planted exact dups pair up

    diag_g: dict = {}
    out_g = blocked_ngram_jaccard_groups(
        df, id_col="doc_id", text_col="text", block_cols=["blk"],
        ngram_n=1, threshold=T, diag=diag_g)
    # collect (not count): a count() lets Catalyst eliminate the
    # unique-key left join — and with it the observed subtree, so the
    # taps would never fire.  The sweep's full-value hash aggregate
    # touches every column for the same reason.
    assert len(out_g.collect()) == len(rows)
    cg = diag_counts(diag_g)
    assert cg["cand_rows"] == c["cand_rows"]
    assert cg["cand_pairs"] == c["cand_pairs"]
    assert cg["sym_rows"] == 2 * c["qualifying_rep_pairs"]


def test_setsim_diag_taps(spark):
    from kinesis_s3_data_shipper_spark.operators.dedup import (
        diag_counts, setsim_prefix_pairs)
    rows = [(1, "the quick brown fox jumps"),
            (2, "the quick brown fox leaps"),
            (3, "the quick brown fox jumps"),
            (4, "entirely different words here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    base = {(r.doc_a, r.doc_b): (r.n_common, r.jaccard)
            for r in setsim_prefix_pairs(df, threshold=0.6).collect()}
    diag: dict = {}
    out = setsim_prefix_pairs(df, threshold=0.6, diag=diag)
    tapped = {(r.doc_a, r.doc_b): (r.n_common, r.jaccard)
              for r in out.collect()}
    assert tapped == base and (1, 3) in tapped
    c = diag_counts(diag)
    assert c["cand_pairs"] <= c["cand_rows"]
    assert c["qualifying_rep_pairs"] <= c["cand_pairs"]
