"""setsim_prefix_pairs — the extracted PPJoin word-token operator:
correctness against a brute force."""

from __future__ import annotations

from kinesis_s3_data_shipper_spark.operators.dedup import setsim_prefix_pairs

T = 0.6


def _brute(rows):
    """All-pairs token-set Jaccard >= T over (doc_id, text) rows."""
    toks = {i: set(t.split(" ")) for i, t in rows if t is not None}
    out = {}
    ids = sorted(toks)
    for x, a in enumerate(ids):
        for b in ids[x + 1:]:
            inter = len(toks[a] & toks[b])
            union = len(toks[a] | toks[b])
            j = inter / union
            if j >= T:
                out[(a, b)] = (inter, round(j, 6))
    return out


ROWS = [
    (1, "the quick brown fox jumps"),
    (2, "the quick brown fox jumps"),       # exact dup of 1
    (3, "the quick brown fox leaps"),        # near dup (J = 4/6)
    (4, "an entirely different document"),
    (5, None),                               # null text: excluded
    (6, "the quick brown fox jumps"),        # second exact dup of 1
]


def test_pairs_match_brute_force(spark):
    df = spark.createDataFrame(ROWS, "doc_id long, text string")
    out = setsim_prefix_pairs(df, threshold=T)
    got = {(r.doc_a, r.doc_b): (r.n_common, r.jaccard)
           for r in out.collect()}
    assert got == _brute(ROWS)
