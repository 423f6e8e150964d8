"""Unit tests for the custom operators (as-of join, sessionize,
stream-prefix derivation) on tiny hand-built frames where the expected
output is computable by eye — complementing the DuckDB oracle gate,
which exercises them only on the synthetic tables.
"""

from __future__ import annotations

from kinesis_s3_data_shipper_spark.functions.strings import stream_prefix
from kinesis_s3_data_shipper_spark.operators.asof import asof_join
from kinesis_s3_data_shipper_spark.operators.sessionize import sessionize

import pyspark.sql.functions as F


def test_stream_prefix_reference_parity(spark):
    """Must equal Python's '/'.join(s.split('/')[0:2]) exactly
    (kinesis-to-humio.py:137), including edge shapes."""
    cases = ["2020/04/01/[$LATEST]abc", "a/b", "a", "a/b/", "", "/",
             "//x", "a//b"]
    df = spark.createDataFrame([(c,) for c in cases], "s STRING")
    got = {r.s: r.p for r in
           df.select("s", stream_prefix("s").alias("p")).collect()}
    for c in cases:
        assert got[c] == "/".join(c.split("/")[0:2]), c


def test_stream_prefix_property(spark):
    """Hypothesis sweep: for ANY printable string (slashes anywhere),
    the JVM expression equals Python's '/'.join(s.split('/')[0:2]) —
    the reference's exact tag derivation (kinesis-to-humio.py:137)."""
    from hypothesis import given, settings, strategies as st

    cases: list[str] = []

    @settings(max_examples=200, deadline=None)
    @given(st.text(alphabet=st.characters(codec="utf-8",
                                          exclude_characters="\x00"),
                   max_size=30))
    def collect(s):
        cases.append(s)

    collect()
    df = spark.createDataFrame([(c,) for c in set(cases) if c], "s STRING")
    got = {r.s: r.p for r in
           df.select("s", stream_prefix("s").alias("p")).collect()}
    for s, p in got.items():
        assert p == "/".join(s.split("/")[0:2]), repr(s)


def test_asof_join_strict_and_inclusive(spark):
    left = spark.createDataFrame(
        [(1, 100, "p1"), (1, 200, "p2"), (2, 50, "p3")],
        "user_id LONG, ts LONG, name STRING")
    right = spark.createDataFrame(
        [(1, 100, "s1"), (1, 150, "s2"), (3, 10, "s3")],
        "user_id LONG, ts LONG, tag STRING")

    strict = asof_join(left, right, on="user_id", ts_col="ts", strict=True,
                       right_value_cols=("tag",), right_alias="r")
    got = {r.name: r.r_tag for r in strict.collect()}
    # p1@100: strictly-before 100 → none. p2@200: latest of s1,s2 → s2.
    assert got == {"p1": None, "p2": "s2", "p3": None}

    inclusive = asof_join(left, right, on="user_id", ts_col="ts",
                          strict=False, right_value_cols=("tag",),
                          right_alias="r")
    got = {r.name: r.r_tag for r in inclusive.collect()}
    # p1@100: at-or-before 100 → s1.
    assert got == {"p1": "s1", "p2": "s2", "p3": None}


def test_sessionize_gap_boundaries(spark):
    gap = 10
    ev = spark.createDataFrame(
        [(1, 0, "a"), (1, 10, "b"),   # gap == 10 → same session
         (1, 21, "c"),                # gap 11 > 10 → new session
         (2, 5, "d")],
        "user_id LONG, ts LONG, event_id STRING")
    out = sessionize(ev, user_col="user_id", ts_col="ts",
                     tiebreak_col="event_id", gap_ns=gap)
    got = {(r.user_id, r.session_id): r.n_events for r in out.collect()}
    assert got == {(1, 1): 2, (1, 2): 1, (2, 1): 1}


def test_asof_join_plan_single_shuffle(spark):
    """The as-of join must cost ONE shuffle on the key (union + window),
    never a cross product."""
    left = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("ts"))
    right = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("ts"),
        F.lit("x").alias("v"))
    plan = asof_join(left, right, on="k", ts_col="ts",
                     right_value_cols=("v",))._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # composed, not a pairwise join


def test_lsh_index_parquet_roundtrip_incremental(spark, tmp_path, sf_small):
    """The LSH index table round-trips through parquet and supports
    append-only maintenance: sign the base ONCE, store it, then pair a
    delta against the STORED index — results must equal the batch
    rebuild filtered to delta-involving pairs (no misses, no
    phantoms), without re-signing the base."""
    from pyspark.sql import functions as F

    from kinesis_s3_data_shipper_spark.operators.dedup import (
        minhash_lsh_index, minhash_lsh_pairs, minhash_lsh_pairs_incremental)
    from kinesis_s3_data_shipper_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    base_docs = docs.filter(F.col("doc_id") % 5 != 0)
    delta_docs = docs.filter(F.col("doc_id") % 5 == 0)

    idx_dir = str(tmp_path / "lsh_index")
    minhash_lsh_index(base_docs, id_col="doc_id",
                      text_col="text").write.parquet(idx_dir)
    stored = spark.read.parquet(idx_dir)

    delta_idx = minhash_lsh_index(delta_docs, id_col="doc_id",
                                  text_col="text")
    inc = {(r.doc_a, r.doc_b): r.jaccard
           for r in minhash_lsh_pairs_incremental(
               stored, delta_idx).collect()}

    batch = {(r.doc_a, r.doc_b): r.jaccard
             for r in minhash_lsh_pairs(
                 docs, id_col="doc_id", text_col="text").collect()
             if r.doc_a % 5 == 0 or r.doc_b % 5 == 0}
    assert inc == batch

    # Maintenance completes the epoch by appending the delta's rows.
    delta_idx.write.mode("append").parquet(idx_dir)
    assert spark.read.parquet(idx_dir).count() == docs.count()


def test_skyline_equals_bruteforce_dominance(spark):
    """The aggregate-first skyline rewrite must equal the DEFINITION:
    a (size, best-price) point is on the skyline iff no other size is
    strictly larger with price <= its price — checked by the O(n^2)
    brute force over the same per-size aggregate, so the running-min
    encoding can't drift from Pareto dominance itself."""
    from kinesis_s3_data_shipper_spark.plans import REGISTRY, all_queries
    all_queries()
    rows = (REGISTRY["parts_skyline_pareto"]
            .spark(spark, "/root/testdata/sf0.01").collect())
    pts = [(r.p_size, r.best_cents, r.on_skyline) for r in rows]
    for size, cents, flag in pts:
        dominated = any(s2 > size and c2 <= cents
                        for s2, c2, _ in pts if s2 != size)
        assert flag == (0 if dominated else 1), (size, cents)
    assert any(f == 0 for _, _, f in pts)   # fixture exercises both
    assert any(f == 1 for _, _, f in pts)


def test_cdc_chunking_insertion_locality():
    """Content-defined chunking's defining property, end to end on the
    committed oracle dataflow: inserting ONE word mid-document changes
    only the chunk(s) covering the edit — every chunk digest outside
    the affected neighborhood survives identically (fixed-stride
    blocking would shift and break every downstream block).  Runs the
    registered oracle SQL against a crafted 2-doc documents view in
    DuckDB; the hash gate ties the Spark plan to this same text."""
    import duckdb

    from kinesis_s3_data_shipper_spark.plans import REGISTRY, all_queries
    all_queries()
    oracle = REGISTRY["text_cdc_chunks"].oracle
    # Grab the chunk-building CTEs; replace the final top-25 rollup
    # with a per-doc digest listing.
    body = oracle[:oracle.index("SELECT digest AS chunk_digest")]
    words = [f"w{i % 37}x{(i * 7) % 11}" for i in range(400)]
    doc_a = " ".join(words)
    doc_b = " ".join(words[:200] + ["INSERTED"] + words[200:])
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM (VALUES "
                f"(1, '{doc_a}'), (2, '{doc_b}')) AS v(doc_id, text)")
    rows = con.sql(body + """
SELECT doc_id, chunk_id, digest, n_words FROM chunks
ORDER BY doc_id, chunk_id""").fetchall()
    a = [r[2] for r in rows if r[0] == 1]
    b = [r[2] for r in rows if r[0] == 2]
    # The tail beyond the edit must be byte-identical chunk digests
    # (content-defined boundaries resynchronize), and a long shared
    # prefix must survive too.
    assert a != b
    tail = 0
    while (tail < min(len(a), len(b))
           and a[-1 - tail] == b[-1 - tail]):
        tail += 1
    pre = 0
    while pre < min(len(a), len(b)) and a[pre] == b[pre]:
        pre += 1
    assert pre + tail >= len(a) - 2, (pre, tail, len(a))
    assert tail >= 3 and pre >= 3


def test_gdpr_purge_leaves_zero_residue(spark):
    """The purge invariant stated outright (the oracle pins residue at
    whatever the purge leaves — this pins that it leaves NOTHING):
    every requested user's rows are gone, purged == their row count,
    and the audit's arithmetic is internally consistent."""
    from kinesis_s3_data_shipper_spark.plans import REGISTRY, all_queries
    all_queries()
    r = (REGISTRY["warehouse_gdpr_delete_audit"]
         .spark(spark, "/root/testdata/sf0.01").collect()[0])
    assert r.residue_rows == 0
    assert r.rows_purged > 0
    assert r.rows_before == r.rows_after + r.rows_purged
    assert r.n_requests > 0
