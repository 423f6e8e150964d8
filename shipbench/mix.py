"""The analytics layer: registered queries over seeded tables.

Every traced run also measures the package's ``plans``/``operators``
surface. It writes the ten tables from the run's seed
(:mod:`.tables`), runs a fixed list of registered queries
(``plans.all_queries``) once, compares each one's rows with its DuckDB
oracle through ``tests/oracle_harness.py`` and keeps the full-value
hash of that verified result. After one untimed pass it times
:data:`PASSES` passes, each query built and then forced with the
full-value hash (``bit_xor(xxhash64(*))``, so no column or join can be
pruned away); every pass must reproduce the verified hashes. No ingest
code runs.

The queries are not an end-to-end workload: on a shared 4-core machine
the time of a pass spread by more than a quarter between runs, against
an eighth for a shipper wave, because their many short Spark jobs are
the first to feel other tenants' load.
"""

from __future__ import annotations

import os
import statistics
import time

from .tables import write_tables
from .trace import Spans, force
from .workloads import Incorrect

#: A three-way join, a salted skew join, MinHash dedup, BPE over
#: documents and a pattern scan over the event stream. Left out for
#: time: the eager checkpoint loops (``graph_louvain_fixpoint``,
#: ``warehouse_lifecycle``, ``streaming_cusum``, ``compute_range_splits``),
#: ``dedup_ngram_jaccard``, ``customer_rfm_segments``, ``ann_ivfpq_refine``
#: and ``text_bm25_topk``, which together take about ten times as long.
QUERIES = ("q3_shipping_priority", "join_salted_skew", "dedup_minhash_lsh",
           "text_bpe_encode", "events_pattern_scan")
PASSES = 3


def verified_hashes(spark, sf_dir: str) -> dict[str, int]:
    """Run each query once, hold its rows to its DuckDB oracle, and
    return the full-value hash of each verified result."""
    from kinesis_s3_data_shipper_spark.plans import all_oracles, all_queries
    from tests.oracle_harness import compare_pdfs, duckdb_connection
    queries, oracles = all_queries(), all_oracles()
    hashes = {}
    con = duckdb_connection(sf_dir)
    try:
        for name in QUERIES:
            df = queries[name](spark, sf_dir).persist()
            try:
                (hashes[name],) = force(df)
                got = df.toPandas()
            finally:
                df.unpersist()
            try:
                compare_pdfs(got, con.sql(oracles[name]).df(), name)
            except AssertionError as e:
                raise Incorrect(f"{name} differs from its oracle: {e}")
    finally:
        con.close()
    spark.catalog.clearCache()
    return hashes


def one_pass(spark, sf_dir: str,
             hashes: dict[str, int]) -> dict[str, tuple[float, float]]:
    """Build and force every query once; return its (build, action)
    seconds. Raises :class:`Incorrect` if a hash differs."""
    from kinesis_s3_data_shipper_spark.plans import all_queries
    queries = all_queries()
    phases = {}
    for name in QUERIES:
        t0 = time.perf_counter()
        df = queries[name](spark, sf_dir)
        t1 = time.perf_counter()
        (got,) = force(df)
        phases[name] = (t1 - t0, time.perf_counter() - t1)
        if got != hashes[name]:
            raise Incorrect(f"{name}: full-value hash {got} differs "
                            f"from the verified {hashes[name]}")
    # Queries persist frames they read twice; a later pass must not
    # find them cached.
    spark.catalog.clearCache()
    return phases


def mix_layers(spark, work: str, seed: int, spans: Spans) -> dict:
    """``mix.<query>.build_s`` and ``.action_s``: medians over the
    timed passes, which run under the ``mix`` span."""
    sf_dir = write_tables(os.path.join(work, "tables"), seed)
    hashes = verified_hashes(spark, sf_dir)
    one_pass(spark, sf_dir, hashes)
    passes = []
    for _ in range(PASSES):
        with spans("mix"):
            passes.append(one_pass(spark, sf_dir, hashes))
    return {f"mix.{name}.{phase}": statistics.median(p[name][i]
                                                     for p in passes)
            for name in QUERIES
            for i, phase in enumerate(("build_s", "action_s"))}
