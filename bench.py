#!/usr/bin/env python3
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Each query is forced with a cheap count() action (results are small
aggregates; the work is the scan/join/shuffle, which count() executes
fully). A warmup query runs first so JVM/codegen startup isn't charged
to q1.  r13 adds the heavy-tail tier (TAIL, r12 verdict ask #5): the
top-10 sweep-cost queries benched under the same interleaved protocol,
reported as compact "tail_sec" + per-query "tail_queries" in the FULL
record, never mixed into the headline "value".

OUTPUT CONTRACT (round-6 fix): the harness that records this bench
keeps only the last ~2,000 characters of stdout, and the round-5
official artifact was lost because the single JSON line grew past that
with the per-query dispersion map. So: the FINAL stdout line is now
the COMPACT record only, rendered by `compact_line` ({metric, value,
unit, queries, sf, ...} with 2-decimal timings and no whitespace; past
CAPTURE_BUDGET it drops the per-query map), and the detail record
(3-decimal timings + dispersion + errors) is written to
$SPARK_GRAFT_BENCH_FULL
(default ./BENCH_HEADLINE_LOCAL.json — renamed from BENCH_FULL_LOCAL
in r10: it holds the 63-query HEADLINE set, not the full registry;
registry-wide per-query timings live in CORRECTNESS_LOCAL*.json's
spark_sec fields) instead of stdout.

SESSION DISPERSION PROTOCOL (r09 verdict ask #5): this VM shows
whole-session steal-time episodes — two same-code clean sessions
measured 44.7 s and 57.8 s totals, min and med rising TOGETHER for
every query, so even min-of-4 within one session cannot separate a
real regression from a slow session.  The committed round artifact
(BENCH_LOCAL_r{N}.json) is therefore the PER-QUERY MIN ACROSS >=3
separate sessions: run `python scripts/bench_sessions.py 3`, which
invokes this script N times in fresh processes and merges.  A single
`python bench.py` run (what the external driver does) stays valid for
correctness but its total sits anywhere in the session band.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from kinesis_s3_data_shipper_spark.plans import all_queries
from kinesis_s3_data_shipper_spark.session import get_session
from tests.oracle_harness import full_value_agg

#: The driver keeps the last ~2,000 characters of stdout; leave
#: headroom for a trailing newline and log fragments sharing the tail.
CAPTURE_BUDGET = 1900

#: Steal-outlier replacement protocol (r11 verdict ask #2): the
#: committed dispersion blocks show isolated per-run steal spikes
#: (join_bloom_prefilter 1.64 s min / 24.5 s max INSIDE one session),
#: so a run that lands > OUTLIER_MULT x the query's running min is
#: treated as a stolen sample and earns ONE replacement run, bounded
#: at MAX_EXTRA_RUNS per session so the protocol cannot degenerate
#: into run-until-fast.  The outlier run itself stays in the recorded
#: dispersion (max shows the spike); replacement counts are recorded
#: per query and session-wide so the artifact says how often the
#: grant fired.
OUTLIER_MULT = 4.0
MAX_EXTRA_RUNS = 8


def read_steal_ticks() -> tuple[int | None, int | None]:
    """(steal_ticks, total_ticks) from /proc/stat's aggregate cpu line
    — the r11 verdict ask #7 health stamp.  SCALE.md attributes bench
    dispersion to VM steal; sampling the counter around each session
    makes that claim measurable instead of inferred.  Returns (None,
    None) where /proc/stat is unavailable (non-Linux)."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        vals = [int(x) for x in parts[1:]]
    except (OSError, ValueError):
        return None, None
    if len(vals) < 8:
        return None, None
    return vals[7], sum(vals)

# Headline membership is budgeted: the driver captures one line of
# ~1900 chars, and tests/test_bench_output.py pins the worst-case
# rendering under it — adding a query here means rotating out a
# family-redundant one (multiprobe variants, extra TPC-H shapes,
# second sketches were rotated out in round 7).
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "join_left_agg",
    "join_salted_skew",
    "agg_cube",
    "window_topk_per_group",
    "events_hourly",
    "sessionize",
    "asof_join",
    "dedup_minhash_lsh",
    "dedup_clusters_cc",
    "dedup_exact_hash",
    "ann_bruteforce_topk",
    "ann_lsh_probe",
    "ann_ivf_probe",
    "text_quality",
    "text_tfidf_top_terms",
    "text_chunk_udtf",
    "sample_hash_stratified",
    "pack_sequences",
    "q6_forecast_revenue",
    "dedup_embedding_cosine",
    "multimodal_frame_sample",
    "ingest_pipeline",
    "dedup_substring_spans",
    "merge_upsert_customers",
    "q9_product_profit",
    "events_funnel",
    "graph_pagerank_iter",
    "sample_balance_classes",
    "ann_pq_adc",
    "ann_ivfpq_adc",
    "semdedup_kmeans",
    "text_unigram_lm_score",
    "diff_snapshots",
    "events_pattern_scan",
    "agg_sketch_merge_hll",
    "agg_sketch_merge_kll",
    "join_interval_binned",
    # round 5: distributed-ranker plans + the sampled production path
    "compute_range_splits",
    "compute_range_splits_sampled",
    "customer_rfm_segments",
    "dedup_minhash_lsh_incremental",
    "dedup_paragraphs",
    "sample_quality_weighted",
    "events_mad_outliers",
    "text_collocations",
    "profile_key_skew",
    # round 6: ingest hash-check companion, OPTIMIZE oracle round-trip,
    # int8 embedding quantization, BM25 retrieval (streaming_cusum is
    # registered + oracle-gated but, like every streaming query, stays
    # out of the headline: its runtime is streaming-startup-dominated).
    "ingest_pipeline_agg",
    "maintenance_compact_roundtrip",
    "embedding_int8_quantize",
    "text_bm25_topk",
    # round 7: the two-stage ANN serving pattern, runtime-filter join,
    # skew-safe distinct, hybrid lexical->semantic dedup, Morton
    # layout, the learned-tokenizer encode, sliding count-distinct,
    # bigram LM filter, and the one-pass nearest as-of.
    "ann_ivfpq_refine",
    "join_bloom_prefilter",
    "agg_distinct_twophase",
    "dedup_hybrid_lsh_semantic",
    "warehouse_zorder_cluster",
    "text_bpe_encode",
    "events_sliding_distinct",
    "text_bigram_lm_score",
    "asof_join_nearest",
    # round 7 late batch: edge-Jaccard link scoring — the heaviest new
    # query (wedge join + triangle shuffle); exactly one slot of the
    # 1,900-char capture budget remained (worst-case render 1,871).
    "graph_jaccard_neighbors",
]

#: Heavy-tail tier (r12 verdict ask #5): the top-10 sf0.1 compute_sec
#: queries OUTSIDE the headline set (CORRECTNESS_LOCAL_SF01.json,
#: r12) — the headline's capture budget excludes everything above
#: ~2 s, so regressions in the most expensive plans were sweep-only.
#: Same interleaved min-of-4 + replacement protocol, shared rounds;
#: separate totals so the headline `value` stays comparable across
#: rounds.  Per-query tail numbers live in the FULL side record and
#: in compact["tail"] only if budget allows — the compact line always
#: carries tail_sec.  Streaming twins ARE included here (their drains
#: dominate the sweep tail; startup noise is what min-of-4 absorbs).
TAIL = [
    "dedup_ngram_jaccard_groups",
    "graph_louvain_fixpoint",
    "dedup_ngram_jaccard",
    "recursive_ewma_monthly",
    "streaming_cusum",
    "graph_pagerank_fixpoint",
    "warehouse_lifecycle",
    "streaming_rate_limit",
    "streaming_match_recognize",
    "streaming_holt",
]


def compact_line(timings: dict[str, float], tail_timings: dict[str, float],
                 sf, cpus: int, steal_pct: float | None,
                 incomplete: bool = False) -> str:
    """The driver-visible final stdout line: 2-decimal timings, no
    whitespace.  ``steal_pct`` is always present (null where
    /proc/stat cannot be read).  A line over CAPTURE_BUDGET drops the
    per-query ``queries`` map, which the side file keeps."""
    compact = {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(timings.values()), 2),
        "unit": "sec",
        "queries": {n: round(t, 2) for n, t in timings.items()},
        # One driver-visible number for the heavy tail; its per-query
        # map lives in the FULL record (capture budget).
        "tail_sec": round(sum(tail_timings.values()), 2),
        "sf": sf,
        # Session config + health are part of the driver-visible line,
        # so a mis-configured or steal-contaminated session
        # self-identifies instead of reading as a regression.
        "cpus": cpus,
        "steal_pct": steal_pct,
    }
    if incomplete:
        # A crashed query's timing is missing from `value`, so the
        # headline total must never be compared against a full run.
        compact["incomplete"] = True
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > CAPTURE_BUDGET:
        del compact["queries"]
        line = json.dumps(compact, separators=(",", ":"))
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    steal0, ticks0 = read_steal_ticks()
    spark = get_session("ksds-bench")
    queries = all_queries()

    # Warmup (r11, verdict ask #2): the session-dispersion record
    # showed FIRST-query inflation (q1 min 0.84 / med 1.48 / max
    # 7.13 s across same-code sessions) — session ramp (JVM/codegen
    # compile, shuffle machinery, parquet footer reads, executor
    # thread pool) was being charged to the first timed queries, so a
    # single-session run (the external driver's protocol) sat far
    # above the committed min-of-sessions total.  Ramp everything
    # BEFORE timing starts: a trivial action, every table's footer +
    # row-group metadata, then two representative REAL queries
    # (scan->shuffle->agg and a join) run untimed.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"):
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            spark.read.parquet(p).count()
    for warm_q in ("q1_pricing_summary", "join_left_agg"):
        try:
            queries[warm_q](spark, sf_dir).count()
        except Exception:  # noqa: BLE001 — warmup must never sink bench
            pass
    spark.catalog.clearCache()

    timings: dict[str, float] = {}
    dispersion: dict[str, dict[str, float]] = {}
    errors: dict[str, str] = {}
    extra_budget = MAX_EXTRA_RUNS
    replaced_total = 0
    # Four runs per query, report the min: steady-state cost, not
    # JVM/codegen warmup or GC noise — and this VM shows random
    # multi-second steal-time spikes (measured: the same query
    # swinging 0.4 s to 7 s across back-to-back runs, and whole-bench
    # totals swinging 30-44 s on identical code), so min-of-N is what
    # makes cross-round comparison meaningful.  The runs are
    # INTERLEAVED in rounds (every query once per round, r12): four
    # back-to-back runs all sat inside the same ~10 s window, so one
    # steal episode ate every sample of 2-3 adjacent queries at once
    # — spread across the session, a query keeps 3 samples from other
    # times and min-of-4 actually resists episodes instead of just
    # spikes.  A run landing > OUTLIER_MULT x the query's running min
    # additionally earns one replacement run (session budget
    # MAX_EXTRA_RUNS), taken after the rounds; the outlier stays in
    # the dispersion record.  Cache cleared per run so persisted
    # intermediates (minhash signatures) are honestly recomputed, not
    # replayed.  One failing query must not sink the whole bench:
    # record the error, skip its remaining rounds, keep going.
    all_bench = HEADLINE + TAIL
    runs: dict[str, list[float]] = {n: [] for n in all_bench}
    replaced: dict[str, int] = dict.fromkeys(all_bench, 0)

    def one_run(name: str) -> None:
        nonlocal extra_budget
        spark.catalog.clearCache()
        start = time.perf_counter()
        df = queries[name](spark, sf_dir)
        # TAIL exists to make the heaviest PLANS driver-visible, so it
        # must time the real plan (full-value agg).  HEADLINE stays
        # count() — its cross-round comparability (r01..r12 records)
        # outweighs the elimination risk, which the plan-audit gate
        # covers for correctness-of-shape.
        if name in TAIL:
            full_value_agg(df)
        else:
            df.count()
        elapsed = time.perf_counter() - start
        rs = runs[name]
        if rs and extra_budget > 0 and elapsed > OUTLIER_MULT * min(rs):
            extra_budget -= 1
            replaced[name] += 1
        rs.append(elapsed)

    for _round in range(4):
        for name in all_bench:
            if name in errors:
                continue
            try:
                one_run(name)
            except Exception as exc:  # noqa: BLE001
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
    replacement_errors: dict[str, str] = {}
    for name in all_bench:
        # Replacement pass: a replacement run can itself be flagged
        # (budget-capped), so loop until the query's grant is spent.
        # Replacement runs are extra credit on top of 4 already-valid
        # interleaved samples — a failure here is recorded but must
        # NOT move the query into `errors`, which would discard those
        # core-protocol samples from the report (r12 advice).
        while (name not in errors
               and len(runs[name]) < 4 + replaced[name]):
            try:
                one_run(name)
            except Exception as exc:  # noqa: BLE001
                msg = f"{type(exc).__name__}: {exc}"[:300]
                if len(runs[name]) >= 4:
                    replacement_errors[name] = msg
                    break
                errors[name] = msg
    tail_timings: dict[str, float] = {}
    for name in all_bench:
        if name in errors or not runs[name]:
            continue
        rs = sorted(runs[name])
        (tail_timings if name in TAIL else timings)[name] = round(rs[0], 3)
        # Per-query dispersion so cross-round deltas are auditable:
        # a noisy-VM spike shows as med >> min; a REAL regression
        # moves min and med together (round-4 verdict ask #6).
        dispersion[name] = {
            "min": round(rs[0], 3),
            "med": round(statistics.median(rs), 3),
            "max": round(rs[-1], 3),
        }
        if replaced[name]:
            dispersion[name]["replaced"] = replaced[name]
            replaced_total += replaced[name]
        if name in replacement_errors:
            dispersion[name]["replacement_error"] = (
                replacement_errors[name])

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # r14 (verdict ask #2): echo the EFFECTIVE core count, read back
    # from the live SparkContext rather than the env var, so the
    # driver's scaling probe can verify $SPARK_GRAFT_CPUS took effect
    # (local[n] => defaultParallelism == n) instead of inferring it
    # from ratios on scheduling-bound sub-second queries
    # (PERF_r13.json's suspect_cpus_ignored false alarm).
    eff_cpus = spark.sparkContext.defaultParallelism
    full = {
        "metric": "headline_queries_total_runtime",
        "scope": f"headline_{len(HEADLINE)}_of_{len(queries)}_registered",
        # r10 verdict ask #7: both bench artifacts self-describe their
        # protocol so a single-session number is never mistaken for
        # the committed cross-session min (BENCH_LOCAL_r{N}.json =
        # per-query min across >=3 sessions of scripts/
        # bench_sessions.py, each itself min-of-4).
        "protocol": ("single session, min of 4 INTERLEAVED rounds per "
                     "query (every query once per round, so one steal "
                     "episode cannot eat all of a query's samples) plus "
                     f"one replacement per steal-outlier run (> "
                     f"{OUTLIER_MULT}x running min, <= {MAX_EXTRA_RUNS} "
                     "extras/session), cache cleared per run, full ramp "
                     "warmup before timing"),
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        # Heavy-tail tier (r12 verdict ask #5): per-query numbers for
        # the top-10 sweep-cost queries, same protocol, separate
        # total so `value` stays comparable across rounds.
        "tail_scope": f"tail_{len(TAIL)}_heaviest_nonheadline",
        # Tail action = fetch-free full-value agg, NOT count():
        # count() let Catalyst eliminate the groups form's joins
        # (0.53 s vs the 10.8 s real plan) — see one_run and
        # tests/oracle_harness.py::full_value_agg.
        "tail_action": "bit_xor_xxhash64_full_value",
        "tail_sec": round(sum(tail_timings.values()), 3),
        "tail_queries": tail_timings,
        "dispersion": dispersion,
        "replaced_runs": replaced_total,
        "sf": sf_val,
        "cpus": eff_cpus,
    }
    steal1, ticks1 = read_steal_ticks()
    if steal0 is not None and steal1 is not None and ticks1 > ticks0:
        # Session health stamp (r11 ask #7): steal share of ALL host
        # ticks over the bench window — the measurable form of the
        # "VM steal episode" dispersion attribution.
        full["steal"] = {
            "ticks": steal1 - steal0,
            "pct_of_host": round(100.0 * (steal1 - steal0)
                                 / (ticks1 - ticks0), 3),
        }
    if errors:
        full["errors"] = errors
        full["incomplete"] = True
    full_path = os.environ.get("SPARK_GRAFT_BENCH_FULL",
                               "BENCH_HEADLINE_LOCAL.json")
    with open(full_path, "w") as fh:
        json.dump(full, fh, indent=0)
        fh.write("\n")
    # FINAL line = compact record only; must fit the driver's ~2 KB
    # stdout tail capture or the round's official artifact is lost.
    print(compact_line(timings, tail_timings, sf_val, eff_cpus,
                       full.get("steal", {}).get("pct_of_host"),
                       incomplete=bool(errors)))
    spark.stop()


if __name__ == "__main__":
    main()
