#!/usr/bin/env python3
"""Candidate-economy record for the n-gram/set-similarity family: run
the three PPJoin-backed registered shapes at sf0.01 and sf0.1 with the
operators' diag taps attached, and commit the MEASURED candidate-pair /
verify-pair counts, so the family's 10x-step ratios are explained by
recorded numbers instead of argued from the plan shape.

Counts recorded per (query, sf):
- docs / nonnull_docs / reps — corpus size, pipeline-eligible size,
  and collapsed-representative count (the PPJoin's true input);
- cand_rows — candidate-join output rows surviving PPJoin's length
  filter, the input of the per-pair positional-bound aggregation;
- cand_pairs — candidate pairs passing the positional bound (exactly
  what the verify touches);
- hash_survivors — n-gram forms only: pairs passing the hashed
  prefilter (the exact string verify's input);
- qualifying_rep_pairs — rep pairs passing the exact Jaccard
  threshold (groups form records sym_rows == 2x this);
- compute_sec — build + fetch-free full-value aggregate over the
  tapped plan, one execution, cache cleared first (the sweep's
  compute_sec protocol, so ratios here are comparable to
  CORRECTNESS_LOCAL*'s fields).

The taps are CollectMetrics nodes (pyspark Observation): counts are
collected as rows FLOW through the executed plan — no second action,
no re-execution, so the recorded counts are those of the measured run
itself.  Registered plans never attach them (diag defaults to None),
so the executed-plan audit and the oracle hashes are untouched.

Usage: python scripts/ngram_candidate_economy.py \
    [--sf-dirs /root/testdata/sf0.01 /root/testdata/sf0.1] \
    [--out NGRAM_CANDIDATE_ECONOMY.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from tests.oracle_harness import full_value_agg  # noqa: E402


def run_one(spark: SparkSession, sf_dir: str, name: str) -> dict:
    from kinesis_s3_data_shipper_spark.operators.dedup import (
        blocked_ngram_jaccard_groups, blocked_ngram_jaccard_pairs,
        diag_counts, setsim_prefix_pairs)
    from kinesis_s3_data_shipper_spark.plans.dedup import _PP_PRED, _PP_T
    from kinesis_s3_data_shipper_spark.sources.tables import load_table

    spark.catalog.clearCache()
    docs = load_table(spark, sf_dir, "documents")
    diag: dict = {}
    if name == "dedup_setsim_prefix":
        sub = docs.filter(F.expr(_PP_PRED))
        out = setsim_prefix_pairs(sub, id_col="doc_id", text_col="text",
                                  threshold=_PP_T, diag=diag)
        n_docs = sub.count()
        nonnull = sub.filter(F.col("text").isNotNull())
        reps = nonnull.select(F.md5("text")).distinct().count()
        n_nonnull = nonnull.count()
    else:
        blocked = docs.withColumn("len_bucket", F.expr("n_chars div 100"))
        fn = (blocked_ngram_jaccard_pairs if name == "dedup_ngram_jaccard"
              else blocked_ngram_jaccard_groups)
        out = fn(blocked, id_col="doc_id", text_col="text",
                 block_cols=["lang", "len_bucket"], ngram_n=5,
                 threshold=0.6, diag=diag)
        n_docs = docs.count()
        nonnull = blocked.filter(
            F.col("text").isNotNull() & F.col("lang").isNotNull()
            & F.col("len_bucket").isNotNull())
        reps = (nonnull.select("lang", "len_bucket", F.md5("text"))
                .distinct().count())
        n_nonnull = nonnull.count()
    spark.catalog.clearCache()
    start = time.perf_counter()
    full_value_agg(out)
    compute_sec = round(time.perf_counter() - start, 3)
    counts = diag_counts(diag)
    if "sym_rows" in counts:
        counts["qualifying_rep_pairs"] = counts.pop("sym_rows") // 2
    rec = {"docs": n_docs, "nonnull_docs": n_nonnull, "reps": reps,
           "compute_sec": compute_sec, **counts}
    spark.catalog.clearCache()
    return rec


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dirs", nargs="+",
                    default=["/root/testdata/sf0.01",
                             "/root/testdata/sf0.1"])
    ap.add_argument("--out", default="NGRAM_CANDIDATE_ECONOMY.json")
    args = ap.parse_args()

    from kinesis_s3_data_shipper_spark.session import get_session
    spark = get_session("ngram_candidate_economy")
    # Session ramp (the sweep/bench warmup rationale): absorb one-time
    # JVM/codegen startup outside the timed windows.
    spark.range(1000).select(F.xxhash64("id")).count()

    queries = ("dedup_ngram_jaccard", "dedup_ngram_jaccard_groups",
               "dedup_setsim_prefix")
    record: dict = {"_meta": {
        "protocol": ("per (query, sf): operator invoked with diag taps "
                     "(CollectMetrics), ONE execution timed as "
                     "compute_sec = build + bit_xor(xxhash64(*)) "
                     "aggregate with no driver fetch, cache cleared "
                     "before; counts collected from the same "
                     "execution's row flow"),
        "taps": ["cand_rows (length-filtered join rows)",
                 "cand_pairs (positional-bound pairs, = verify input)",
                 "hash_survivors (n-gram hashed prefilter survivors)",
                 "qualifying_rep_pairs (post-threshold)"],
    }}
    for sf_dir in args.sf_dirs:
        sf_key = os.path.basename(sf_dir.rstrip("/"))
        for name in queries:
            rec = run_one(spark, sf_dir, name)
            record.setdefault(name, {})[sf_key] = rec
            print(f"{name} @ {sf_key}: {rec}", file=sys.stderr)
    # Per-query cross-sf ratios, computed once here so SCALE.md can
    # cite a single committed artifact.
    for name in queries:
        sfs = [k for k in record[name] if k != "ratios"]
        if len(sfs) == 2:
            lo, hi = sorted(sfs, key=lambda k: float(k[2:]))
            ratios = {}
            for field in ("reps", "cand_rows", "cand_pairs",
                          "qualifying_rep_pairs", "compute_sec"):
                a, b = record[name][lo].get(field), record[name][hi].get(field)
                if a and b:
                    ratios[field] = round(b / a, 2)
            record[name]["ratios"] = ratios
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps({"out": args.out,
                      "queries": {q: record[q].get("ratios") for q in queries}}))


if __name__ == "__main__":
    main()
