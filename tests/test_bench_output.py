"""Pin bench.py's final-stdout-line size under the driver's capture.

Round 5's official bench artifact was lost (`BENCH_r05.json:
"parsed": null`) because the single JSON line — grown to ~5.7 KB by
the per-query dispersion map — exceeded the ~2,000-character stdout
tail the recording harness keeps. bench.py now prints ONLY the
compact record as its final line (`bench.compact_line`) and routes
dispersion/errors to a side file. These tests pin that the line fits
the capture budget at worst-plausible timings, and that a line past
it drops the per-query map instead of being truncated.
"""

import json

import pytest

from bench import CAPTURE_BUDGET, HEADLINE, TAIL, compact_line


def _compact_line(per_query_seconds: float, steal_pct=100.0) -> str:
    """bench.py's final line with every query at one timing. The
    contract fields take their widest plausible rendering: a 3-digit
    core count and a 100.0% steal share."""
    return compact_line(dict.fromkeys(HEADLINE, per_query_seconds),
                        dict.fromkeys(TAIL, per_query_seconds),
                        0.1, 128, steal_pct)


def test_compact_line_fits_capture_budget_at_worst_plausible_timings():
    # 99.99 s/query is far beyond anything observed (worst single
    # query min across all rounds: ~2.5 s; worst single RUN incl.
    # steal spikes: ~24.5 s — and the compact line carries min-of-4,
    # never a single run); 5-char values are the widest rendering
    # 2-decimal rounding produces below 100 s.  At these timings the
    # per-query map must still fit, not be trimmed.
    line = _compact_line(99.99)
    assert len(line) <= CAPTURE_BUDGET, (
        f"compact bench line is {len(line)} chars at worst-case "
        f"timings; trim HEADLINE or shorten the record"
    )
    assert set(json.loads(line)["queries"]) == set(HEADLINE)


def test_compact_line_over_budget_drops_query_map():
    # 7-char per-query values push the map past the budget: the line
    # keeps the totals and the contract fields, and drops the map.
    line = _compact_line(99999.99)
    assert len(line) <= CAPTURE_BUDGET
    rec = json.loads(line)
    assert "queries" not in rec
    assert rec["value"] == round(99999.99 * len(HEADLINE), 2)
    assert rec["cpus"] == 128 and rec["steal_pct"] == 100.0


def test_compact_line_is_valid_driver_record():
    rec = json.loads(_compact_line(1.23))
    assert rec["metric"] == "headline_queries_total_runtime"
    assert rec["unit"] == "sec"
    assert set(rec["queries"]) == set(HEADLINE)
    # The config/health echo fields parse as numbers.
    assert isinstance(rec["cpus"], int)
    assert isinstance(rec["steal_pct"], float)
    # steal_pct is present even where /proc/stat cannot be read.
    rec = json.loads(_compact_line(1.23, steal_pct=None))
    assert rec["steal_pct"] is None


def test_merge_rejects_sessions_with_different_cpus():
    from scripts.bench_sessions import merge

    def session(cpus: int) -> dict:
        return {"metric": "headline_queries_total_runtime", "value": 1.0,
                "queries": {"q": 1.0}, "sf": 0.1, "cpus": cpus}

    assert merge([session(4), session(4)])["cpus"] == 4
    with pytest.raises(ValueError, match="different cpus"):
        merge([session(4), session(8)])


def test_tail_tier_names_are_registered_and_disjoint():
    """The heavy-tail tier (r12 verdict ask #5) must stay a real,
    non-overlapping query set: every name registered, none also in
    HEADLINE (its total would double-count), exactly the documented
    10 slots."""
    from kinesis_s3_data_shipper_spark.plans import all_queries
    names = set(all_queries())
    assert len(TAIL) == 10 and len(set(TAIL)) == 10
    assert set(TAIL) <= names
    assert not set(TAIL) & set(HEADLINE)


def test_tail_full_value_action_defeats_count_join_elimination(spark):
    """Plan-pin the round-13 tail-action lesson: for an output shaped
    like the ngram groups form (left join against a distinct-keyed
    member map), a bare count() lets Catalyst ELIMINATE the join (its
    row count is join-invariant), so timing count() measures a scan,
    not the plan — the tail tier's first artifact showed 0.53 s
    against the 10.8 s real cost.  The full-value action bench.py
    times the tail with must keep the join alive.  If a Spark upgrade
    changes either property, the tail protocol needs re-deciding, so
    both directions are asserted."""
    from pyspark.sql import functions as F

    from tests.oracle_harness import full_value_agg

    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("t"), F.col("id")).alias("text"))
    members = (docs.filter(F.col("doc_id") % 7 == 0)
               .groupBy("doc_id")
               .agg(F.min("text").alias("rep")))
    out = docs.join(members, "doc_id", "left")

    def optimized(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    # count(): the join is eliminated from the optimized plan...
    assert "Join" not in optimized(out.groupBy().count()), (
        "count() no longer eliminates the distinct-keyed left join - "
        "the tail tier could go back to count() (re-measure first)")
    # ...while the full-value hash keeps it (and runs correctly).
    hashed = out.select(
        F.bit_xor(F.xxhash64(*[F.col(c) for c in out.columns]))
        .alias("h"))
    assert "Join" in optimized(hashed)
    full_value_agg(out)
