#!/usr/bin/env python3
"""Min-of-N-sessions bench protocol (r09 verdict ask #5).

This VM's whole-session steal-time episodes move EVERY query's min and
median together (SCALE.md's round-9 dispersion note: 44.7 s vs 57.8 s
totals on identical code), so one session's bench total cannot
distinguish a real regression from a slow session.  This wrapper runs
``bench.py`` N times in FRESH processes (fresh JVM, fresh session) and
merges: per-query MIN across sessions, with the per-session totals
recorded so the band itself is auditable.  The merged record is what a
round commits as BENCH_LOCAL_r{N}.json.

Usage: python scripts/bench_sessions.py [n_sessions] [out_path]
       (defaults: 3 sessions, stdout only)

Environment passes through to bench.py ($SPARK_GRAFT_SF_DIR,
$SPARK_GRAFT_CPUS); each session's detail record goes to a temp file
so the committed BENCH_HEADLINE_LOCAL.json (the last single-session
detail) is not clobbered mid-protocol.
"""
from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run_sessions(n: int) -> list[dict]:
    """Run bench.py n times in fresh processes; return the FULL detail
    records (3-decimal timings + dispersion)."""
    records = []
    for i in range(n):
        with tempfile.NamedTemporaryFile(
                mode="r", suffix=".json", prefix=f"bench_s{i}_",
                delete=False) as tf:
            detail_path = tf.name
        env = dict(os.environ, SPARK_GRAFT_BENCH_FULL=detail_path)
        proc = subprocess.run(
            [sys.executable, "bench.py"], env=env,
            capture_output=True, text=True,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        if proc.returncode != 0:
            raise RuntimeError(
                f"session {i} failed:\n{proc.stderr[-2000:]}")
        with open(detail_path) as f:
            rec = json.load(f)
        os.unlink(detail_path)
        print(f"session {i}: total={rec['value']}s", file=sys.stderr)
        records.append(rec)
    return records


def merge(records: list[dict]) -> dict:
    """Per-query min across sessions; totals per session kept so the
    dispersion band is part of the committed record."""
    names = records[0]["queries"].keys()
    for r in records[1:]:
        if r["queries"].keys() != names:
            raise ValueError("sessions benched different query sets")
        if r.get("cpus") != records[0].get("cpus"):
            raise ValueError("sessions ran with different cpus")
    if any(r.get("incomplete") for r in records):
        raise ValueError("a session had errored queries; fix first")
    queries = {n: round(min(r["queries"][n] for r in records), 3)
               for n in names}
    # Heavy-tail tier (r12 verdict ask #5): merged identically, kept
    # out of `value` so the headline total stays cross-round
    # comparable.
    tail_names = records[0].get("tail_queries", {}).keys()
    tail = {n: round(min(r["tail_queries"][n] for r in records), 3)
            for n in tail_names}
    return {
        "metric": records[0]["metric"],
        "scope": records[0].get("scope"),
        "protocol": f"per-query min across {len(records)} sessions, "
                    "min-of-4 runs within each (+steal-outlier "
                    "replacement runs, see session protocol)",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "tail_scope": records[0].get("tail_scope"),
        "tail_action": records[0].get("tail_action"),
        "tail_sec": round(sum(tail.values()), 3),
        "tail_queries": tail,
        "session_totals": [r["value"] for r in records],
        "session_tail_totals": [r.get("tail_sec") for r in records],
        # Per-session health stamps (r11 ask #7): steal share of host
        # ticks over each session window, plus how many steal-outlier
        # replacement runs each session granted — the dispersion
        # discussion can now cite measured steal instead of inference.
        "session_steal_pct": [
            (r.get("steal") or {}).get("pct_of_host") for r in records],
        "session_replaced_runs": [
            r.get("replaced_runs", 0) for r in records],
        "sf": records[0]["sf"],
        # The effective core count, the same in every session (checked
        # above), so the merged artifact is self-describing too.
        "cpus": records[0].get("cpus"),
    }


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    out = sys.argv[2] if len(sys.argv) > 2 else None
    merged = merge(run_sessions(n))
    line = json.dumps(merged, separators=(",", ":"))
    if out:
        with open(out, "w") as f:
            f.write(json.dumps(merged, indent=1) + "\n")
    print(line)


if __name__ == "__main__":
    main()
