"""Fold a Spark event log into per-span counters.

Spans run one after another on the driver's one thread, so every job
submitted and every task launched inside a span's wall-clock window
belongs to that span — Spark's own job groups would miss the jobs a
streaming query submits from its own thread. Counts of jobs, stages
and tasks, input and shuffle bytes and executor CPU time do not move
with VM steal, so they back the self-time figures of the traced run.
"""

from __future__ import annotations

import json

COUNTERS = ("jobs", "stages", "tasks", "failed_tasks", "shuffle_write_mb",
            "input_mb", "executor_cpu_s")
_MB = 1024 * 1024


Windows = dict[str, list[tuple[float, float]]]


def _span_of(t_ms: float, spans: Windows) -> str | None:
    for name, windows in spans.items():
        if any(t0 <= t_ms <= t1 for t0, t1 in windows):
            return name
    return None


def fold(lines, spans: Windows) -> dict[str, dict]:
    """``spans`` maps a name to the ``(start_ms, end_ms)`` epoch windows
    it ran in; ``lines`` are the event log's JSON lines. Returns the
    counters of :data:`COUNTERS` per span, summed over its windows
    (every span present, zeros if idle)."""
    out = {name: dict.fromkeys(COUNTERS, 0) for name in spans}
    stages: dict[str, set] = {name: set() for name in spans}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            span = _span_of(ev["Submission Time"], spans)
            if span:
                out[span]["jobs"] += 1
        elif kind == "SparkListenerTaskEnd":
            span = _span_of(ev["Task Info"]["Launch Time"], spans)
            if not span:
                continue
            rec = out[span]
            rec["tasks"] += 1
            stages[span].add((ev["Stage ID"], ev["Stage Attempt ID"]))
            if ev["Task End Reason"]["Reason"] != "Success":
                rec["failed_tasks"] += 1
            metrics = ev.get("Task Metrics") or {}
            rec["executor_cpu_s"] += metrics.get("Executor CPU Time", 0) / 1e9
            rec["input_mb"] += (metrics.get("Input Metrics", {})
                                .get("Bytes Read", 0)) / _MB
            rec["shuffle_write_mb"] += (
                metrics.get("Shuffle Write Metrics", {})
                .get("Shuffle Bytes Written", 0)) / _MB
    for name, seen in stages.items():
        out[name]["stages"] = len(seen)
    return out


def fold_file(path: str, spans: Windows) -> dict[str, dict]:
    with open(path) as fh:
        return fold(fh, spans)
