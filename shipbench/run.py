"""Shipper benchmark: one command per workload run.

    python3 shipbench/run.py --workload ship_bulk --seed 1 --seconds 6 --trace 0

Run from the checkout root. A run sets up once (session start with
the JVM launch, input generation from ``--seed``, untimed warm-up waves
over the same kind of input), then times waves of ``shipper.run_batch``
for ``--seconds`` seconds, checking every wave's delivery against the
ground truth. With ``--trace 0`` it prints the end-to-end metrics. With
``--trace 1`` the session also writes Spark's event log, and after the
timed waves the run rebuilds one wave layer by layer and times the
analytics queries; it prints the per-layer metrics instead. The metric
names are those of ``BENCHMARK.json``. The last line of standard output
is the result object; the line before it is the run record (settings,
samples, tail percentile).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "kinesis_s3_data_shipper_spark"
MIN_WAVES = 2
MB = 1024 * 1024


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("ship_bulk", "ship_incremental"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def end_to_end(args, engine, workload, spans) -> tuple[dict, dict, list]:
    from shipbench.stats import PeakRss, cpu_times, steal_pct, tail
    t0 = time.perf_counter()
    engine.start(event_log=bool(args.trace))
    session_start = time.perf_counter() - t0
    workload.setup()
    setup = time.perf_counter() - t0
    waves, cpu0 = [], cpu_times()
    with PeakRss() as rss:
        while (sum(w.wall_s for w in waves) < args.seconds
               or len(waves) < MIN_WAVES):
            with spans("run_batch"):
                waves.append(workload.wave())
    walls = [w.wall_s for w in waves]
    pct, n, tail_s = tail(walls)
    values = {
        "setup_s": setup,
        "bulk_events_per_s": sum(w.events for w in waves) / sum(walls),
        "wave_p50_s": statistics.median(walls),
        "wave_tail_s": tail_s,
    }
    info = {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "session": engine.echo(),
            "session_start_s": session_start, "setup_s": setup,
            "waves": n, "wave_tail_percentile": pct, "wave_walls_s": walls,
            "events_per_wave": [w.events for w in waves],
            "peak_rss_mb": rss.peak / MB,
            "steal_pct": steal_pct(cpu0, cpu_times())}
    return values, info, waves


def per_layer(workload, waves, spans, info) -> dict:
    from shipbench.stats import cpu_times, steal_pct
    from shipbench.trace import ship_layers
    cpu0 = cpu_times()
    values = ship_layers(workload, waves, spans)
    values["control.steal_pct"] = steal_pct(cpu0, cpu_times())
    values["session.start_s"] = info["session_start_s"]
    values["process.peak_rss_mb"] = info["peak_rss_mb"]
    info["span_secs"] = spans.secs
    return values


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"shipbench: no {PACKAGE} package beside shipbench/ in {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from shipbench.engine import Engine
    from shipbench.record import metric_specs, result_line
    from shipbench.sink import Sink
    from shipbench.trace import Spans
    from shipbench.workloads import WORKLOADS, Incorrect, fresh

    work = fresh(os.path.join(ROOT, ".bench_work",
                              f"{args.workload}-{os.getpid()}"))
    engine = Engine(ROOT, work)
    sink = Sink()
    workload = WORKLOADS[args.workload](engine, sink, work, args.seed)
    spans = Spans()
    correct, failed, values, info = True, 0, {}, {}
    try:
        values, info, waves = end_to_end(args, engine, workload, spans)
        if args.trace:
            values = per_layer(workload, waves, spans, info)
    except Incorrect as e:
        print(f"shipbench: incorrect output: {e}", file=sys.stderr)
        correct = False
    except Exception:
        traceback.print_exc()
        correct, failed = False, 1
    finally:
        engine.stop()
        sink.close()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # left when other runs use it
            os.rmdir(os.path.dirname(work))
    # Operations: every run_batch call and every POST it made.
    attempted = max(1, workload.runs + workload.posts)
    print(json.dumps({"run": info}, default=str))
    if not correct:
        print(json.dumps({"correct": False, "attempted": attempted,
                          "failed": failed, "metrics": {}}))
        return 1
    print(result_line(values, metric_specs(bool(args.trace)), correct=True,
                      attempted=attempted, failed=failed), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
