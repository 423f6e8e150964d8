"""The one result line a run prints.

The metrics' names, units and directions are those of ``BENCHMARK.json``
at the checkout root: a run with ``--trace 0`` prints its ``end_to_end``
list, one with ``--trace 1`` its ``per_layer`` list.
"""

from __future__ import annotations

import json
import os

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "BENCHMARK.json")


def metric_specs(trace: bool) -> list[dict]:
    with open(BENCHMARK) as fh:
        return json.load(fh)["per_layer" if trace else "end_to_end"]


def result_line(values: dict, specs: list[dict], *, correct: bool,
                attempted: int, failed: int) -> str:
    """The JSON object a run prints last: every metric of ``specs``
    with its unit (a missing value is a bug and raises KeyError)."""
    return json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {s["name"]: {"value": values[s["name"]], "unit": s["unit"]}
                    for s in specs}})
