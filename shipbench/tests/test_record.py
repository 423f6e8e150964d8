"""The result line prints every metric BENCHMARK.json names."""

import json

import pytest

from shipbench import run
from shipbench.record import metric_specs, result_line


@pytest.mark.parametrize("trace", [False, True])
def test_result_line_prints_every_metric_with_its_unit(trace):
    specs = metric_specs(trace)
    values = {s["name"]: 1.5 for s in specs}
    out = json.loads(result_line(values, specs, correct=True, attempted=3,
                                 failed=0))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["metrics"] == {s["name"]: {"value": 1.5, "unit": s["unit"]}
                              for s in specs}


def test_missing_metric_is_an_error():
    with pytest.raises(KeyError):
        result_line({}, metric_specs(False), correct=True, attempted=1,
                    failed=0)


def test_without_the_package_the_run_fails(tmp_path, monkeypatch, capsys):
    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    code = run.main(["--workload", "ship_bulk", "--seed", "1",
                     "--seconds", "1"])
    assert code == 2
    assert capsys.readouterr().out == ""
