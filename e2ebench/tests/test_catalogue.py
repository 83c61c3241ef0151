"""The metrics a run prints are exactly those BENCHMARK.json names,
with the same units, in both modes and for every workload."""

import json
import os

import pytest

import catalogue

SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
                    "BENCHMARK.json")


def _spec():
    with open(SPEC) as fh:
        return json.load(fh)


def _raw():
    sample = {"write_s": [2.0], "read_s": [1.0, 1.1], "iter_s": 3.0, "jit_s": 0.5,
              "ivf_recall": 0.9}
    return {
        "setup_s": 30.0, "samples": [sample, dict(sample, write_s=[2.2])], "rows": 300,
        "stored_bytes": 50, "input_bytes": 100, "peak_rss_bytes": 2**30,
        "spans": [{"name": "neardup_index.refresh", "start_ms": 0.0, "end_ms": 1000.0}],
        "eventlog": {"jobs": [{"id": 0, "submit_ms": 10, "description": None}],
                     "stages": [(10, 900)], "tasks": []},
    }


def test_spec_keys_and_commands():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                         "per_layer"}
    assert [w["name"] for w in spec["workloads"]] == list(catalogue.WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == list(
        catalogue.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == list(
        catalogue.per_layer_catalogue())
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"


@pytest.mark.parametrize("workload", catalogue.WORKLOADS)
def test_printed_metrics_match_spec(workload):
    spec = _spec()
    e2e = catalogue.end_to_end_metrics(workload, _raw())
    assert {k: u for k, (_v, u) in e2e.items()} == {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert all(v > 0 for v, _u in e2e.values())
    layer = catalogue.per_layer_metrics(workload, _raw())
    assert {k: u for k, (_v, u) in layer.items()} == {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert layer["neardup_index.refresh.jobs"][0] == 1
    assert layer["neardup_index.refresh.driver_s"][0] == pytest.approx(0.11)


def test_call_medians_span_every_call_of_the_run():
    e2e = catalogue.end_to_end_metrics("validate_incremental", _raw())
    assert e2e["write_s.p50"][0] == pytest.approx(2.1)
    assert e2e["read_s.p50"][0] == pytest.approx(1.05)
    lines = catalogue.report_lines("validate_incremental", _raw(), e2e)
    assert any(ln.startswith("read_s.p50 ") and ln.endswith("(n=4)") for ln in lines)
