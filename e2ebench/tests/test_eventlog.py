"""The event-log reader on a small recorded log and on hand-made
intervals."""

import json
import os

import pytest

from eventlog import _covered_ms, read_log, span_fields

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


@pytest.fixture(scope="module")
def recorded():
    log = read_log(os.path.join(DATA, "small_eventlog.jsonl"))
    with open(os.path.join(DATA, "small_eventlog_spans.json")) as fh:
        spans = json.load(fh)
    with open(os.path.join(DATA, "small_eventlog.jsonl")) as fh:
        events = [json.loads(line) for line in fh]
    return log, spans, events


def _stage_totals(events, jobs_in_span):
    """Stage-level accumulable totals: a second path to the same sums."""
    total = {}
    for ev in events:
        if ev["Event"] != "SparkListenerStageCompleted":
            continue
        info = ev["Stage Info"]
        if info["Stage ID"] not in jobs_in_span:
            continue
        for a in info["Accumulables"]:
            total[a["Name"]] = total.get(a["Name"], 0) + int(a["Value"])
    return total


def test_time_attribution_matches_job_descriptions(recorded):
    log, spans, events = recorded
    for sp in spans:
        fields = span_fields(log, sp["start_ms"], sp["end_ms"])
        tagged = [j for j in log["jobs"] if j["description"] == sp["name"]]
        assert fields["jobs"] == len(tagged) > 0
        assert 0 < fields["driver_s"] < fields["wall_s"]


def test_sums_match_stage_accumulables(recorded):
    log, spans, events = recorded
    stage_ids = {}
    for ev in events:
        if ev["Event"] == "SparkListenerTaskEnd":
            stage_ids.setdefault(ev["Stage ID"], ev["Task Info"]["Launch Time"])
    for sp in spans:
        fields = span_fields(log, sp["start_ms"], sp["end_ms"])
        mine = {s for s, t in stage_ids.items() if sp["start_ms"] <= t <= sp["end_ms"]}
        tot = _stage_totals(events, mine)
        assert fields["cpu_s"] == pytest.approx(tot["internal.metrics.executorCpuTime"] / 1e9)
        assert fields["shuffle_bytes"] == tot.get("internal.metrics.shuffle.write.bytesWritten", 0)
        assert fields["input_bytes"] == tot.get("internal.metrics.input.bytesRead", 0)
    by_name = {sp["name"]: span_fields(log, sp["start_ms"], sp["end_ms"]) for sp in spans}
    assert by_name["map"]["arrow_bytes"] > 0 and by_name["map"]["python_s"] > 0
    assert by_name["shuffle"]["arrow_bytes"] == 0 and by_name["shuffle"]["shuffle_bytes"] > 0


def test_covered_ms_unions_and_clips():
    assert _covered_ms([], 0, 10) == 0
    assert _covered_ms([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert _covered_ms([(-5, 2), (9, 20)], 0, 10) == 3
    assert _covered_ms([(11, 12)], 0, 10) == 0
