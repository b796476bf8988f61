import os

import pytest

from perfbench import trace

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


def parsed():
    with open(LOG, encoding="utf-8") as fh:
        return trace.parse_event_log(fh)


def test_event_log_jobs_and_stages_per_description():
    d = parsed()
    assert {k: (v["jobs"], v["stages"]) for k, v in d.items()} == {
        "probe:multimodal_audio_vad_segments:build": (1, 1),
        "probe:multimodal_audio_vad_segments:run": (4, 4),
        "probe:q06_forecast_revenue:build": (1, 1),
        "probe:q06_forecast_revenue:run": (2, 2),
        "probe:write:run": (1, 1),
    }


def test_event_log_task_counters():
    d = parsed()
    vad = d["probe:multimodal_audio_vad_segments:run"]
    assert len(vad["intervals"]) == 18
    assert vad["task_run_s"] == pytest.approx(14.379)
    # the pandas kernel's own SQL metrics: worker run and start time, bytes
    assert vad["python_run_s"] == pytest.approx(12.283)
    assert vad["python_start_s"] == pytest.approx(4.965)
    assert vad["python_mb"] == pytest.approx(0.074624)
    assert vad["input_rows"] == 500
    q06 = d["probe:q06_forecast_revenue:run"]
    assert q06["python_run_s"] == 0 and q06["input_rows"] == 60000
    assert d["probe:write:run"]["output_mb"] > 0
    assert all(v["task_cpu_s"] <= v["task_run_s"] + 1e-9 for v in d.values())


def test_covered_merges_overlaps_and_clips():
    assert trace.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert trace.covered([(0, 2), (1, 3), (5, 6)], 2.5, 5.5) == 1.0
    assert trace.covered([], 0, 1) == 0


def test_op_layers_charges_jobs_to_the_op_spans():
    d = {
        "w:q:cold0:queries": {"jobs": 1, "stages": 1, "intervals": [(10.0, 11.0)], "task_run_s": 1.0},
        "w:q:cold0:sink": {"jobs": 2, "stages": 3, "intervals": [(12.0, 14.0)], "task_run_s": 4.0},
        "w:q:warm1:sink": {"jobs": 9, "stages": 9, "intervals": [], "task_run_s": 9.0},
    }
    rec = {"op": "q", "kind": "cold", "pass": 0, "half": 0, "start": 10.0, "end": 15.0, "wall_s": 5.0,
           "layers": {"queries": 1.5, "sink": 3.5}}
    out = trace.op_layers("w", rec, d)
    assert out["total"]["jobs"] == 3 and out["total"]["task_run_s"] == 5.0
    assert out["layers"]["queries"]["jobs"] == 1
    assert out["idle_s"] == pytest.approx(2.0)


def test_self_times_subtract_children():
    spans = [
        {"name": "q:cold0", "layer": "bench", "start": 0.0, "end": 10.0, "parent": None},
        {"name": "queries", "layer": "queries", "start": 0.5, "end": 2.5, "parent": "q:cold0"},
        {"name": "sink", "layer": "sink", "start": 2.5, "end": 9.5, "parent": "q:cold0"},
    ]
    assert trace.self_times(spans) == pytest.approx({"bench": 1.0, "queries": 2.0, "sink": 7.0})
