"""BENCHMARK.json and the benchmark's code name the same things."""

import json
import os

from perfbench import gen, run, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metrics_and_workloads_match_the_code():
    s = spec()
    assert {m["name"]: m["unit"] for m in s["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in s["per_layer"]} == run.PER_LAYER
    names = [w["name"] for w in s["workloads"]]
    assert sorted(names) == sorted(workloads.WORKLOADS) == sorted(gen.GENERATORS)
    assert any(m["name"] == "setup_s" for m in s["end_to_end"])


def test_tail_percentile_needs_ten_samples_beyond():
    assert run.percentile_with_tail(list(range(10))) is None
    assert run.percentile_with_tail([float(i) for i in range(11)]) == (9.1, 0.0)
    p, v = run.percentile_with_tail([float(i) for i in range(100)])
    assert (p, v) == (90.0, 89.0)
