"""Tests of the benchmark's own helpers: ``python3 -m pytest perfbench``."""

from __future__ import annotations

import json
import pathlib

import pytest

from stats import drift, parse_event_log, self_times, tail

HERE = pathlib.Path(__file__).resolve().parent


def test_tail_keeps_ten_samples_beyond():
    samples = [float(i) for i in range(1, 101)]  # 1..100, shuffled order irrelevant
    value, pct, n = tail(list(reversed(samples)))
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(s > value for s in samples) == 10


def test_tail_with_eleven_samples_is_the_lowest():
    value, pct, n = tail([5.0, 1.0] + [9.0] * 9)
    assert (value, n) == (1.0, 11)
    assert pct == pytest.approx(100 / 11)


def test_tail_with_too_few_samples_is_the_maximum():
    assert tail([3.0, 7.0, 5.0]) == (7.0, 100.0, 3)


def test_drift_compares_last_fifth_with_first_fifth():
    assert drift([2.0, 2.0, 9.0, 9.0, 9.0, 9.0, 9.0, 9.0, 3.0, 3.0]) == pytest.approx(1.5)
    assert drift([1.0, 9.0, 3.0]) == pytest.approx(3.0)  # one sample each side
    assert drift([4.0] * 25) == 1.0


def _span(i, parent, start, end):
    return {"id": i, "name": f"s{i}", "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 5.0),  # overlaps its sibling: covered once
        _span(3, 1, 1.0, 2.0),  # grandchild: charged to span 1 only
        _span(4, 0, 9.0, 12.0),  # runs past its parent: clipped
    ]
    assert self_times(spans) == {0: 5.0, 1: 2.0, 2: 2.0, 3: 1.0, 4: 3.0}


def test_self_times_of_a_tree_add_up_to_the_root():
    spans = [_span(0, None, 0.0, 8.0), _span(1, 0, 1.0, 3.0),
             _span(2, 0, 4.0, 7.5), _span(3, 2, 5.0, 6.0)]
    assert sum(self_times(spans).values()) == pytest.approx(8.0)


def test_event_log_parser_on_recorded_log():
    with open(HERE / "fixtures" / "eventlog_small.jsonl") as fh:
        got = parse_event_log(fh)
    assert set(got) == {"layer.count", "layer.shuffle", ""}
    assert got["layer.count"]["jobs"] == 1
    shuffle = got["layer.shuffle"]
    assert shuffle["jobs"] == 1
    assert shuffle["tasks"] == 6  # 4 map tasks + 2 reduce tasks
    assert shuffle["shuffle_bytes"] > 0
    assert shuffle["task_run_s"] > 0
    assert shuffle["spill_bytes"] == 0


def test_benchmark_json_lists_every_metric_the_benchmark_prints():
    import run
    import traced

    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.E2E
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == traced.PER_LAYER
    listed = {w["name"] for w in spec["workloads"]}
    assert listed <= set(run.WORKLOADS)
