"""BENCHMARK.json must name exactly the metrics run.py prints."""

from __future__ import annotations

import json
import os

from perfbench import calibrate, subset, trace, workloads
from perfbench.run import END_TO_END, WORKLOADS, layer_unit

SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(__file__))), "BENCHMARK.json")


def test_spec_matches_run():
    with open(SPEC) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert [m["name"] for m in spec["per_layer"]] == list(workloads.LAYER_METRICS)
    assert all(m["unit"] == layer_unit(m["name"]) for m in spec["per_layer"])
    assert max(m["bound"] for m in spec["end_to_end"]) == next(
        m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s"
    )


def test_apportion_is_proportional_by_largest_remainder():
    assert subset.apportion({"a": 100, "b": 10, "c": 1}, 5) == {"a": 5, "b": 0, "c": 0}
    assert subset.apportion({"a": 60, "b": 25, "c": 15}, 10) == {"a": 6, "b": 3, "c": 1}
    assert sum(subset.apportion({"a": 118, "b": 14, "c": 9, "d": 4}, 8).values()) == 8


def test_draw_is_seeded_and_stratified():
    pool = {"a": [f"a{i}" for i in range(20)], "b": [f"b{i}" for i in range(10)]}
    first = subset.draw(pool, 6, seed=3)
    assert first == subset.draw(pool, 6, seed=3)
    assert [q[0] for q in first] == ["a"] * 4 + ["b"] * 2
    assert len(set(first)) == 6


def test_subsets_avoid_excluded_queries():
    assert not set(workloads.ANALYTICS) & subset.EXCLUDED


def test_union_length():
    assert trace.union_length([]) == 0
    assert trace.union_length([(0, 1), (0.5, 2), (3, 4)]) == 3
    assert trace.union_length([(2, 3), (0, 10)]) == 10


def test_calibration_scales_each_pass_by_its_neighbours():
    nominal = calibrate.NOMINAL_S
    # samples at 1x, 1x and 3x nominal: the passes between them scale by
    # 1 and by 1/2
    f = calibrate.factors([nominal, nominal, 3 * nominal])
    assert f == [1.0, 0.5]
    m = workloads.op_metrics([{"a": 1.0, "b": 3.0}, {"a": 4.0, "b": 4.0}], f)
    # a: min(1.0, 2.0); b: min(3.0, 2.0)
    assert m == {"suite_s": 3.0, "op_p50_s": 1.5, "op_p90_s": 1.9}
