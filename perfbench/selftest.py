"""The benchmark's own tests: generator determinism, checker sensitivity,
and agreement between the printed metric names and BENCHMARK.json.

    python3 -m pytest perfbench/selftest.py -q -p no:cacheprovider

No Spark session is started.
"""

from __future__ import annotations

import copy
import json
import os
from datetime import timedelta

import pytest

import check
import run
import tracing
from workloads import VALUE_COL, WORKLOADS, generate

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _files(d):
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_generator_is_deterministic_per_seed(tmp_path, name):
    w = WORKLOADS[name]
    generate(w, 7, str(tmp_path / "a"))
    generate(w, 7, str(tmp_path / "b"))
    generate(w, 8, str(tmp_path / "c"))
    a, b, c = (_files(tmp_path / d) for d in "abc")
    assert a == b
    assert a != c


@pytest.fixture(scope="module", params=sorted(WORKLOADS))
def truth_and_expected(request, tmp_path_factory):
    w = WORKLOADS[request.param]
    truth = generate(w, 3, str(tmp_path_factory.mktemp(w.name)))
    return w, truth, check.expected(truth, w)


def test_truth_is_consistent(truth_and_expected):
    w, truth, exp = truth_and_expected
    assert truth.gaps, "every workload has gaps"
    assert exp.analysis["n_rows"] == len(exp.loaded) == truth.loaded_rows
    if w.decoys:
        assert set(truth.rejected.values()) == {"empty_file", "metadata", "header"}
        assert 0 < truth.file_gaps <= w.missing_files  # adjacent missing files make one gap
    if w.regrid_s:
        out = exp.outputs["interpolate"]
        assert len(out) == truth.grid_len
        assert out[VALUE_COL].notna().all()
        assert len(out) > 1.5 * truth.loaded_rows  # the grid outgrows the input


def test_checker_accepts_the_truth(truth_and_expected):
    w, truth, exp = truth_and_expected
    assert check.check_frame("load", exp.loaded, exp.loaded) == []
    assert check.check_analysis(copy.deepcopy(exp.analysis), exp.analysis) == []
    for name, frame in exp.outputs.items():
        assert check.check_frame(name, frame.copy(), frame) == []
        assert check.check_summary(name, check.summarize(frame), exp.summaries[name]) == []


def test_checker_rejects_a_dropped_row(truth_and_expected):
    w, truth, exp = truth_and_expected
    got = exp.loaded.drop(index=len(exp.loaded) // 2).reset_index(drop=True)
    assert check.check_frame("load", got, exp.loaded)
    assert check.check_summary("load", check.summarize(got), exp.summaries["load"])


def test_checker_rejects_a_shifted_gap(truth_and_expected):
    w, truth, exp = truth_and_expected
    got = copy.deepcopy(exp.analysis)
    got["gaps"][0]["start"] += timedelta(seconds=w.cadence_s)
    assert check.check_analysis(got, exp.analysis)


def test_checker_accepts_gaps_in_any_order(truth_and_expected):
    w, truth, exp = truth_and_expected
    got = copy.deepcopy(exp.analysis)
    got["gaps"].reverse()
    assert check.check_analysis(got, exp.analysis) == []


def test_checker_rejects_a_wrong_value(truth_and_expected):
    w, truth, exp = truth_and_expected
    for name, frame in exp.outputs.items():  # bucket means, interpolated grid
        got = frame.copy()
        row = got[VALUE_COL].first_valid_index()
        got.loc[row, VALUE_COL] += 1e-6
        assert check.check_frame(name, got, frame), name


def test_printed_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [x["name"] for x in spec["workloads"]] == list(WORKLOADS)
    assert [x["why"] for x in spec["workloads"]] == [w.why for w in WORKLOADS.values()]

    e2e = {name: 1.0 for name, _ in run.END_TO_END}
    printed = json.loads(run.result_line(True, 1, 0, e2e))["metrics"]
    assert {k: v["unit"] for k, v in printed.items()} == {
        m["name"]: m["unit"] for m in spec["end_to_end"]
    }

    layers = {name: 1.0 for name in tracing.layer_metric_names()}
    layers["trace.overhead_s"] = 0.1
    printed = json.loads(run.result_line(True, 1, 0, layers))["metrics"]
    assert {k: v["unit"] for k, v in printed.items()} == {
        m["name"]: m["unit"] for m in spec["per_layer"]
    }
