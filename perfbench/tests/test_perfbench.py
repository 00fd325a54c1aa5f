"""Tests of the benchmark itself.

The unit tests need no Spark. The run tests start the benchmark on its
vendored inputs for one pass (about a minute each); run them with

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parents[1]
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import pandas as pd  # noqa: E402
import run  # noqa: E402
from check import compare, content_pin  # noqa: E402
from spans import LAYERS, layer_metrics, self_times  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def _span(id_, parent, start, end, cpu=0.0, layer="plans", **extra):
    return {"id": id_, "parent": parent, "layer": layer, "name": f"s{id_}",
            "start": start, "end": end, "cpu_start": 0.0, "cpu_end": cpu, **extra}


def test_self_time_on_synthetic_tree():
    # root [0,10] with children [1,4] and [3,6] (covering [1,6]) and a
    # grandchild [2,3] under the first child
    spans = [
        _span(1, None, 0.0, 10.0, cpu=8.0),
        _span(2, 1, 1.0, 4.0, cpu=2.5),
        _span(3, 1, 3.0, 6.0, cpu=1.0),
        _span(4, 2, 2.0, 3.0, cpu=0.5),
    ]
    selfs = self_times(spans)
    assert selfs[1] == pytest.approx((5.0, 4.5))
    assert selfs[2] == pytest.approx((2.0, 2.0))
    assert selfs[3] == pytest.approx((3.0, 1.0))
    assert selfs[4] == pytest.approx((1.0, 0.5))


def test_child_outside_parent_interval_is_clipped():
    spans = [_span(1, None, 0.0, 2.0), _span(2, 1, 1.5, 3.0)]
    assert self_times(spans)[1][0] == pytest.approx(1.5)


def test_layer_metrics_attribute_jobs_and_stages_to_the_innermost_span():
    stage = {"cpu_s": 0.25, "input_bytes": 10, "shuffle_write_bytes": 4,
             "spill_bytes": 0, "gc_s": 0.01}
    spans = [
        _span(1, None, 0.0, 4.0, layer="functions", jobs=[1, 2], stages=[stage]),
        _span(2, 1, 1.0, 2.0, layer="exec", jobs=[3], stages=[stage, stage]),
        _span(3, None, 5.0, 6.0, layer="sources", bytes_written=100, files_written=2),
    ]
    m = layer_metrics(spans)
    assert m["functions.calls"] == 1 and m["functions.jobs"] == 2
    assert m["functions.self_s"] == pytest.approx(3.0)
    assert m["functions.task_cpu_s"] == pytest.approx(0.25)
    assert m["exec.jobs"] == 1 and m["exec.stages"] == 2
    assert m["exec.input_bytes"] == 20 and m["exec.shuffle_write_bytes"] == 8
    assert m["sources.bytes_written"] == 100 and m["sources.files_written"] == 2
    assert m["metadata.calls"] == 0


def test_every_declared_metric_has_a_unit_matching_the_benchmark():
    for m in BENCH["end_to_end"] + BENCH["per_layer"]:
        assert run.unit_of(m["name"]) == m["unit"], m["name"]
    layer_names = {m["name"] for m in BENCH["per_layer"]}
    for layer in LAYERS:
        for field in ("calls", "self_s", "jobs", "task_cpu_s", "py_cpu_s"):
            assert f"{layer}.{field}" in layer_names
    assert {w["name"] for w in BENCH["workloads"]} == set(run.WORKLOADS)


def test_seed_only_permutes_the_query_order():
    a = run.Run("survey", 1, 1, False).order
    b = run.Run("survey", 1, 1, False).order
    c = run.Run("survey", 2, 1, False).order
    assert a == b and sorted(a) == sorted(c) == sorted(run.WORKLOADS["survey"])


def test_check_is_order_insensitive_and_catches_mismatches():
    got = pd.DataFrame({"b": [2, 1], "a": ["x", None]})
    same = got.iloc[::-1].reset_index(drop=True)
    assert compare(got, same) is None
    assert content_pin(got) == content_pin(same)
    changed = got.assign(b=[2, 3])
    assert compare(got, changed) is not None
    assert content_pin(got) != content_pin(changed)
    assert compare(got, got.astype({"b": "int32"})) is not None


_RESULTS: dict = {}


def bench_result(workload: str, trace: int) -> dict:
    key = (workload, trace)
    if key not in _RESULTS:
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
             "--seconds", "1", "--trace", str(trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        _RESULTS[key] = json.loads(proc.stdout.strip().splitlines()[-1])
    return _RESULTS[key]


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_run_emits_every_metric_with_its_unit(workload, trace):
    res = bench_result(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    declared = BENCH["per_layer" if trace else "end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_survey_spans_fire_on_survey_layers():
    m = {k: v["value"] for k, v in bench_result("survey", 1)["metrics"].items()}
    for layer in ("metadata", "plans", "operators", "sources", "exec"):
        assert m[f"{layer}.calls"] > 0, layer
    assert m["sources.bytes_written"] > 0 and m["sources.files_written"] > 0
    assert m["functions.jobs"] == 0


def test_curation_spans_fire_on_functions_and_bypass_metadata():
    m = {k: v["value"] for k, v in bench_result("curation", 1)["metrics"].items()}
    assert m["functions.calls"] > 0 and m["functions.jobs"] > 0
    assert m["session.calls"] > 0 and m["exec.calls"] > 0
    assert m["metadata.calls"] == 0 and m["plans.calls"] == 0
