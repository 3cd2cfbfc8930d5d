import json
import os

import pytest

from perfbench import run, trace
from perfbench.core import METRIC_NAME

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_are_well_formed():
    names = [*run.END_TO_END, *run.EXTRA, *trace.LAYER_METRICS]
    assert len(names) == len(set(names))
    for name in names:
        assert METRIC_NAME.fullmatch(name), name


def test_benchmark_json_lists_what_the_runs_print():
    b = _benchmark()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == trace.LAYER_METRICS
    for m in b["end_to_end"]:
        assert 0 < m["bound"] <= 0.25 and m["better"] in ("lower", "higher")
    assert max(m["bound"] for m in b["end_to_end"]) == next(
        m["bound"] for m in b["end_to_end"] if m["name"] == "setup_s")


def _span(i, parent, name, t0, t1, op="o", **kw):
    return {"id": i, "parent": parent, "op": op, "name": name, "kind": "build",
            "t0": t0, "t1": t1, "py4j0": 0, "py4j1": 0, **kw}


def test_layer_self_time_excludes_children_and_spark_jobs():
    spans = [
        _span(0, None, "op", 0.0, 10.0),
        _span(1, 0, "queries.build", 0.0, 6.0, py4j1=580),
        _span(2, 1, "queries.tbl", 1.0, 3.0),
        _span(3, 1, "types.call", 2.5, 4.0),      # overlaps the tbl span
        _span(4, 0, "spark.action", 6.0, 10.0, rows=5),
    ]
    ops = [{"id": "o", "key": ["x"], "spark": {
        "jobs": [{"t0": 1.5, "t1": 2.0, "tasks": 4, "failed_tasks": 0},   # during build
                 {"t0": 7.0, "t1": 9.0, "tasks": 2, "failed_tasks": 0}],
        "stages": {}}}]
    m = trace.layer_metrics(spans, ops, cores=4)
    # queries.build: 6 s minus [1, 4] covered by children -> 3 s
    assert m["queries.build_ms"] == pytest.approx(3000.0)
    assert m["queries.build_py4j_calls"] == 580
    # tbl: 2 s minus the 0.5 s job inside it
    assert m["queries.tbl_ms"] == pytest.approx(1500.0)
    assert m["types.build_ms"] == pytest.approx(1500.0)
    # action: 4 s minus the 2 s job
    assert m["spark.plan_ms"] == pytest.approx(2000.0)
    assert m["spark.exec_ms"] == pytest.approx(2500.0)
    assert (m["spark.jobs"], m["spark.tasks"], m["spark.result_rows"]) == (2, 6, 5)
    assert set(m) == set(trace.LAYER_METRICS)
