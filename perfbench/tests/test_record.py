"""The benchmark definition and the metric record have the required schema."""

import json
import os
import re

import pytest

import eventlog  # noqa: F401 - imported by worker
import run
import worker
from spans import Tracer
from workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_schema(spec):
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert spec["command"][:2] == ["python3", "perfbench/run.py"]
    assert spec["paths"] == ["perfbench"]
    assert isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]] + list(WORKLOADS)
    assert len(names) == len(set(names))
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def _fake_session():
    """A traced session's spans for the fixture log's pass ``0``."""
    tr = Tracer(True)
    t = 1792236966.0

    def add(name, start, end, **attrs):
        tr.spans.append({"id": len(tr.spans), "name": name, "parent": None, "start": t + start,
                         "end": t + end, **attrs})

    add("session.get_spark", -9, -2)
    add("registry.load_all", -2, -1.5)
    add("shipping.ensure_shipped", -1.5, -1.4)
    add("pass", -1.4, -0.5, pass_tag="warmup")
    add("pass", 0, 8.2, pass_tag="0")
    add("construct", 0, 1.2, pass_tag="0", query="q")
    add("execute", 1.9, 4.9, pass_tag="0", query="q")
    add("construct", 4.9, 5.0, pass_tag="0", query="py")
    add("execute", 5.0, 8.2, pass_tag="0", query="py")

    class S:
        wl = "wl"
        tracer = tr
        spec = {"kind": "staged", "queries": ["q", "py"]}

    return S()


def test_layer_metrics_cover_the_per_layer_list(spec):
    passes = [{"tag": "0", "wall_s": 8.2, "checkpoints": 2}]
    layers = worker.layer_metrics(_fake_session(), passes, LOG)
    # the harness adds the two numbers it takes outside the event log and spans
    assert set(layers) | {"trace.overhead_frac", "proc.peak_rss_mb"} == {m["name"] for m in spec["per_layer"]}
    assert layers["queries.build_s"] == pytest.approx(1.3)
    assert layers["queries.build_jobs"] == 1
    assert layers["queries.build_driver_s"] == pytest.approx(1.3 - 0.815)
    assert layers["exec.jobs"] == 3 and layers["exec.tasks"] == 3
    # SQL execution start minus the execute span's start, per query
    assert layers["plan.catalyst_s"] == pytest.approx(0.064 + 0.231)
    assert layers["trace.phase_coverage"] == pytest.approx((1.3 + 6.2) / 8.2)
    assert layers["session.get_spark_s"] == pytest.approx(7)


def test_result_line_schema(spec):
    values = {"wall_s": 1.5, "setup_s": 20.25, "cpu_s": 3.0}
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    line = json.loads(run.result_line(10, 0, metrics))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True and line["attempted"] == 10 and line["failed"] == 0
    assert set(line["metrics"]) == {m["name"] for m in spec["end_to_end"]}
    assert all(set(v) == {"value", "unit"} for v in line["metrics"].values())
    assert json.loads(run.result_line(10, 2, metrics))["correct"] is False
