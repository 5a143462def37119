"""Tests of the benchmark itself, on its definition and on the committed
traced runs (``perfbench/traces/``). None of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess

import pytest

from perfbench import procfs
from perfbench.layers import _union, self_times, sql_metric
from perfbench.run import END_TO_END, PER_LAYER, _typical_op_ms, n_passes
from perfbench.workloads import WORKLOADS

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
TRACES = os.path.join(HERE, "traces")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _trace(name: str) -> dict:
    with open(os.path.join(TRACES, f"{name}.json")) as fh:
        return json.load(fh)


def test_benchmark_json_names_what_run_prints():
    bench = _bench()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


@pytest.mark.parametrize("name", list(WORKLOADS))
def test_traced_run_prints_every_per_layer_metric(name):
    rec = _trace(name)
    assert rec["result"]["correct"] and rec["result"]["failed"] == 0
    printed = {k: m["unit"] for k, m in rec["result"]["metrics"].items()}
    assert printed == PER_LAYER
    assert set(END_TO_END) <= set(rec["end_to_end"])
    assert rec["tracing_overhead"]["untraced_wall_s"]
    assert rec["tracing_overhead"]["traced_wall_s"]


@pytest.mark.parametrize("name", list(WORKLOADS))
def test_build_plus_exec_is_wall(name):
    rec = _trace(name)
    spans = rec["spans"]
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    # per query: its plans and exec spans tile it
    for q in (s for s in spans if s["kind"] == "query"):
        parts = {c["kind"]: c["end"] - c["start"] for c in kids[q["id"]]}
        assert parts["plans"] + parts["exec"] == pytest.approx(q["end"] - q["start"], abs=1e-3)
    # per pass: the layer totals account for the measured pass wall
    layers = rec["per_layer"]
    mean_wall = sum(p["wall_s"] for p in rec["passes"]) / len(rec["passes"])
    assert layers["plans.build_s"] + layers["exec.s"] == pytest.approx(mean_wall, rel=0.05)


@pytest.mark.parametrize("name", list(WORKLOADS))
def test_span_parents_resolve_and_self_time_is_not_negative(name):
    spans = _trace(name)["spans"]
    ids = {s["id"] for s in spans}
    assert len(ids) == len(spans)
    for s in spans:
        assert s["parent"] is None or s["parent"] in ids
        assert s["end"] >= s["start"]
    assert all(t >= -1e-9 for t in self_times(spans).values())


@pytest.mark.parametrize("name", list(WORKLOADS))
def test_process_tree_cpu_covers_executor_cpu(name):
    rec = _trace(name)
    mean_cpu = sum(p["cpu_s"] for p in rec["passes"]) / len(rec["passes"])
    assert rec["per_layer"]["exec.executor_cpu_s"] > 0
    assert mean_cpu >= rec["per_layer"]["exec.executor_cpu_s"]


def test_stream_trace_has_one_data_trigger_per_file():
    rec = _trace("stream-flagship")
    triggers = [s for s in rec["spans"] if s["kind"] == "trigger"]
    data = [t for t in triggers if t["attrs"]["numInputRows"] > 0]
    per_pass = rec["manifest"]["files"]
    assert len(data) == per_pass * len(rec["passes"])
    assert rec["per_layer"]["streaming.triggers"] >= per_pass


def test_self_time_subtracts_the_union_of_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 5.0},
        {"id": 3, "parent": 0, "start": 9.0, "end": 12.0},  # clipped to the parent
    ]
    assert self_times(spans) == {0: 5.0, 1: 3.0, 2: 2.0, 3: 3.0}
    assert _union([(0, 2), (1, 3), (5, 6)]) == 4


@pytest.mark.parametrize(
    "text, value",
    [
        ("1,024", 1024.0),
        ("250 ms", 0.25),
        ("12.5 MiB", 12.5),
        ("total (min, med, max (stageId: taskId))\n1.5 s (10 ms, 20 ms, 1.2 s (stage 3.0: task 7))", 1.5),
        ("total (min, med, max)\n2.0 KiB (1.0 KiB, 1.0 KiB, 1.0 KiB)", 2.0 / 1024),
    ],
)
def test_sql_metric_reads_spark_ui_strings(text, value):
    assert sql_metric(text) == pytest.approx(value)


def test_typical_op_is_geometric_mean_of_per_op_medians():
    passes = [
        {"op_names": ["a", "b"], "op_ms": [100.0, 400.0]},
        {"op_names": ["a", "b"], "op_ms": [300.0, 900.0]},
        {"op_names": ["a"], "op_ms": [200.0]},  # b failed in this pass
    ]
    assert _typical_op_ms(passes) == pytest.approx((200.0 * 650.0) ** 0.5)


@pytest.mark.parametrize("name", list(WORKLOADS))
def test_timed_pass_count_is_fixed_by_seconds(name):
    wl = WORKLOADS[name]
    assert n_passes(wl, _bench()["run_seconds"]) >= wl.min_passes
    assert n_passes(wl, 1) == wl.min_passes
    assert n_passes(wl, 100 * wl.pass_s) == 100


def test_procfs_reads_this_process():
    me = os.getpid()
    assert me in procfs.tree(os.getppid())
    assert procfs.cpu_s([me]) > 0
    assert procfs.rss_mb([me]) > 1
    assert 0 < procfs.age_s() < 24 * 3600


def test_run_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    cmd = _bench()["command"] + [
        "--workload", "suite-sf0.01", "--seed", "1", "--seconds", "1", "--trace", "0",
    ]
    out = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert out.returncode != 0
    assert out.stdout == ""
