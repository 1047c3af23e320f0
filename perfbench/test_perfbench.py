"""Tests of the benchmark itself: the declared metric names and units,
the layer interaction table, and the printed result and trace schema of
a smoke run of every workload.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from harness import SPAN_KEYS  # noqa: E402

WORKLOADS = ("serve", "batch")


def _bench() -> dict:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        return json.load(f)


def _layers() -> list[dict]:
    with open(os.path.join(HERE, "layers.json")) as f:
        return json.load(f)["metrics"]


def test_benchmark_json_declares_workloads_and_metrics():
    bench = _bench()
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == [
        ("setup_s", "s"),
        ("cycle_s", "s"),
        ("op_p50_ms", "ms"),
    ]
    setup_bound = bench["end_to_end"][0]["bound"]
    assert all(m["bound"] <= setup_bound <= 0.25 for m in bench["end_to_end"])


def test_per_layer_metrics_match_interaction_table():
    declared = [(m["name"], m["unit"], m["better"]) for m in _bench()["per_layer"]]
    table = _layers()
    assert declared == [(m["name"], m["unit"], m["better"]) for m in table]
    e2e = {m["name"] for m in _bench()["end_to_end"]}
    for m in table:
        assert m["moves"] in e2e | {""}, m["name"]
        for w in filter(None, (m["on"] + "," + m["control"]).split(",")):
            assert w in WORKLOADS, (m["name"], w)


def test_fails_without_the_program(tmp_path):
    """Outside a checkout of the engine the command exits non-zero and
    prints no result."""
    shutil.copy(os.path.join(CHECKOUT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode != 0
    assert '"correct"' not in out.stdout


def _smoke(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [
            sys.executable,
            "perfbench/run.py",
            "--workload", workload,
            "--seed", "3",
            "--seconds", "1",
            "--trace", str(trace),
            "--smoke",
        ],
        cwd=CHECKOUT,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize(
    "workload,trace", [("serve", 0)] + [(w, 1) for w in WORKLOADS]
)
def test_smoke_run_prints_declared_metrics(workload, trace):
    host, result = _smoke(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    key = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in _bench()[key]}
    got = {n: v["unit"] for n, v in result["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    info = host["host"]
    assert {"nproc", "seed", "calib_s", "SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY"} <= set(info)
    if trace:
        with open(os.path.join(CHECKOUT, host["trace_file"])) as f:
            trace_doc = json.load(f)
        assert trace_doc["ops"] and all("counters" in o for o in trace_doc["ops"])
        spans = trace_doc["spans"]
        assert spans and all(set(SPAN_KEYS) <= set(s) for s in spans)
        ops = {s["op"] for s in spans}
        for s in spans:
            assert s["start"] <= s["end"]
            if s["parent"] is not None:
                assert spans[s["parent"]]["op"] == s["op"]
        assert {s["op"] for s in spans if s["name"] == "op"} == ops
    assert not os.path.exists(os.path.join(CHECKOUT, ".perfbench_run"))
