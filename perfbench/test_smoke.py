"""Smoke test of the benchmark: every workload at a tiny page count.

    python3 -m pytest perfbench/test_smoke.py -q

Each case runs ``run.py`` in a subprocess, one Spark session at a time
(about a minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import END_TO_END  # noqa: E402
from tracing import LAYER_METRICS  # noqa: E402
from workloads import WHY, WORKLOADS  # noqa: E402

TINY_PAGES = "2000"


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=900)


def _bench(workload: str, trace: int, *extra: str):
    proc = _run(REPO, "--workload", workload, "--seed", "7",
                "--seconds", "1", "--trace", str(trace),
                "--pages", TINY_PAGES, *extra)
    lines = proc.stdout.strip().splitlines()
    assert len(lines) >= 2, proc.stderr[-2000:]
    return proc.returncode, json.loads(lines[-2]), json.loads(lines[-1])


def _assert_result(rc, details, result, named):
    assert rc == 0, details["problems"]
    assert result["correct"] is True
    assert result["failed"] == 0
    assert result["attempted"] >= 1
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert set(result["metrics"]) == set(named)
    for name, unit in named.items():
        assert result["metrics"][name]["unit"] == unit
        assert isinstance(result["metrics"][name]["value"], (int, float))


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_end_to_end_metrics_and_checks(workload):
    rc, details, result = _bench(workload, 0)
    _assert_result(rc, details, result, {n: u for n, u, _ in END_TO_END})
    assert all(r["problems"] == [] for r in details["runs"])
    for name, _, _ in END_TO_END:
        assert result["metrics"][name]["value"] > 0


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_run_writes_layer_spans(workload):
    rc, details, result = _bench(workload, 1)
    _assert_result(rc, details, result,
                   {n: u for n, u, _b, _m in LAYER_METRICS})
    assert result["metrics"]["check.mismatch_frac"]["value"] == 0
    with open(os.path.join(REPO, details["trace_file"])) as f:
        trace = json.load(f)
    names = {s["name"] for s in trace["spans"]}
    assert {"parse_enrich", "exchange", "derive", "encode", "route",
            "aggregate", "decode", "verify", "traced_pass"} <= names
    root = [s for s in trace["spans"] if s["parent_id"] is None]
    assert [s["name"] for s in root] == ["trace"]


def test_layout_does_not_depend_on_core_count():
    layouts = []
    for cores in ("2", "4"):
        rc, details, result = _bench("encode_unique", 0, "--cores", cores)
        assert rc == 0, details["problems"]
        layouts.append(details["layout"])
    assert layouts[0] == layouts[1]


def test_benchmark_json_names_every_metric():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"], m["better"])
            for m in spec["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"], m["better"])
            for m in spec["per_layer"]] == [m[:3] for m in LAYER_METRICS]
    for w in spec["workloads"]:
        assert w["why"] == WHY[w["name"]]


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "--workload", "encode_unique", "--seed", "1",
                "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
