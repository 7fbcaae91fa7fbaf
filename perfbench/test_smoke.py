"""Smoke test of the benchmark itself: tiny inputs, every workload, both
modes; every metric named in BENCHMARK.json comes out with its unit.

    python -m pytest perfbench/test_smoke.py -q     (from the repo root)
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import metrics  # noqa: E402


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(cwd, *args):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600)


def test_benchmark_json_matches_catalogue():
    b = _bench()
    assert [w["name"] for w in b["workloads"]] == list(metrics.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in b["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == {
        k: v[0] for k, v in metrics.PER_LAYER.items()}


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", metrics.WORKLOADS)
def test_smoke_run_emits_every_metric(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
             "--trace", trace, "--smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, p.stderr[-3000:]
    assert result["attempted"] >= 1
    want = _bench()["per_layer" if trace == "1" else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in want}
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], float), name
        if trace == "0":
            assert m["value"] > 0, name
    # every metric is also printed on its own line, by name and unit
    printed = {ln.split()[0]: ln.split()[-1] for ln in lines[:-1]}
    for name, m in result["metrics"].items():
        assert printed[name] == m["unit"]
    if trace == "0":
        for name, unit in metrics.REPORTED[workload].items():
            assert printed[name] == unit


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, "--workload", "construct", "--seed", "1", "--seconds", "1",
             "--trace", "0")
    assert p.returncode != 0
    assert p.stdout.strip() == ""
