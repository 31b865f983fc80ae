"""Smoke test of the benchmark itself at tiny size (sf0.001 tables, 10k
transactions). Runs the real entry point in subprocesses, a few minutes
in all:

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def bench(workload: str, trace: int, *extra: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--tiny", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.strip().splitlines()


def result(lines: list[str]) -> dict:
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    return out


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics(workload):
    code, lines = bench(workload, 0)
    assert code == 0
    out = result(lines)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    units = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == units
    assert all(v["value"] > 0 for v in out["metrics"].values())
    report = json.loads(lines[-2].removeprefix("perfbench-report "))
    assert report["host"]["nproc"] >= 1
    assert all("unit" in v for v in report["end_to_end"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run(workload):
    code, lines = bench(workload, 1)
    assert code == 0
    out = result(lines)
    assert out["correct"]
    units = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == units
    assert out["metrics"]["trace.child_coverage_min"]["value"] >= 0.9
    report = json.loads(lines[-2].removeprefix("perfbench-report "))
    spans = json.load(open(os.path.join(ROOT, report["spans"])))["spans"]
    by_id = {s["sid"]: s for s in spans}
    children = [s for s in spans if s["parent"] is not None]
    assert children, "no span has a parent"
    for s in children:
        parent = by_id[s["parent"]]
        assert parent["op"] == s["op"]
        assert parent["start"] <= s["start"] <= s["end"] <= parent["end"]


def test_wrong_expected_value_counts_as_failed_op():
    code, lines = bench("etl_nightly", 0, "--perturb-check")
    assert code == 0
    out = result(lines)
    assert not out["correct"]
    assert out["failed"] == out["attempted"] >= 1


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, lines = bench(WORKLOADS[0], 0, cwd=str(tmp_path))
    assert code != 0
    assert not any(line.startswith("{") for line in lines)
