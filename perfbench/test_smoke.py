"""Smoke test of the benchmark: every workload at a tiny input size.

    python3 -m pytest perfbench/test_smoke.py -q

Each workload runs untraced and traced with ``--size smoke``. Every metric
named in BENCHMARK.json must print with its unit, the traced run must show
each workload using the layers it was chosen for, and a deliberately wrong
expectation must show up as failed operations. The whole file takes a few
minutes, most of it Spark start-up.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
# batch_rules is not in BENCHMARK.json, but stays runnable and tested
WORKLOADS = ["batch_rules"] + [w["name"] for w in BENCH["workloads"]]


def run(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "2", "--trace", str(trace), "--size", "smoke", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@functools.cache
def result(workload: str, trace: int, *extra: str) -> dict:
    out = run(workload, trace, *extra)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_prints_with_its_unit(workload, trace):
    res = result(workload, trace)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    declared = BENCH["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }


def test_traced_run_shows_the_layers_each_workload_stresses():
    rules = result("batch_rules", 1)["metrics"]
    audio = result("batch_audio_resume", 1)["metrics"]
    stream = result("stream_ingest", 1)["metrics"]
    for layer in ("operators.audio", "operators.qc"):
        assert audio[f"{layer}.python_cpu_s"]["value"] > 0
        assert rules[f"{layer}.python_cpu_s"]["value"] == 0
    # the plan cache hits on batch_rules and misses on every other operation
    assert rules["plans.compile.calls_per_op"]["value"] == 0
    assert audio["plans.compile.calls_per_op"]["value"] == 1
    assert stream["plans.compile.calls_per_op"]["value"] == 1
    assert rules["plans.compile.exec_s"]["value"] > 0
    assert audio["checkpoint.manifest_files"]["value"] == 2
    assert rules["checkpoint.manifest_files"]["value"] == 0
    assert rules["checkpoint.commit_s"]["value"] == 0
    assert stream["streaming.compactions"]["value"] >= 3


@pytest.mark.parametrize("workload", WORKLOADS)
def test_wrong_expectation_counts_as_failed(workload):
    res = result(workload, 0, "--wrong-expectation")
    assert not res["correct"]
    assert res["failed"] == res["attempted"] >= 1
    assert res["metrics"]["success_rate"]["value"] == 0


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = run("batch_rules", 0, cwd=str(tmp_path))
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
