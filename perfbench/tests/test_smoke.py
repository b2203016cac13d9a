"""Smoke test of the benchmark at a tiny input size.

    python3 -m pytest perfbench/tests -q

Each workload runs once with its checks on; a deliberately corrupted
output must be reported as a failed operation; the traced mode must print
every per-layer metric; and without the program beside it the benchmark
must fail without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("extract_mixed", "resume_text", "corpus_dedup")

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
with open(os.path.join(BENCH, "layers.json")) as f:
    LAYERS = json.load(f)


def run(*extra: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--seed", "3",
           "--seconds", "1", "--scale", "0.05", *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.splitlines()


def result(lines: list[str]) -> dict:
    out = json.loads(lines[-1])
    assert sorted(out) == ["attempted", "correct", "failed", "metrics"]
    return out


@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_runs_checked(workload):
    rc, lines = run("--workload", workload, "--trace", "0")
    assert rc == 0
    out = result(lines)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 4
    assert sorted(out["metrics"]) == sorted(m["name"] for m in SPEC["end_to_end"])
    assert all(m["value"] > 0 for m in out["metrics"].values())
    record = json.loads(lines[-2])
    for switch, side in record["switches"].items():
        declared = LAYERS["switches"][switch][workload]
        assert side.split(" (")[0] == declared.split(" (")[0], (switch, side, declared)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_output_is_a_failed_operation(workload):
    rc, lines = run("--workload", workload, "--trace", "0", "--corrupt")
    assert rc == 0
    out = result(lines)
    assert not out["correct"]
    assert out["failed"] >= 1


def test_traced_mode_prints_every_per_layer_metric():
    rc, lines = run("--workload", "extract_mixed", "--trace", "1")
    assert rc == 0
    out = result(lines)
    assert out["correct"], json.loads(lines[-2])["problems"]  # replay == extract_turn
    assert sorted(out["metrics"]) == sorted(m["name"] for m in SPEC["per_layer"])
    for m in SPEC["per_layer"]:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
    assert out["metrics"]["kernels.turns"]["value"] > 0


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    rc, lines = run("--workload", "extract_mixed", "--trace", "0", cwd=str(tmp_path))
    assert rc != 0
    assert not any(line.startswith("{") for line in lines)
