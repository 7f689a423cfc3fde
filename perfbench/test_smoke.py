"""Smoke test of the benchmark itself: tiny inputs, one pass per workload.

    python3 -m pytest perfbench/test_smoke.py -q

Each run starts from a scratch working directory outside the checkout,
so the benchmark must find the program on its own.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join(ROOT, "perfbench", "run.py")
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    CONTRACT = json.load(fh)
WORKLOADS = [w["name"] for w in CONTRACT["workloads"]]


def _run(cwd, workload: str, *extra: str, runner: str = RUN):
    p = subprocess.run(
        [sys.executable, runner, "--workload", workload, "--seed", "7",
         "--seconds", "1", "--smoke", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    return p


def _result(p) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", ["0", "1"])
def test_every_metric_printed_with_unit(tmp_path, workload, trace):
    res = _result(_run(tmp_path, workload, "--trace", trace))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0, res
    assert res["attempted"] >= 1
    declared = CONTRACT["per_layer" if trace == "1" else "end_to_end"]
    assert list(res["metrics"]) == [m["name"] for m in declared]
    for m in declared:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
        if trace == "0":
            assert got["value"] > 0, m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_output_is_a_failed_op(tmp_path, workload):
    res = _result(_run(tmp_path, workload, "--trace", "0", "--corrupt"))
    assert res["failed"] >= 1 and res["correct"] is False, res


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, WORKLOADS[0], "--trace", "0",
             runner=str(tmp_path / "perfbench" / "run.py"))
    assert p.returncode != 0
    assert not p.stdout.strip()
