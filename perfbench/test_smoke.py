"""Smoke test of the benchmark itself, at tiny sizes (a few minutes).

    python3 -m pytest perfbench/test_smoke.py -q

Checks that each workload prints every metric BENCHMARK.json names, with
its unit and sample count, that the oracle check passes on the seed, that
a planted wrong top-k is counted as an error, and that the runner refuses
to produce a result where the engine is missing.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LINE = re.compile(r"^(\S+)\s+(-?[0-9.]+)\s+(\S+)\s+n=(\d+)$")

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(workload: str, trace: int = 0, *extra: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "2", "--trace", str(trace), "--tiny", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def parse(out: subprocess.CompletedProcess) -> tuple[dict[str, tuple[float, str, int]], dict]:
    assert out.returncode == 0, out.stderr
    lines = out.stdout.strip().splitlines()
    table = {}
    for line in lines[:-1]:
        m = LINE.match(line)
        if m:
            table[m[1]] = (float(m[2]), m[3], int(m[4]))
    return table, json.loads(lines[-1])


def check_metrics(table: dict, result: dict, names: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert set(result["metrics"]) == {m["name"] for m in names}
    for m in names:
        value, unit, n = table[m["name"]]
        assert unit == m["unit"] == result["metrics"][m["name"]]["unit"]
        assert value == pytest.approx(result["metrics"][m["name"]]["value"], rel=1e-5, abs=1e-6)
        assert n >= 1, m["name"]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_end_to_end_metric_and_no_errors(workload):
    table, result = parse(run(workload))
    check_metrics(table, result, SPEC["end_to_end"])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert table["error_frac"][0] == 0.0


def test_traced_run_prints_every_per_layer_metric():
    table, result = parse(run("serve-repeat", 1))
    check_metrics(table, result, SPEC["per_layer"])
    assert result["correct"]


def test_planted_wrong_topk_raises_error_frac():
    table, result = parse(run("serve-repeat", 0, "--plant-wrong"))
    assert not result["correct"] and result["failed"] == 1
    assert table["error_frac"][0] > 0


def test_refuses_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("out", "__pycache__"))
    out = run("serve-repeat", cwd=str(tmp_path))
    assert out.returncode != 0
    assert out.stdout.strip() == ""
