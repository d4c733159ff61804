"""Fast self-check of the benchmark itself (about five minutes on 4 cores).

    python3 -m pytest perfbench/test_selfcheck.py -q -p no:cacheprovider

Runs each workload at sf0.001: once untraced with one expected answer
deliberately falsified, which must be reported as a failed operation, and
once traced and clean.  Both runs must emit every metric BENCHMARK.json
names, with its unit.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)

# one operation per workload whose oracle answer the check falsifies
WRONG = {"star_sql": "q06_forecast_revenue", "nightly_etl": "dw.v_revenue_by_nation"}


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
           "--workload", workload, "--seed", "1", "--seconds", "1",
           "--trace", str(trace), "--sf", "0.001", *extra]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def assert_metrics(line: dict, declared: list) -> None:
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in line["metrics"].items()}
    assert got == want
    for name, value in line["metrics"].items():
        assert isinstance(value["value"], (int, float)), name


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_wrong_answer_counts_as_failure(workload):
    line = run(workload, 0, "--corrupt-expected", WRONG[workload])
    assert_metrics(line, BENCH["end_to_end"])
    assert line["correct"] is False
    assert line["failed"] >= 1


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_traced_run_is_correct_and_attributed(workload):
    line = run(workload, 1)
    assert_metrics(line, BENCH["per_layer"])
    assert line["correct"] is True and line["failed"] == 0
    metrics = line["metrics"]
    assert metrics["error_rate"]["value"] == 0
    for phase in ("cold", "warm"):
        assert metrics[f"{phase}.trace.coverage"]["value"] >= 0.95


def test_fails_without_the_package(tmp_path):
    """In a directory holding only the benchmark, the run must fail."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "star_sql",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
