"""Tests for the repository benchmark: each workload runs at a tiny size
through the same command the benchmark is driven with, and a corrupted
output is reported as a failed check, not as a timing.

    python3 -m pytest perfbench/test_run.py -q

Each Spark run takes about a minute on four cores.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
BENCHMARK = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload: str, *extra: str, cwd: Path = ROOT, trace: int = 0):
    proc = subprocess.run(
        [*BENCHMARK["command"], "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), *extra],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    return proc


def result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    return out


def check_metrics(out: dict, declared: list[dict]) -> None:
    assert set(out["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))


@pytest.mark.parametrize("workload", [w["name"] for w in BENCHMARK["workloads"]])
def test_tiny_run_is_correct_and_reports_every_layer_metric(workload):
    out = result(run(workload, "--scale", "tiny", trace=1))
    assert out["correct"] is True
    assert out["failed"] == 0 and out["attempted"] >= 1
    check_metrics(out, BENCHMARK["per_layer"])


@pytest.mark.parametrize("workload", [w["name"] for w in BENCHMARK["workloads"]])
def test_corrupted_output_is_a_failure_not_a_timing(workload):
    # crawl_polite drops one committed url_seen row; queries_headline
    # alters one value of one query's result
    out = result(run(workload, "--scale", "tiny", "--inject-fault"))
    assert out["correct"] is False
    assert out["failed"] >= 1
    check_metrics(out, BENCHMARK["end_to_end"])
    assert all(m["value"] > 0 for m in out["metrics"].values())


def test_refuses_to_run_without_the_engine(tmp_path):
    """Only BENCHMARK.json and the benchmark's own directory: the command
    must fail without printing a result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    for p in BENCHMARK["paths"]:
        shutil.copytree(ROOT / p, tmp_path / p, ignore=shutil.ignore_patterns("__pycache__"))
    proc = run(BENCHMARK["workloads"][0]["name"], cwd=tmp_path)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
