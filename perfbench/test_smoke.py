"""Smoke tests of the benchmark itself, at the tiny ``--size smoke``:

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run_bench(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def smoke(workload: str, trace: int) -> dict:
    p = run_bench(
        ROOT, "--workload", workload, "--seed", "1", "--seconds", "1",
        "--trace", str(trace), "--size", "smoke",
    )
    assert p.returncode == 0, p.stderr[-2000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def assert_result(res: dict, spec_key: str) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC[spec_key]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_untraced_run_prints_every_end_to_end_metric(workload):
    res = smoke(workload, 0)
    assert_result(res, "end_to_end")
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_traced_run_prints_every_per_layer_metric():
    assert_result(smoke(SPEC["workloads"][0]["name"], 1), "per_layer")


def test_runner_spec_matches_benchmark_json():
    sys.path.insert(0, str(ROOT))
    from perfbench import run

    def names(rows):
        return [(m["name"], m["unit"], m["better"]) for m in rows]

    assert [(n, u, b) for n, u, b in run.END_TO_END] == names(SPEC["end_to_end"])
    assert run.per_layer_spec() == names(SPEC["per_layer"])
    assert SPEC["command"] == ["python3", "perfbench/run.py"]


def test_fails_without_the_engine(tmp_path):
    """Next to nothing but the benchmark, the run must fail fast and
    print no result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = run_bench(tmp_path, "--workload", SPEC["workloads"][0]["name"],
                  "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
