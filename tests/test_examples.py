"""The end-to-end pipeline demo must run clean — it is the
user-facing composition of the catalog operators."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF), reason="driver testdata not present"
)


def _run(script: str) -> str:
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "examples", script), SF],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=REPO,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return out.stdout


def test_geospatial_pipeline_runs(spark):
    stdout = _run("geospatial_pipeline.py")
    assert "docs per polygon" in stdout and "committed snapshot" in stdout

