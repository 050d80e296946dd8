"""Smoke test of the benchmark: every workload at a tiny size, untraced
and traced, with every printed metric name and unit matching
``BENCHMARK.json``. Takes a few minutes; run from the repository root:

    python -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_smoke_every_workload_matches_benchmark_json():
    out = subprocess.run([sys.executable, "perfbench/run.py", "--smoke"],
                         cwd=ROOT, capture_output=True, text=True)
    assert out.returncode == 0, out.stdout + out.stderr[-3000:]


def test_refuses_to_run_without_the_engine(tmp_path):
    """Outside a checkout of the engine the command fails without a result."""
    out = subprocess.run([sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
                          "--workload", "catalog_batch", "--seed", "1",
                          "--seconds", "1", "--trace", "0"],
                         cwd=tmp_path, capture_output=True, text=True)
    assert out.returncode != 0 and out.stdout.strip() == ""
