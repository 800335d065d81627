"""BENCHMARK.json must describe what run.py prints (run:
python -m pytest perfbench)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from queries import QUERIES  # noqa: E402
from result import END_TO_END, per_layer  # noqa: E402
from run import WORKLOADS  # noqa: E402


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metrics_match_the_runner():
    bench = _bench()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == per_layer(
        QUERIES
    )
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the command exits
    nonzero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__")
    )
    bench = _bench()
    p = subprocess.run(
        bench["command"]
        + ["--workload", bench["workloads"][0]["name"], "--seed", "1",
           "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
