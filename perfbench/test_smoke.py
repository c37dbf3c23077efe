"""Smoke test: every workload end to end at a tiny size, in both modes.

    python3 -m pytest perfbench -q

Each case starts its own Spark JVM (about a minute each on 4 cores).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _run(workload: str, trace: int, extra=()):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.1", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_tiny(workload, trace, tmp_path):
    spans = tmp_path / "spans.json"
    result = _run(workload, trace, ["--spans-out", str(spans)] if trace else [])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = BENCH["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        if m["name"] != "trace.overhead_s":  # a difference of two timings
            assert got["value"] >= 0, m["name"]
        if not trace:
            assert got["value"] > 0, m["name"]
    if trace:
        rows = json.loads(spans.read_text())["spans"]
        assert any(r["timed"] for r in rows)
        assert result["metrics"]["engine.jobs"]["value"] > 0
        assert result["metrics"]["extract.bytes_to_python"]["value"] > 0


def test_refuses_without_package(tmp_path):
    """In a directory holding only the benchmark, the command fails fast and
    prints no result."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pipeline_dense", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60, env=env,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
