"""Smoke tests of the benchmark at tiny input sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Every workload runs untraced and traced, every output check passes, and every
metric named in BENCHMARK.json is printed with its unit.  Each run starts its
own Spark driver, so the module takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = BENCH["command"] + [
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--scale", "tiny",
    ]
    cmd[0] = sys.executable if cmd[0] == "python3" else cmd[0]
    return subprocess.run(
        cmd, cwd=cwd, capture_output=True, text=True, timeout=600
    )


def _expect(section: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in BENCH[section]}


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_workload_untraced_then_traced(workload):
    for trace, section in ((0, "end_to_end"), (1, "per_layer")):
        proc = _run(ROOT, workload, trace)
        assert proc.returncode == 0, proc.stderr[-2000:]
        line = json.loads(proc.stdout.strip().splitlines()[-1])
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert line["correct"] is True and line["failed"] == 0
        assert line["attempted"] >= 1
        got = {k: v["unit"] for k, v in line["metrics"].items()}
        assert got == _expect(section)
        assert all(
            isinstance(v["value"], (int, float)) for v in line["metrics"].values()
        )
        if trace == 0:
            assert all(v["value"] > 0 for v in line["metrics"].values())


def test_fails_without_the_package(tmp_path):
    """In a directory holding only the benchmark, the command exits non-zero
    and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in BENCH["paths"]:
        shutil.copytree(
            os.path.join(ROOT, p), tmp_path / p,
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    proc = _run(str(tmp_path), BENCH["workloads"][0]["name"], 0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
