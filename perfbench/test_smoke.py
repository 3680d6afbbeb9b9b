"""Tiny-size smoke run of every workload in both modes: the result line
has exactly the contract's keys, the checks pass, and every metric that
BENCHMARK.json names for the mode is emitted with its unit.

    python3 -m pytest perfbench/test_smoke.py -q   # ~5 min, starts Spark 4x
"""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_tiny_run_emits_every_metric(workload, trace):
    proc = subprocess.run(
        [*BENCH["command"], "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    want = BENCH["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


def test_refuses_to_run_without_the_program(tmp_path):
    """Outside a checkout of the program the benchmark fails fast."""
    bench_dir = os.path.join(ROOT, "perfbench")
    dst = tmp_path / "perfbench"
    dst.mkdir()
    for name in os.listdir(bench_dir):
        if name.endswith(".py"):
            (dst / name).write_text(open(os.path.join(bench_dir, name)).read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload",
         BENCH["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
         "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
