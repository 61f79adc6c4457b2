"""Self-test of the benchmark.

    python3 -m pytest perfbench/test_perfbench.py -q

Every workload runs once at tiny scale (sf0.001, 1k cards, one timed
pass), untraced and traced; the last stdout line must name every
metric ``BENCHMARK.json`` lists, with its unit.  A copy of the benchmark
without the engine beside it must fail without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SPEC_PATH = os.path.join(REPO, "BENCHMARK.json")
with open(SPEC_PATH, encoding="utf-8") as _fh:
    SPEC = json.load(_fh)

sys.path.insert(0, HERE)
from run import WORKLOADS  # noqa: E402


def _run(cwd: str, workload: str, trace: int, *extra: str) -> subprocess.CompletedProcess:
    cmd = [*SPEC["command"], f"--workload={workload}", "--seed=7", "--seconds=1", f"--trace={trace}"]
    return subprocess.run(
        [sys.executable if c == "python3" else c for c in cmd] + list(extra),
        cwd=cwd, capture_output=True, text=True, timeout=400,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_reports_every_metric(workload, trace):
    proc = _run(REPO, workload, trace, "--scale=tiny")
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    got = {name: m["unit"] for name, m in result["metrics"].items()}
    assert got == want
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
    if trace:
        with open(os.path.join(HERE, "results", f"trace-{workload}.json"), encoding="utf-8") as fh:
            record = json.load(fh)
        assert record["per_op_kind"] and "steal_share" in record["host"]


def test_fails_without_the_engine(tmp_path):
    shutil.copy(SPEC_PATH, tmp_path / "BENCHMARK.json")
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "results"))
    proc = _run(str(tmp_path), WORKLOADS[0], 0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
