"""Self-test of the benchmark: every workload once at sf0.01, untraced
and traced, through the same command the benchmark is run with.

    python3 -m pytest perfbench/tests -q

It checks the printed result against ``BENCHMARK.json`` (every metric
name and unit), that the output checks passed, and that the traced
spans nest. It takes a few minutes: each run starts its own Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SPEC = json.loads(Path(ROOT, "BENCHMARK.json").read_text())


def _run(workload: str, trace: int, cwd: str = ROOT, seed: int = 5) -> subprocess.CompletedProcess:
    return subprocess.run(
        [*SPEC["command"], "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=180,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_runs_checks_and_reports(workload, trace):
    proc = _run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, proc.stderr[-3000:]
    assert result["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in want}
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())

    info = json.loads(lines[-2])
    assert info["host"]["nproc"] >= 1 and info["host"]["defaultParallelism"] >= 1
    report = json.loads(Path(info["report"]).read_text())
    spans = {s["id"]: s for s in report["spans"]}
    for s in spans.values():
        assert s["start"] <= s["end"], s
        if s["parent"] is not None:
            parent = spans[s["parent"]]
            assert parent["start"] <= s["start"] and s["end"] <= parent["end"], (s, parent)
    if trace:
        names = {s["name"] for s in spans.values()}
        assert "traced" in names and "session.get_spark" in names
        if workload.startswith("cdc"):
            assert result["metrics"]["streaming.triggers"]["value"] == 20
            assert result["metrics"]["spark.jobs"]["value"] > 0


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(
            os.path.join(ROOT, path), tmp_path / path,
            ignore=shutil.ignore_patterns("_work", "__pycache__"),
        )
    proc = _run(SPEC["workloads"][0]["name"], 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
