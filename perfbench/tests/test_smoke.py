"""End-to-end smoke runs of the benchmark at sf0.001 (about a minute
per workload): ``python3 -m pytest perfbench/tests/test_smoke.py``."""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench import run
from perfbench.workloads import WORKLOADS, build_ops

REPO = Path(__file__).resolve().parents[2]


def _run(cwd: Path, workload: str, trace: int, scale: str = "sf0.001"):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", scale],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, proc.stderr[-3000:]
    return out


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_reports_every_layer_metric_per_operation(workload):
    out = _result(_run(REPO, workload, trace=1))
    assert list(out["metrics"]) == list(run.PER_LAYER)
    trace = REPO / ".perfbench" / f"trace-{workload}-seed3.jsonl"
    records = [json.loads(line) for line in trace.read_text().splitlines()]
    ops = [r for r in records if "op" in r]
    assert len([r for r in ops if r["pass"] == "cold"]) == len(build_ops(workload, None))
    assert all(set(r["layers"]) == set(run.OP_LAYER_METRICS) for r in ops)
    assert any(r.get("span") == "op" for r in records)


def test_timed_run_reports_every_end_to_end_metric():
    proc = _run(REPO, "relational", trace=0)
    out = _result(proc)
    assert {k: v["unit"] for k, v in out["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in out["metrics"].values())
    env = json.loads(proc.stdout.strip().splitlines()[-2])["env"]
    assert env["nproc"] >= 1 and env["fixture"]["path"] == "perfbench/fixtures/sf0.001"


def test_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/ the
    benchmark exits non-zero and prints no result."""
    shutil.copy(REPO / "BENCHMARK.json", tmp_path)
    shutil.copytree(REPO / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(tmp_path, "relational", trace=0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
