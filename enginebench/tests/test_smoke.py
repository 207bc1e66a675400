"""One warm-up pass plus one timed pass of each workload on tiny
inputs, end to end through the CLI; every scratch directory the run
made must be gone afterwards."""

import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

from enginebench import run

ROOT = run.ROOT


def _leftovers() -> set:
    tmp = tempfile.gettempdir()
    return set(glob.glob(os.path.join(ROOT, ".enginebench", "run-*"))) | set(
        glob.glob(os.path.join(tmp, "spark990_*")) + glob.glob(os.path.join(tmp, "blockmgr-*"))
    )


def _run(workload: str, trace: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, "enginebench/run.py", "--workload", workload, "--seed", "11",
         "--seconds", "0", "--trace", str(trace), "--small"],
        cwd=cwd, capture_output=True, text=True, timeout=400,
    )


@pytest.mark.parametrize("workload,trace", [
    ("etl_corpus", 0), ("lakehouse_cdc", 0), ("lakehouse_cdc", 1),
])
def test_one_pass_is_correct_and_cleans_up(workload, trace):
    before = _leftovers()
    p = _run(workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, p.stderr[-3000:]
    assert result["attempted"] >= 2
    want = run.per_layer_metrics() if trace else run.end_to_end_metrics()
    assert {k: v["unit"] for k, v in result["metrics"].items()} == dict(want)
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    assert _leftovers() <= before


def test_refuses_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "enginebench"), tmp_path / "enginebench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = _run("etl_corpus", 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_benchmark_json_lists_the_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.end_to_end_metrics()
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.per_layer_metrics()
    assert len(spec["per_layer"]) <= 128
    assert {w["name"] for w in spec["workloads"]} == {"etl_corpus", "lakehouse_cdc"}
