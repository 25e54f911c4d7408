"""Tiny-size runs of every workload through the real entry point.

Each run starts its own Spark session, so this module takes a few
minutes; it checks the result line against BENCHMARK.json.
"""

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
OWN_LAYERS = {
    "serve": ("serving.", "engine.", "embedder."),
    "index": ("ann.",),
    "curate": ("dedup.", "curation."),
}


def run(workload: str, trace: int, cwd: Path = ROOT, seed: int = 3):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", "2", "--trace", str(trace),
           "--size", "tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_prints_every_metric(workload, trace):
    proc = run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    if trace:
        assert metrics["trace.ops"] >= 1 and metrics["spark.jobs"] >= 1
        own = [k for k in metrics if k.startswith(OWN_LAYERS[workload])]
        assert own and all(metrics[k] > 0 for k in own if k.endswith("_ms")), metrics
    else:
        assert all(v > 0 for v in metrics.values()), metrics


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the run fails fast
    and prints no result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = run("serve", 0, cwd=tmp_path)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
