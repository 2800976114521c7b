"""Tiny-size end-to-end runs of every workload (each starts Spark once)."""

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _run(cwd, workload, trace, seed=1):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--scale", "0.05"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(proc):
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]] + ["serve_hot"])
def test_workload_runs_correctly_and_reports_every_end_to_end_metric(workload):
    r = _result(_run(ROOT, workload, 0))
    assert set(r) == {"correct", "attempted", "failed", "metrics"}
    assert r["correct"] is True and r["failed"] == 0 and r["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in r["metrics"].items()} == want
    assert all(v["value"] > 0 for v in r["metrics"].values())


def test_traced_run_reports_every_per_layer_metric():
    r = _result(_run(ROOT, "serve_hot", 1))
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in r["metrics"].items()} == want
    m = {k: v["value"] for k, v in r["metrics"].items()}
    assert m["store.latest_version_calls"] == 1 and m["store.serve_jobs"] >= 1
    assert m["cache.hit_ratio"] == 1.0


def test_curate_stage_counts_repeat_for_a_seed():
    def counts():
        out = _run(ROOT, "curate", 0, seed=3).stdout
        return [line for line in out.splitlines() if "curate stage counts" in line]

    first = counts()
    assert first and first == counts()


def test_fails_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run(str(tmp_path), "serve_hot", 0)
    assert proc.returncode != 0
    assert not proc.stdout.strip()
