"""Smoke tests for the benchmark: each workload at its smallest size.

    python3 -m pytest perfbench/test_smoke.py -q

Every run must check its answers (correct, nothing failed) and print exactly
the metrics BENCHMARK.json declares, with their units. Each run is a fresh
process with its own Spark session, as the benchmark is run; at the smoke
size a run is dominated by JVM start and first-job compilation.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=300, check=False,
    )


def _last_json(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_smoke_run(workload):
    proc = _run(workload, trace=1)
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = _last_json(proc.stdout)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, proc.stderr[-3000:]
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    named = json.loads(proc.stdout.strip().splitlines()[-2])["named"]
    assert {"setup_s", "error_rate", "peak_rss_mb"} <= set(named)
    assert all(set(v) >= {"value", "unit"} for v in named.values())
    path = proc.stderr.split("result file: ")[1].split()[0]
    with open(path) as f:
        rec = json.load(f)
    assert rec["identity"]["seed"] == 1 and rec["identity"]["nonce"] in path
    with open(path.replace(".result.json", ".trace.json")) as f:
        spans = json.load(f)["spans"]
    assert spans and all({"name", "start", "end", "parent", "rid"} <= set(s) for s in spans)


def test_untraced_run_prints_end_to_end_metrics():
    proc = _run("ingest_daily", trace=0)
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = _last_json(proc.stdout)
    assert res["correct"], proc.stderr[-3000:]
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    got = res["metrics"]
    assert {k: v["unit"] for k, v in got.items()} == want
    assert all(v["value"] > 0 for v in got.values())


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    proc = _run("ingest_daily", trace=0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert not proc.stdout.strip()
