"""The benchmark's own tests: tiny smoke runs of every workload.

Run from the repository root with ``python3 -m pytest perfbench -q``. Each
run checks that every metric BENCHMARK.json names is printed with its unit,
that the traced run writes spans in the pinned schema, and that the
benchmark refuses to run without the engine next to it.
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
sys.path.insert(0, HERE)

from spans import SPAN_KEYS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
SEED = 3


def run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


def results(proc: subprocess.CompletedProcess) -> tuple[dict, dict]:
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def check_result(result: dict, metrics: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in metrics}
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_traced_run_reports_every_layer_metric(workload):
    report, result = results(run(workload, trace=1))
    check_result(result, BENCH["per_layer"])
    assert report["failed_ratio"] == 0 and report["trace_overhead_s"] > 0
    assert set(report["figures"]) >= {m["name"] for m in BENCH["end_to_end"]}

    with open(os.path.join(HERE, "_out", f"trace-{workload}-{SEED}.jsonl")) as f:
        spans = [json.loads(line) for line in f]
    assert spans
    for i, span in enumerate(spans):
        assert tuple(span) == SPAN_KEYS
        assert span["run_id"] == f"{workload}-{SEED}"
        assert span["start"] <= span["end"] and span["self_s"] >= 0
        assert span["parent"] is None or 0 <= span["parent"] < i
    layers = {s["name"] for s in spans if s["parent"] is not None}
    if workload == "market_day":
        assert layers == {"flows.ingest_raw", "flows.transform", "quality",
                          "streaming.pipeline", "vault_incremental"}
    else:
        assert all(name.startswith("plans.") for name in layers)
        assert result["metrics"]["plans.relational.jobs"]["value"] > 0


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_untraced_run_reports_every_end_to_end_metric(workload):
    _, result = results(run(workload, trace=0))
    check_result(result, BENCH["end_to_end"])
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "_out", "__pycache__"))
    proc = run(BENCH["workloads"][0]["name"], trace=0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
