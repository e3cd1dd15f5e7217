"""Tests of the benchmark itself, on small inputs.

Run from the repository root (each test starts its own Spark JVM, so the
file takes a few minutes)::

    python3 -m pytest pipeline_bench/tests -q
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)


def run(workload: str, trace: int, cwd: str = ROOT, seed: int = 3):
    return subprocess.run(
        [sys.executable, os.path.join("pipeline_bench", "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", "1", "--trace",
         str(trace), "--small"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def result(workload: str, trace: int) -> dict:
    res = run(workload, trace)
    assert res.returncode == 0, res.stderr[-3000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    return out


def declared(kind: str) -> set[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)[kind]}


@pytest.mark.parametrize("workload", ["backfill", "tail", "report"])
def test_smoke(workload):
    metrics = result(workload, 0)["metrics"]
    assert set(metrics) == declared("end_to_end")
    assert all(m["value"] > 0 for m in metrics.values())


def test_backfill_traced_parse_passes():
    """run_resumable re-executes the routed plan for lineage_stats, so the
    parse UDF sees every input turn exactly twice: the event-log counter
    must read 2.0, or it does not measure what it claims."""
    metrics = result("backfill", 1)["metrics"]
    assert set(metrics) == declared("per_layer")
    assert metrics["operators.parse.passes"]["value"] == 2.0
    assert metrics["scaling.n"]["value"] >= 1
    assert metrics["scaling.4n"]["value"] == 4 * metrics["scaling.n"]["value"]
    assert 0 < metrics["scaling_eff"]["value"] <= 1.25


def test_report_traced_table():
    metrics = result("report", 1)["metrics"]
    assert set(metrics) == declared("per_layer")
    assert metrics["operators.parse.udf_rows"]["value"] == 0
    assert metrics["operators.aggregate.s"]["value"] > 0
    assert metrics["operators.order.s"]["value"] > 0


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the command exits
    non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "pipeline_bench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    res = run("backfill", 0, cwd=str(tmp_path))
    assert res.returncode != 0
    assert '"correct"' not in res.stdout
