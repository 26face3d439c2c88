"""sf0.001 run of every workload, traced and untraced, through the CLI.

Slow (a JVM per run): ``python3 -m pytest perfbench/tests -q``.
"""

import json
import os
import subprocess
import sys

import pytest

import layers

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)


def _run(workload, trace):
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=False)
    lines = r.stdout.strip().splitlines()
    assert r.returncode == 0, r.stderr[-3000:]
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["marts", "curation"])
def test_smoke(workload, trace):
    context, result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, context["errors"]
    assert result["attempted"] >= context["ops_per_pass"]
    # every timed op started with no cached RDD left by an earlier op
    assert not [e for e in context["errors"] if "cached RDDs" in e]
    names = [n for n, *_ in (layers.PER_LAYER if trace
                             else layers.END_TO_END)]
    assert list(result["metrics"]) == names
    for name, m in result["metrics"].items():
        assert m["unit"] == layers.UNITS[name]
        assert m["value"] >= 0, name
        if not trace:
            assert m["value"] > 0, name
    if trace:
        assert os.path.exists(os.path.join(ROOT, context["spans"]))
        assert result["metrics"]["exec.jobs"]["value"] > 0
        assert result["metrics"]["trace.overhead_s"]["value"] > 0


def test_benchmark_json_matches_the_catalogue():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == ["marts", "curation"]
    assert [(m["name"], m["unit"], m["better"], m["bound"])
            for m in spec["end_to_end"]] == list(layers.END_TO_END)
    assert [(m["name"], m["unit"], m["better"])
            for m in spec["per_layer"]] == [
        (n, u, b) for n, u, b, *_ in layers.PER_LAYER]


def test_fails_without_the_engine(tmp_path):
    """In a tree holding only the benchmark, the run exits non-zero
    without printing a result."""
    import shutil
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "marts",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
        check=False)
    assert r.returncode != 0
    assert r.stdout.strip() == ""
