"""Smoke tests of the benchmark: both workloads at the tiny size, traced
and untraced, with all their correctness checks (the traced lookup run
includes the sweep of registered queries), plus the refusal outside a
checkout of the program.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from spans import union_length  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=240,
    )


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", ["lookup", "revise"])
def test_workload_smoke(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", trace, "--size", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    stamp, result = (json.loads(line) for line in p.stdout.strip().splitlines()[-2:])
    assert stamp["stamp"]["seed"] == 3 and stamp["stamp"]["nproc"] >= 1
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    spec = _spec()["end_to_end" if trace == "0" else "per_layer"]
    assert list(result["metrics"]) == [m["name"] for m in spec]
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and math.isfinite(got["value"])
        if trace == "0":
            assert got["value"] > 0, m["name"]
    if trace == "1":
        sweep = result["metrics"]["sweep.s"]["value"]
        assert (sweep > 0) == (workload == "lookup")
        with open(os.path.join(ROOT, ".perfbench_out", f"trace-{workload}-seed3.json")) as f:
            spans = json.load(f)["spans"]
        assert spans and all({"name", "start", "end", "parent", "op"} <= set(s) for s in spans)


def test_refuses_without_the_program():
    scratch = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    bare = tempfile.mkdtemp(dir=scratch)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = _run(bare, "--workload", "lookup", "--seed", "1", "--seconds", "1",
                 "--trace", "0")
    finally:
        shutil.rmtree(bare)
        if not os.listdir(scratch):
            os.rmdir(scratch)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_union_length():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(0, 2), (1, 3)], 1.5, 2.5) == 1.0
    assert union_length([], 0, 1) == 0
