"""The benchmark's own test: every workload in both modes at smoke
sizes, checking the output contract, the report of a run whose every
operation fails, and the refusal to run without the program.  Takes
about four minutes on 4 cores::

    python3 -m pytest perfbench/test_smoke.py -q
"""
from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
LISTED = [w["name"] for w in SPEC["workloads"]]


def _run(cwd, workload, trace, *extra):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--smoke",
         *extra], cwd=cwd, capture_output=True, text=True, timeout=400)


@pytest.mark.parametrize("workload,trace",
                         [(w, t) for w in LISTED for t in (0, 1)])
def test_smoke(workload, trace):
    out = _run(ROOT, workload, trace)
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert ({k: v["unit"] for k, v in res["metrics"].items()}
            == {m["name"]: m["unit"] for m in spec})
    if trace:
        with open(os.path.join(BENCH_DIR, ".work",
                               f"trace-{workload}-s1.json")) as f:
            spans = json.load(f)["spans"]
        assert spans and all(
            {"name", "start", "end", "parent", "run_id", "spark"} <= set(s)
            for s in spans)
    else:
        assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", LISTED)
def test_every_operation_failing_is_reported(workload):
    out = _run(ROOT, workload, 0, "--fail")
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["correct"] is False
    assert res["attempted"] >= 1 and res["failed"] == res["attempted"]
    assert set(res["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}


def test_refuses_without_program():
    bare = os.path.join(BENCH_DIR, ".work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(os.path.join(bare, "perfbench"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for name in os.listdir(BENCH_DIR):
        if name.endswith(".py"):
            shutil.copy(os.path.join(BENCH_DIR, name),
                        os.path.join(bare, "perfbench"))
    out = _run(bare, LISTED[0], 0)
    shutil.rmtree(bare)
    assert out.returncode != 0
    assert not out.stdout.strip()
