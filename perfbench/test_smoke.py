"""Smoke test of the benchmark at toy size.

    python3 -m pytest perfbench/test_smoke.py -q

Each run case starts its own Spark JVM, so a case takes tens of
seconds; the whole file takes a few minutes on four cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "3", "--size", "toy", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def _units(result: dict) -> dict:
    return {k: v["unit"] for k, v in result["metrics"].items()}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_output_counts_as_failed(workload):
    r = _result(_run("--workload", workload, "--seconds", "1", "--trace", "0",
                     "--corrupt-op", "0"))
    assert _units(r) == {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert all(v["value"] > 0 for v in r["metrics"].values())
    assert r["failed"] >= 1 and r["attempted"] >= 1, r
    assert r["correct"] is False


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_checks_pass_and_every_layer_prints(workload):
    r = _result(_run("--workload", workload, "--seconds", "1", "--trace", "1"))
    assert r["correct"] is True and r["failed"] == 0
    assert _units(r) == {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    # Event-log attribution reached the spans.
    assert r["metrics"]["spatial.pip_index.join.task_s"]["value"] > 0
    assert r["metrics"]["operators.assembly.task_s"]["value"] > 0


def test_later_runs_load_the_index_the_first_built():
    for _ in range(2):  # the first run builds the cache unless one exists
        p = _run("--workload", WORKLOADS[0], "--seconds", "1", "--trace", "0")
        r = _result(p)
    context = json.loads(p.stdout.strip().splitlines()[-2][len("context "):])
    assert "index_cached" in context["setup_phases_s"]
    assert r["correct"] is True and r["failed"] == 0


def test_tile_pins_match_the_catalyst_join():
    p = subprocess.run(
        [sys.executable, "perfbench/pin.py", "--size", "toy", "--check",
         "--windows", "3"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stdout + p.stderr[-4000:]


def test_fails_without_the_program():
    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        p = _run("--workload", WORKLOADS[0], "--seconds", "1", "--trace", "0",
                 cwd=bare)
        assert p.returncode != 0
        assert '"correct"' not in p.stdout
    finally:
        shutil.rmtree(bare)


def test_tail_needs_ten_samples_beyond_it():
    sys.path.insert(0, ROOT)
    from perfbench.run import tail

    assert tail([1.0] * 19)["op_tail_s"] is None
    assert tail([float(i) for i in range(20)])["op_tail_pct"] == 50
    t = tail([float(i) for i in range(100)])
    assert (t["op_tail_pct"], t["op_tail_s"]) == (90, 89.0)


def test_loop_ends_cleanly_when_inputs_run_out():
    sys.path.insert(0, ROOT)
    from perfbench.run import closed_loop

    def op(i, corrupt=False):
        if i == 3:
            raise StopIteration
        return i

    r = closed_loop(op, lambda out: (True, 1), seconds=60)
    assert [x["ok"] for x in r] == [True] * 3
